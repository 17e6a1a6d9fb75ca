"""Deduplication operators for a large-scale training-data pipeline: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — each with a deterministic hash
contract shared by the numpy kernels, the JVM SQL path, and the DuckDB
oracle (FNV-1a over codepoints + splitmix64, the same stable-hash discipline
as the reference's partition contract, partition.rs:13-45).

Scale shape (100 TB): signatures are one narrow Arrow pass (no shuffle);
LSH banding turns all-pairs comparison into an equi-join on (band, band
signature); only in-bucket candidate pairs pay the exact-verify cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from routers_spark.functions.hashing import mix_np

FNV_OFFSET = np.uint64(0xCBF29CE484222325)
FNV_PRIME = np.uint64(0x00000100000001B3)
GOLDEN = np.uint64(0x9E3779B97F4A7C15)

DEFAULT_SHINGLE_K = 5
DEFAULT_N_HASHES = 8


def seed_of(i: int) -> np.uint64:
    """Seed for hash family member i: splitmix of (i+1)*GOLDEN — the
    splitmix64 stream's own seeding recipe."""
    with np.errstate(over="ignore"):
        return mix_np(np.uint64((i + 1)) * GOLDEN)


def shingle_hashes(text: str, k: int = DEFAULT_SHINGLE_K) -> np.ndarray:
    """FNV-1a-64 of every k-codepoint shingle (k-window restart, not rolling
    — matches the SQL twin's per-window loop)."""
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(cps) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    h = np.full(n, FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = (h ^ cps[j:j + n]) * FNV_PRIME
    return h


def minhash_signature(text: str, n_hashes: int = DEFAULT_N_HASHES,
                      k: int = DEFAULT_SHINGLE_K) -> np.ndarray:
    """MinHash signature: min over shingles of splitmix64(h XOR seed_i).
    Empty shingle sets sign as all-max (never collides)."""
    sh = shingle_hashes(text, k)
    if len(sh) == 0:
        return np.full(n_hashes, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    sig = np.empty(n_hashes, dtype=np.uint64)
    for i in range(n_hashes):
        sig[i] = mix_np(sh ^ seed_of(i)).min()
    return sig


def simhash64(text: str, k: int = DEFAULT_SHINGLE_K) -> np.uint64:
    """64-bit SimHash over shingle hashes: per-bit majority vote of
    splitmix-mixed shingle hashes (sign → bit)."""
    sh = mix_np(shingle_hashes(text, k))
    if len(sh) == 0:
        return np.uint64(0)
    bits = ((sh[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
    votes = bits.sum(axis=0) * 2 > len(sh)
    return np.uint64(np.packbits(votes[::-1]).view(">u8")[0])


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard over shingle-hash sets."""
    sa, sb = set(a.tolist()), set(b.tolist())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def hamming64(a: np.uint64, b: np.uint64) -> int:
    return bin(int(a) ^ int(b)).count("1")


# --------------------------------------------------------------- Spark API

SIG_SCHEMA = "doc_id long, sig array<long>, n_shingles long"


def minhash_signatures(docs_df: DataFrame, text_col: str = "text",
                       n_hashes: int = DEFAULT_N_HASHES,
                       k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """One narrow Arrow pass: (doc_id, minhash signature)."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [
                minhash_signature(t, n_hashes, k).astype(np.int64).tolist()
                for t in pdf[text_col]
            ]
            n_sh = [max(len(t) - k + 1, 0) for t in pdf[text_col]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "sig": sigs, "n_shingles": n_sh,
            })

    return docs_df.select("doc_id", text_col).mapInPandas(gen, schema=SIG_SCHEMA)


def lsh_candidate_pairs(sig_df: DataFrame, bands: int, rows: int) -> DataFrame:
    """Band the signatures and equi-join on (band, band slice): docs sharing
    any band become a candidate pair. The all-pairs O(n^2) never happens —
    this is the scale path. Output (doc_a, doc_b) with doc_a < doc_b."""
    banded = sig_df.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.slice("sig", b * rows + 1, rows) for b in range(bands)
            ])
        ).alias("band", "band_sig"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


SIMHASH_SCHEMA = "doc_id long, simhash long, n_shingles long"


def simhash_signatures(docs_df: DataFrame, text_col: str = "text",
                       k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """One narrow Arrow pass: (doc_id, simhash64 as signed i64)."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh = [int(np.int64(np.uint64(simhash64(t, k))))
                  for t in pdf[text_col]]
            n_sh = [max(len(t) - k + 1, 0) for t in pdf[text_col]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sh,
                                "n_shingles": n_sh})

    return docs_df.select("doc_id", text_col).mapInPandas(
        gen, schema=SIMHASH_SCHEMA)


def simhash_dedup_pairs(docs_df: DataFrame, text_col: str = "text",
                        max_hamming: int = 3, bands: int = 4,
                        k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """SimHash near-dup candidate pairs via the Hamming-ball banded join:
    split the 64-bit simhash into ``bands`` equal slices — two hashes
    within Hamming distance < bands share at least one identical slice
    (pigeonhole), so an equi-join on (band, slice) finds every pair with
    distance <= max_hamming (requires max_hamming < bands) and the exact
    ``bit_count(a XOR b)`` verify prunes the rest. All-pairs never happens;
    everything after the signature pass is JVM column algebra.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b."""
    sigs = simhash_signatures(docs_df, text_col, k).filter(
        F.col("n_shingles") > 0)
    return hamming_ball_pairs(sigs, "doc_id", "simhash", max_hamming, bands,
                              ("doc_a", "doc_b"))


def hamming_ball_pairs(df: DataFrame, id_col: str, hash_col: str,
                       max_hamming: int, bands: int,
                       out: tuple[str, str]) -> DataFrame:
    """Every pair of ``df`` rows whose 64-bit ``hash_col`` values differ in
    at most ``max_hamming`` bits, as (out[0], out[1], hamming) with
    out[0] < out[1]: a posexplode of the hash's ``bands`` slices, an
    equi-join on (band, slice), the exact ``bit_count(a XOR b)`` verify and
    a distinct over pairs that share several slices."""
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    width = 64 // bands
    mask = (1 << width) - 1
    banded = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h"),
        F.posexplode(F.array(*[
            F.shiftrightunsigned(hash_col, b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ])).alias("band", "slice"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.slice") == F.col("b.slice"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias(out[0]), F.col("b.id").alias(out[1]),
                ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_canonical_ids(pairs_df: DataFrame, max_iters: int = 15,
                            driver_pairs_threshold: int = 1 << 22
                            ) -> DataFrame:
    """Connected components over undirected dup pairs (doc_a, doc_b):
    every member of a component maps to the component's MINIMUM doc id.

    Two paths, same semantics (parity pytest-pinned):

    - **small-side fast path**: when an early-terminating probe shows at
      most ``driver_pairs_threshold`` pairs (default 4M ≈ 64 MB of ids —
      a bounded driver footprint, the same envelope reasoning as a
      broadcast join), the edge list collects once and a numpy union-find
      labels it in one pass. Near-dup edge lists are tiny relative to the
      corpus (they are the CANDIDATES that survived banding+verify), so
      in practice this path serves everything below extreme-dup corpora
      and replaces ~15 driver-blocking jobs with 2.
    - **distributed fixpoint**: past the threshold (or with
      ``driver_pairs_threshold=0``), iterated min-label propagation with
      pointer jumping, convergence checked by count, capped at
      ``max_iters`` ≈ log₂ of the largest plausible chain. A single
      min-over-neighbors pass — the shape before r2 — mislabels chains
      A~B~C (A≁C): B→A but C→B.

    Output: (doc_id, lbl) for docs that appear in any pair."""
    if driver_pairs_threshold:
        # ONE job doubles as probe and collect: pairs_df is the (possibly
        # expensive) banding+verify output, so a separate count() would
        # execute its lineage twice
        pdf = (pairs_df.select("doc_a", "doc_b")
               .limit(driver_pairs_threshold + 1).toPandas())
        if len(pdf) <= driver_pairs_threshold:
            import numpy as np

            spark = pairs_df.sparkSession
            if not len(pdf):
                return spark.createDataFrame([], "doc_id long, lbl long")
            a = pdf["doc_a"].to_numpy(dtype=np.int64)
            b = pdf["doc_b"].to_numpy(dtype=np.int64)
            ids = np.unique(np.concatenate([a, b]))
            parent = np.arange(len(ids), dtype=np.int64)

            def find(i: int) -> int:
                root = i
                while parent[root] != root:
                    root = parent[root]
                while parent[i] != root:  # path compression
                    parent[i], i = root, parent[i]
                return root

            ai = np.searchsorted(ids, a)
            bi = np.searchsorted(ids, b)
            for x, y in zip(ai.tolist(), bi.tolist()):
                rx, ry = find(x), find(y)
                if rx != ry:
                    parent[max(rx, ry)] = min(rx, ry)
            roots = np.array([find(i) for i in range(len(ids))])
            # min doc id per component == the root's id (parents always
            # point at the smaller index, and ids is sorted)
            lbl = ids[roots]
            out = pd.DataFrame({"doc_id": ids, "lbl": lbl})
            return spark.createDataFrame(out)

    und = pairs_df.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    und = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    und = und.persist()
    lab = und.select("u").distinct().withColumn("lbl", F.col("u")).persist()
    lab.count()
    for _ in range(max_iters):
        # min label among neighbors
        nbr = (
            und.join(lab.select(F.col("u").alias("v"),
                                F.col("lbl").alias("vlbl")), "v")
            .groupBy("u").agg(F.min("vlbl").alias("nmin"))
        )
        stepped = (
            lab.join(nbr, "u", "left")
            .select("u", F.least("lbl", F.coalesce("nmin", "lbl")).alias("lbl"))
        )
        # pointer jumping: follow the label's own label (halves chain depth)
        jumped = (
            stepped.join(stepped.select(F.col("u").alias("lbl"),
                                        F.col("lbl").alias("lbl2")), "lbl", "left")
            .select("u", F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl"))
        ).persist()
        changed = (
            jumped.join(lab.withColumnRenamed("lbl", "old"), "u")
            .filter(F.col("lbl") != F.col("old")).limit(1).count()
        )
        lab.unpersist()
        lab = jumped
        if changed == 0:
            break
    und.unpersist()
    return lab.select(F.col("u").alias("doc_id"), "lbl")


def minhash_dedup(docs_df: DataFrame, text_col: str = "text",
                  n_hashes: int = DEFAULT_N_HASHES, bands: int = 2,
                  threshold: float = 0.7,
                  k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH pairs → exact-Jaccard verify
    (re-shingling both sides in an Arrow batch) → canonical ids via
    connected components (min-label propagation to fixpoint — chains
    A~B~C collapse to one component even when A≁C directly).
    """
    rows = n_hashes // bands
    sigs = minhash_signatures(docs_df, text_col, n_hashes, k)
    pairs = lsh_candidate_pairs(sigs, bands, rows)
    texts = docs_df.select("doc_id", text_col)
    joined = (
        pairs.join(texts.withColumnsRenamed({"doc_id": "doc_a", text_col: "text_a"}),
                   "doc_a")
        .join(texts.withColumnsRenamed({"doc_id": "doc_b", text_col: "text_b"}),
              "doc_b")
    )

    from collections.abc import Iterator

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            jac = [
                jaccard(shingle_hashes(a, k), shingle_hashes(b, k))
                for a, b in zip(pdf["text_a"], pdf["text_b"])
            ]
            out = pdf[["doc_a", "doc_b"]].copy()
            out["jaccard"] = jac
            yield out

    verified = joined.mapInPandas(
        verify, schema="doc_a long, doc_b long, jaccard double"
    ).filter(F.col("jaccard") >= threshold)

    canon = connected_canonical_ids(verified.select("doc_a", "doc_b"))
    return (
        docs_df.select("doc_id")
        .join(canon, "doc_id", "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("canonical_id"))
    )
