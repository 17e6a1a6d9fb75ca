"""Stable fleet-wide hashing — FNV-1a 64 + splitmix64 finaliser.

Reproduces the reference's wire-law partition contract bit-for-bit
(libs/routers_realtime/src/partition.rs:13-45): never rely on an engine's
built-in ``hash()`` for placement that must survive resume/rewrites (the
reference calls this out explicitly; Spark's ``hash()`` has the same caveat).

Provided as numpy kernels AND dialect-portable SQL (both Spark and DuckDB
evaluate the identical unsigned-64 arithmetic via signed BIGINT wrapping,
spelled per engine by sqlgen.Dialect).
"""

from __future__ import annotations

import numpy as np

from routers_spark.config import N_PARTITIONS
from routers_spark.functions.sqlgen import Dialect, to_i64

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x00000100000001B3)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def fnv1a_np(data: bytes) -> int:
    """FNV-1a 64 of a byte string (partition.rs:19-26)."""
    h = _FNV_OFFSET
    with np.errstate(over="ignore"):
        for b in data:
            h = np.uint64(h ^ np.uint64(b)) * _FNV_PRIME
    return int(h)


def mix_np(x) -> np.ndarray:
    """splitmix64 finaliser (partition.rs:31-38), vectorized over uint64."""
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * _MIX1
        x = x ^ (x >> np.uint64(27))
        x = x * _MIX2
        return x ^ (x >> np.uint64(31))


def partition_of_np(vehicle_id) -> np.ndarray:
    """``splitmix64(id) % 1024`` (partition.rs:43-45)."""
    v = np.asarray(vehicle_id).astype(np.uint64)
    return (mix_np(v) % np.uint64(N_PARTITIONS)).astype(np.int64)


def splitmix64_sql(x: str, d: Dialect) -> str:
    """splitmix64 as one nested SQL expression (small inputs only — for
    long chains use :func:`p_splitmix64`)."""
    e = f"({x})"
    e = d.xor(e, d.ushr(e, 30))
    e = d.mul_u64(e, 0xBF58476D1CE4E5B9)
    e = d.xor(e, d.ushr(e, 27))
    e = d.mul_u64(e, 0x94D049BB133111EB)
    e = d.xor(e, d.ushr(e, 31))
    return e


def p_splitmix64(p, x_col: str, d: Dialect) -> str:
    """splitmix64 as bound program steps (linear SQL text; see
    sqlgen.Program)."""
    return p_splitmix64_multi(p, [x_col], d)[0]


def p_splitmix64_multi(p, x_cols: list[str], d: Dialect) -> list[str]:
    """splitmix64 over SEVERAL inputs in lockstep: all lanes advance one
    mixing step per CTE level, so an n-lane family costs the same 5 levels
    as one chain. Chain DEPTH (not width) is what Spark's analyzer and
    whole-stage codegen pay for — the 8-hash minhash program dropped from
    ~51 to ~17 levels this way (cold plan seconds, same values)."""
    es = p.let_many([d.xor(x, d.ushr(x, 30)) for x in x_cols])
    es = p.let_many([d.mul_u64(e, 0xBF58476D1CE4E5B9) for e in es])
    es = p.let_many([d.xor(e, d.ushr(e, 27)) for e in es])
    es = p.let_many([d.mul_u64(e, 0x94D049BB133111EB) for e in es])
    return p.let_many([d.xor(e, d.ushr(e, 31)) for e in es])


def p_fnv1a_chars(p, text_col: str, start_col: str, k: int, d: Dialect) -> str:
    """FNV-1a-64 over the ``k`` codepoints of ``text_col`` starting at
    1-based position ``start_col`` — bound program steps. Matches
    pipeline.dedup.shingle_hashes (codepoint variant)."""
    h = str(to_i64(0xCBF29CE484222325))
    for j in range(k):
        cp = p.let(f"ascii(substr({text_col}, {start_col} + {j}, 1))")
        h = p.let(d.mul_u64(f"({d.xor(h, cp)})", 0x00000100000001B3))
    return h


def partition_of_sql(x: str, d: Dialect) -> str:
    """``splitmix64(x) % 1024`` as SQL; the low 10 bits via mask (values are
    uniformly mixed so mask == modulo for a power of two)."""
    return f"({splitmix64_sql(x, d)} & {N_PARTITIONS - 1})"
