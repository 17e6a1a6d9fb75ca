"""JVM-side S2 cell ids: the float prefix as shallow projections, the
Hilbert fold as the shared chunk-lookup Column.

The dual-dialect CTE (sqlgen.s2_cellid_cte_sql) unrolls the 30-level
Hilbert orientation fold as 60 chained projections — the right shape for
the DuckDB oracle, but on Spark the deep chain outgrows the generated
method size and drops the stage out of whole-stage codegen.

The S2 position of leaf (i, j) is the tile Hilbert index of (i, j) at 30
bits on even faces and of (j, i) on odd faces (the face's starting
orientation is a transpose), so the fold is functions/hilbert_jvm.py's
``hilbert_col``: ten in-expression table lookups, no join, no Python. The
float prefix (face / quadratic ST / discretize) is a few selects; per row
the work is a few CASEs, two sqrt and ten array reads.

Bit-parity with functions/s2.py (the numpy kernel the oracle gate also
pins) is asserted by tests/test_s2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hilbert_jvm import hilbert_col
from .s2 import MAX_LEVEL


def _leaf_coord(c: str) -> str:
    """Quadratic (u|v) -> (s|t), discretized to a clamped leaf coordinate."""
    st = (f"CASE WHEN {c} >= 0 THEN 0.5d*sqrt(1.0d + 3.0d*{c})"
          f" ELSE 1.0d - 0.5d*sqrt(1.0d - 3.0d*{c}) END")
    return (f"LEAST(GREATEST(CAST(floor(({st}) * {float(1 << MAX_LEVEL)}d)"
            f" AS BIGINT), 0), {(1 << MAX_LEVEL) - 1})")


def with_s2_jvm(df: DataFrame, loncol: str, latcol: str,
                parent_level: int = 12, prefix: str = "s2") -> DataFrame:
    """``df`` + s2_face / s2_id / s2_id_l{parent_level} — pure JVM.

    The projection prefix mirrors functions/s2.py exactly (same branch
    order for the face argmax, same quadratic ST; float parity with the
    numpy kernel and the CTE holds because all three run the identical
    operation sequence in IEEE doubles)."""
    rad = "0.017453292519943295"
    face, sid = f"{prefix}_face", f"{prefix}_id"
    cols = df.columns
    xyz = df.select(
        "*",
        F.expr(f"cos({latcol}*{rad}) * cos({loncol}*{rad})").alias("_px"),
        F.expr(f"cos({latcol}*{rad}) * sin({loncol}*{rad})").alias("_py"),
        F.expr(f"sin({latcol}*{rad})").alias("_pz"))
    faced = xyz.select("*", F.expr(
        "CASE WHEN abs(_px) >= abs(_py) AND abs(_px) >= abs(_pz)"
        " THEN (CASE WHEN _px >= 0 THEN 0 ELSE 3 END)"
        " WHEN abs(_py) >= abs(_pz)"
        " THEN (CASE WHEN _py >= 0 THEN 1 ELSE 4 END)"
        " ELSE (CASE WHEN _pz >= 0 THEN 2 ELSE 5 END) END"
    ).cast("long").alias(face))
    uv = faced.select(
        *cols, face,
        F.expr(f"CASE {face} WHEN 0 THEN _py/_px WHEN 1 THEN -_px/_py"
               " WHEN 2 THEN -_px/_pz WHEN 3 THEN _pz/_px WHEN 4 THEN _pz/_py"
               " ELSE -_py/_pz END").alias("_fu"),
        F.expr(f"CASE {face} WHEN 0 THEN _pz/_px WHEN 1 THEN _pz/_py"
               " WHEN 2 THEN -_py/_pz WHEN 3 THEN _py/_px WHEN 4 THEN -_px/_py"
               " ELSE -_px/_pz END").alias("_fv"))
    ij = uv.select(*cols, face, F.expr(_leaf_coord("_fu")).alias("_si"),
                   F.expr(_leaf_coord("_fv")).alias("_sj"))
    # odd faces start the fold transposed: swap (i, j) into the tile
    # Hilbert kernel's (x, y), which always starts in state 0
    odd = F.col(face).bitwiseAND(F.lit(1)) == 1
    si, sj = F.col("_si"), F.col("_sj")
    hxy = ij.select(*cols, face, F.when(odd, sj).otherwise(si).alias("_hx"),
                    F.when(odd, si).otherwise(sj).alias("_hy"))
    # id = face<<61 | pos<<1 | 1 — shiftleft wraps on the JVM, giving the
    # two's-complement bit pattern for faces 4/5 directly
    pos = hilbert_col("_hx", "_hy", MAX_LEVEL)
    leaf = hxy.select(*cols, face, F.shiftleft(F.col(face), 61)
                      .bitwiseOR(F.shiftleft(pos, 1))
                      .bitwiseOR(F.lit(1)).alias(sid))
    # NULL or NaN lon/lat must yield NULL outputs: the clamp's
    # GREATEST(NULL, 0) swallows NULL (Spark's GREATEST ignores NULL args),
    # and a NaN fails every comparison, so the clamp and the face CASE's
    # ELSE branch would otherwise fabricate a face-5 id for it
    ok = ~(F.col(loncol).isNull() | F.col(latcol).isNull()
           | F.isnan(loncol) | F.isnan(latcol))
    plsb = 1 << (2 * (MAX_LEVEL - parent_level))
    parent = F.col(sid).bitwiseAND(F.lit(-(plsb << 1))).bitwiseOR(F.lit(plsb))
    lvl = f"{prefix}_id_l{parent_level}"
    return leaf.select(*cols, F.when(ok, F.col(face)).alias(face),
                       F.when(ok, F.col(sid)).alias(sid),
                       F.when(ok, parent).alias(lvl))
