"""Loop-free JVM-side S2 cell ids: the float prefix as one shallow
projection, the Hilbert fold as the shared chunked lookup.

The dual-dialect CTE (sqlgen.s2_cellid_cte_sql) unrolls the 30-level
Hilbert orientation fold as 60 chained projections — correct, and the
right shape for the DuckDB oracle, but on Spark the deep chain blows the
generated-method size and drops the stage out of whole-stage codegen.

The S2 position of leaf (i, j) is the tile Hilbert index of (i, j) at 30
bits on even faces and of (j, i) on odd faces (the face's starting
orientation is a transpose), so the fold runs through
functions/hilbert_jvm.py: five broadcast hash joins against 16 Ki-row
tables, fully inside whole-stage codegen, no Python, no deep expression
tree. The float prefix (face / quadratic ST / discretize) is one shallow
projection. Per-row work is a few CASEs, two sqrt, five hash probes.

Bit-parity with functions/s2.py (the numpy kernel the oracle gate also
pins) is asserted by tests/test_s2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hilbert_jvm import with_hilbert_jvm
from .s2 import MAX_LEVEL


def with_s2_jvm(df: DataFrame, loncol: str, latcol: str,
                parent_level: int = 12, prefix: str = "s2") -> DataFrame:
    """``df`` + s2_face / s2_id / s2_id_l{parent_level} — pure JVM.

    The projection prefix mirrors functions/s2.py exactly (same branch
    order for the face argmax, same quadratic ST; float parity with the
    numpy kernel and the CTE holds because all three run the identical
    operation sequence in IEEE doubles)."""
    rad = "0.017453292519943295"
    m = (1 << MAX_LEVEL) - 1
    cur = (
        df.withColumn("_px", F.expr(
            f"cos({latcol}*{rad}) * cos({loncol}*{rad})"))
        .withColumn("_py", F.expr(
            f"cos({latcol}*{rad}) * sin({loncol}*{rad})"))
        .withColumn("_pz", F.expr(f"sin({latcol}*{rad})"))
        .withColumn(f"{prefix}_face", F.expr(
            "CASE WHEN abs(_px) >= abs(_py) AND abs(_px) >= abs(_pz)"
            " THEN (CASE WHEN _px >= 0 THEN 0 ELSE 3 END)"
            " WHEN abs(_py) >= abs(_pz)"
            " THEN (CASE WHEN _py >= 0 THEN 1 ELSE 4 END)"
            " ELSE (CASE WHEN _pz >= 0 THEN 2 ELSE 5 END) END").cast("long"))
        .withColumn("_fu", F.expr(
            f"CASE {prefix}_face WHEN 0 THEN _py/_px WHEN 1 THEN -_px/_py"
            " WHEN 2 THEN -_px/_pz WHEN 3 THEN _pz/_px WHEN 4 THEN _pz/_py"
            " ELSE -_py/_pz END"))
        .withColumn("_fv", F.expr(
            f"CASE {prefix}_face WHEN 0 THEN _pz/_px WHEN 1 THEN _pz/_py"
            " WHEN 2 THEN -_py/_pz WHEN 3 THEN _py/_px WHEN 4 THEN -_px/_py"
            " ELSE -_px/_pz END"))
        .withColumn("_fs", F.expr(
            "CASE WHEN _fu >= 0 THEN 0.5d*sqrt(1.0d + 3.0d*_fu)"
            " ELSE 1.0d - 0.5d*sqrt(1.0d - 3.0d*_fu) END"))
        .withColumn("_ft", F.expr(
            "CASE WHEN _fv >= 0 THEN 0.5d*sqrt(1.0d + 3.0d*_fv)"
            " ELSE 1.0d - 0.5d*sqrt(1.0d - 3.0d*_fv) END"))
        .withColumn("_si", F.expr(
            f"LEAST(GREATEST(CAST(floor(_fs * {float(1 << MAX_LEVEL)}d)"
            f" AS BIGINT), 0), {m})"))
        .withColumn("_sj", F.expr(
            f"LEAST(GREATEST(CAST(floor(_ft * {float(1 << MAX_LEVEL)}d)"
            f" AS BIGINT), 0), {m})"))
    )
    # odd faces start the fold transposed: swap (i, j) into the tile
    # Hilbert kernel's (x, y), which always starts in state 0
    odd = F.col(f"{prefix}_face").bitwiseAND(F.lit(1)) == 1
    si, sj = F.col("_si"), F.col("_sj")
    cur = (cur.withColumn("_hx", F.when(odd, sj).otherwise(si))
           .withColumn("_hy", F.when(odd, si).otherwise(sj)))
    cur = with_hilbert_jvm(cur, "_hx", "_hy", MAX_LEVEL, out="_spos")
    # id = face<<61 | pos<<1 | 1 — shiftleft wraps on the JVM, giving the
    # two's-complement bit pattern for faces 4/5 directly
    leaf = (F.shiftleft(F.col(f"{prefix}_face"), 61)
            .bitwiseOR(F.shiftleft(F.col("_spos"), 1)).bitwiseOR(F.lit(1)))
    plsb = 1 << (2 * (MAX_LEVEL - parent_level))
    cur = cur.withColumn(f"{prefix}_id", leaf.cast("long"))
    cur = cur.withColumn(
        f"{prefix}_id_l{parent_level}",
        (F.col(f"{prefix}_id").bitwiseAND(F.lit(-(plsb << 1)))
         .bitwiseOR(F.lit(plsb))).cast("long"))
    # NULL lon/lat must yield NULL outputs: the clamp's GREATEST(NULL, 0)
    # swallows NULL (Spark's GREATEST ignores NULL args), and the face
    # CASE's ELSE branch catches NULL comparisons — both would otherwise
    # fabricate a face-5 id for a NULL point
    # NaN included (ADVICE r5): a NaN survives the NULL-only guard — its
    # comparisons are all false, clamping si/sj to 0 and falling to face
    # 5 — fabricating a valid-looking id where the numpy twin yields none
    isnull = (F.col(loncol).isNull() | F.col(latcol).isNull()
              | F.isnan(loncol) | F.isnan(latcol))
    for c in (f"{prefix}_face", f"{prefix}_id",
              f"{prefix}_id_l{parent_level}"):
        cur = cur.withColumn(c, F.when(~isnull, F.col(c)))
    return cur.drop("_px", "_py", "_pz", "_fu", "_fv", "_fs", "_ft",
                    "_si", "_sj", "_hx", "_hy", "_spos")
