"""Dual-dialect SQL expression generator.

Every cell/tile encoding in this engine is integer math (bit interleaving,
Hilbert rotation). We express each algorithm ONCE as a string
template over a tiny op vocabulary and render it for two dialects:

  - "spark"  — used via ``F.expr`` inside DataFrame pipelines (JVM-side,
               whole-stage-codegen, no Python in the hot path);
  - "duckdb" — used verbatim as the correctness oracle the driver runs.

Because both engines evaluate the *same* integer expression tree, the oracle
comparison is bit-exact — no transcendental-function ULP risk.

:class:`Dialect` is the one place that spells an operator per engine; the
generators here, in functions/hashing.py and in queries.py only call it.
"""

from __future__ import annotations

from collections.abc import Callable


def to_i64(c: int) -> int:
    """Unsigned-64 constant as its signed two's-complement literal."""
    return c - (1 << 64) if c >= (1 << 63) else c


class Dialect:
    """Per-engine spelling of each SQL operator the generators use.

    Deltas: XOR is ``^`` in Spark but POW in DuckDB (``xor(a, b)`` there);
    shifts are functions in Spark and operators in DuckDB; Spark BIGINT
    ``*`` wraps (ANSI off) where DuckDB's raises; floor returns different
    types, so it is always cast to BIGINT; DuckDB reads bare decimals as
    DECIMAL; Spark's parser unescapes backslashes in string literals."""

    def __init__(self, name: str):
        assert name in ("spark", "duckdb")
        self.name = name

    def xor(self, a: str, b: str) -> str:
        return f"({a} ^ {b})" if self.name == "spark" else f"xor({a}, {b})"

    def shl(self, a: str, n: int | str) -> str:
        return (
            f"shiftleft({a}, {n})" if self.name == "spark" else f"({a} << {n})"
        )

    def shr(self, a: str, n: int | str) -> str:
        # arithmetic shift right; operands here are always non-negative.
        return (
            f"shiftright({a}, {n})" if self.name == "spark" else f"({a} >> {n})"
        )

    def ushr(self, a: str, n: int) -> str:
        """Logical shift right of a BIGINT's unsigned-64 bit pattern."""
        if self.name == "spark":
            return f"shiftrightunsigned({a}, {n})"
        # DuckDB >> on BIGINT is arithmetic; mask the smeared sign bits.
        return f"(({a} >> {n}) & {(1 << (64 - n)) - 1})"

    def mul_u64(self, a: str, c: int) -> str:
        """``a * c mod 2^64`` over signed BIGINT for an unsigned-64 constant.

        DuckDB raises on BIGINT overflow, so its 64x64 product goes through
        128-bit HUGEINT with the constant split in 32-bit limbs (no
        intermediate exceeds 2^97):
        ``u*c mod 2^64 = (u*c_lo + (u mod 2^32)*c_hi*2^32) mod 2^64``."""
        if self.name == "spark":
            return f"({a} * {to_i64(c)})"
        c_lo, c_hi = c & 0xFFFFFFFF, (c >> 32) & 0xFFFFFFFF
        u = (
            f"(CAST({a} AS HUGEINT) + CASE WHEN ({a}) < 0"
            f" THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
        )
        p = (
            f"(({u} * {c_lo} + ({u} % 4294967296) * {c_hi} * 4294967296)"
            f" % 18446744073709551616::HUGEINT)"
        )
        return (
            f"CAST({p} - CASE WHEN {p} >= 9223372036854775808::HUGEINT"
            f" THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)"
        )

    def band(self, a: str, b: int | str) -> str:
        return f"({a} & {b})"

    def bor(self, a: str, b: str) -> str:
        return f"({a} | {b})"

    def floor_long(self, x: str) -> str:
        return f"CAST(floor({x}) AS BIGINT)"

    def doubles(self, s: str) -> str:
        """``s`` with its Spark ``d``-suffixed DOUBLE literals cast for
        DuckDB, which reads a bare decimal as DECIMAL."""
        if self.name == "duckdb":
            return (
                s.replace("180.0d", "180.0::DOUBLE")
                .replace("360.0d", "360.0::DOUBLE")
                .replace("90.0d", "90.0::DOUBLE")
                .replace("0.0d", "0.0::DOUBLE")
                .replace("0.9999999999999999d", "0.9999999999999999::DOUBLE")
            )
        return s

    def epoch_us(self, ts: str) -> str:
        """Microseconds since the epoch of a timestamp column."""
        if self.name == "spark":
            return f"unix_micros(CAST({ts} AS TIMESTAMP))"
        return f"epoch_us({ts})"

    def weekday(self, ts: str) -> str:
        """Weekday of a timestamp, 0=Monday … 6=Sunday."""
        if self.name == "spark":
            return f"weekday(CAST({ts} AS TIMESTAMP))"
        # DuckDB's isodow is 1=Monday … 7=Sunday
        return f"(isodow(CAST({ts} AS TIMESTAMP)) - 1)"

    def _regex(self, pattern: str) -> str:
        """A regular expression as a SQL string literal."""
        if self.name == "spark":
            pattern = pattern.replace("\\", "\\\\")
        return f"'{pattern}'"

    def regexp_strip(self, text: str, pattern: str) -> str:
        """``text`` with every match of ``pattern`` removed."""
        flags = "" if self.name == "spark" else ", 'g'"
        return f"regexp_replace({text}, {self._regex(pattern)}, ''{flags})"

    def split_count(self, text: str, pattern: str) -> str:
        """Number of pieces of ``text`` split on ``pattern``."""
        if self.name == "spark":
            return f"size(split({text}, {self._regex(pattern)}))"
        return f"len(string_split_regex({text}, {self._regex(pattern)}))"

    def explode_list(self, table: str, key: str, list_col: str,
                     value: Callable[[str], str]) -> str:
        """One row ``(key, pos, v)`` per element of ``list_col``;
        ``value(e)`` renders ``v`` from the element ``e``."""
        if self.name == "spark":
            return (f"SELECT {key}, CAST(pos AS INT) AS pos, {value('v')} AS v "
                    f"FROM {table} LATERAL VIEW posexplode({list_col}) t AS pos, v")
        return (f"SELECT {key}, CAST(generate_subscripts({list_col}, 1) AS INT)"
                f" AS pos, {value(f'unnest({list_col})')} AS v FROM {table}")


SPARK = Dialect("spark")
DUCKDB = Dialect("duckdb")


class Program:
    """SSA-style expression builder rendered as a linear chain of CTEs.

    Bit-twiddling pipelines (spread/reverse/interleave) double their textual
    size at every step when written as one nested expression — a 20-step
    pipeline explodes to ~1 MB of SQL. Binding each step to a named column
    in its own CTE keeps the text linear and lets both engines evaluate each
    step once.
    """

    def __init__(self, source_sql: str, keep: list[str]):
        self.source_sql = source_sql
        self.keep = list(keep)
        self.steps: list[tuple[str, str]] = []  # (col_name, expr over prior cols)
        self._n = 0

    def let(self, expr: str, name: str | None = None) -> str:
        return self.let_many([expr])[0]

    def let_many(self, exprs: list[str]) -> list[str]:
        """Bind several independent expressions in ONE CTE level — keeps the
        chain depth down (Spark's analyzer iterates per nesting level)."""
        names = []
        bound = []
        for expr in exprs:
            self._n += 1
            name = f"_t{self._n}"
            names.append(name)
            bound.append((name, expr))
        self.steps.append(bound)
        return names

    def render(self, final_cols: list[str], group_by: list[str] | None = None,
               distinct: bool = False, cte_name: str | None = None) -> str:
        """``final_cols`` are ``expr AS alias`` fragments over keep+bound
        columns. ``cte_name`` renders the chain as a reusable ``name AS
        (...)`` fragment body instead of a standalone statement."""
        prefix = "p" if cte_name is None else f"{cte_name}_p"
        lines = [f"WITH {prefix}0 AS (SELECT * FROM ({self.source_sql}))"]
        prev = f"{prefix}0"
        for i, level in enumerate(self.steps, start=1):
            cur = f"{prefix}{i}"
            cols = ", ".join(f"{expr} AS {name}" for name, expr in level)
            lines.append(f", {cur} AS (SELECT *, {cols} FROM {prev})")
            prev = cur
        sel = "SELECT DISTINCT" if distinct else "SELECT"
        tail = f"{sel} {', '.join(final_cols)} FROM {prev}"
        if group_by:
            tail += f" GROUP BY {', '.join(group_by)}"
        lines.append(tail)
        return "\n".join(lines)


def p_spread_bits_multi(p: Program, d: Dialect, vs: list[str], n: int) -> list[str]:
    """Morton spread: insert a 0 bit between each of the low ``n`` bits of
    every input, all inputs in lockstep per level.

    Classic magic-number spreading (public domain bit-twiddling); works for
    n <= 32 on BIGINT. Uses only AND/OR/SHL — dialect-safe."""
    xs = p.let_many([d.band(v, str((1 << n) - 1)) for v in vs])
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        xs = p.let_many(
            [d.band(d.bor(x, d.shl(x, shift)), str(mask)) for x in xs]
        )
    return xs


def p_bit_reverse32_multi(p: Program, d: Dialect, vs: list[str], bits: int) -> list[str]:
    """Reverse the low ``bits`` (<= 32) bits of each non-negative BIGINT."""
    xs = list(vs)
    for shift, mask in ((1, 0x55555555), (2, 0x33333333), (4, 0x0F0F0F0F),
                        (8, 0x00FF00FF), (16, 0x0000FFFF)):
        xs = p.let_many([
            d.bor(
                d.band(d.shr(x, shift), str(mask)),
                d.shl(f"({d.band(x, str(mask))})", shift),
            )
            for x in xs
        ])
    return p.let_many([d.shr(x, 32 - bits) for x in xs])


def p_quadkey(p: Program, d: Dialect, lon: str, lat: str, depth: int) -> str:
    """QuadKey bits per the reference quadtree strategy:
    2 bits per level, level 0 (COARSEST) in the LOW bits, q = north<<1 | east
    (libs/routers_shard/src/strategy/quadtree.rs:88-123).

    Binary subdivision with ``px >= mid`` over [-180,180]x[-90,90] is exactly
    bit (depth-1-level) of ``floor(frac * 2^depth)`` — the subdivision
    midpoints are exact binary fractions of the world extent, so the loop and
    this closed form agree bit-for-bit. Each index is bit-reversed so level 0
    lands in the interleave's low lane.
    """
    xi, yi = p.let_many(
        [grid_index(d, lon_frac(lon), depth), grid_index(d, lat_frac(lat), depth)]
    )
    xr, yr = p_bit_reverse32_multi(p, d, [xi, yi], depth)
    sx, sy = p_spread_bits_multi(p, d, [xr, yr], depth)
    return p.let(d.bor(sx, d.shl(f"({sy})", 1)))


def p_geohash_int(p: Program, d: Dialect, lon: str, lat: str, precision: int) -> str:
    """Geohash as an integer of 5*precision interleaved bits (lon first,
    from the top bit) — the bit content of the reference's base-32 encoding
    (libs/routers_shard/src/strategy/geohash.rs:88-137).

    lon occupies the even bit positions counting from the TOP of the
    5c-bit word. If the total is even, lat sits at bit 0; if odd, lon
    does, so the value is spread(lon) | spread(lat) << 1."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    xi, yi = p.let_many(
        [grid_index(d, lon_frac(lon), lon_bits), grid_index(d, lat_frac(lat), lat_bits)]
    )
    sx, sy = p_spread_bits_multi(p, d, [xi, yi], lon_bits)
    low, high = (sy, sx) if total % 2 == 0 else (sx, sy)
    return p.let(d.bor(low, d.shl(f"({high})", 1)))


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def p_geohash_str(p: Program, d: Dialect, lon: str, lat: str, precision: int) -> str:
    """Base-32 geohash string, built from the integer form via substring
    lookups (both dialects: substr is 1-indexed)."""
    gi = p_geohash_int(p, d, lon, lat, precision)
    parts = []
    for c in range(precision):
        shift = 5 * (precision - 1 - c)
        idx = d.band(f"({d.shr(gi, shift)})" if shift else gi, 31)
        parts.append(f"substr('{_GEOHASH_B32}', CAST({idx} AS INT) + 1, 1)")
    return p.let("concat(" + ", ".join(parts) + ")")


def lon_frac(lon: str) -> str:
    """Fraction of the world's x-extent, clamped to [0, 1)."""
    return f"least(greatest((({lon}) + 180.0d) / 360.0d, 0.0d), 0.9999999999999999d)"


def lat_frac(lat: str) -> str:
    """Fraction of the world's y-extent (south→north), clamped to [0, 1)."""
    return f"least(greatest((({lat}) + 90.0d) / 180.0d, 0.0d), 0.9999999999999999d)"


def grid_index(d: Dialect, frac: str, bits: int) -> str:
    """``floor(frac * 2^bits)`` as BIGINT — the binary-subdivision cell index."""
    return d.floor_long(f"({d.doubles(frac)}) * {1 << bits}")


def slippy_xy_expr(d: Dialect, lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """Slippy tile (x, y) at fixed zoom — the reference's WebMercator
    projection (libs/routers_geo/src/project.rs:49-71). Note the reference
    multiplies by the literal 0.0174533 (not pi/180); reproduced verbatim."""
    n = 1 << zoom
    x = d.floor_long(d.doubles(f"{n} * ((({lon}) + 180.0d) / 360.0d)"))
    rad = f"(({lat}) * 0.0174533)"
    y = d.floor_long(
        f"{n} * (1.0 - ln(tan({rad}) + 1.0 / cos({rad})) / pi()) / 2.0"
    )
    return x, y


def hilbert_xy2h_cte_sql(
    d: Dialect, source_sql: str, x: str, y: str, order: int, keep: list[str]
) -> str:
    """Hilbert index of (x, y) at ``order`` bits per axis via chained CTEs
    (one per bit level — classic xy2d rotation loop, unrolled as SQL).

    The reference stores tiles by ``fast_hilbert::xy2h(x, y, zoom)``
    (libs/routers_tiles/src/primitives/fragment.rs:69-71); this is the same
    curve used the same way: a space-filling clustered sort key enabling
    range-pruned tile scans (bigtable.rs:311-320 analog).

    ``source_sql`` must yield the ``x``/``y`` expressions plus ``keep``
    passthrough columns. Returns a SELECT yielding ``keep`` + ``hilbert``.
    """
    keep_cols = ", ".join(keep)
    lines = [f"WITH h0 AS (SELECT {keep_cols}, CAST({x} AS BIGINT) AS hx, "
             f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM ({source_sql}))"]
    prev = "h0"
    step = 0
    for i in range(order - 1, -1, -1):
        s = 1 << i
        step += 1
        cur = f"h{step}"
        rx = f"(CASE WHEN ({d.band('hx', s)}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({d.band('hy', s)}) > 0 THEN 1 ELSE 0 END)"
        nd = f"hd + CAST({s} AS BIGINT) * {s} * ({d.xor(f'(3 * {rx})', ry)})"
        nx = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {s - 1} - hy"
            f" ELSE hy END) ELSE hx END"
        )
        ny = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {s - 1} - hx"
            f" ELSE hx END) ELSE hy END"
        )
        lines.append(
            f", {cur} AS (SELECT {keep_cols}, CAST({nx} AS BIGINT) AS hx, "
            f"CAST({ny} AS BIGINT) AS hy, CAST({nd} AS BIGINT) AS hd FROM {prev})"
        )
        prev = cur
    lines.append(f"SELECT {keep_cols}, hd AS hilbert FROM {prev}")
    return "\n".join(lines)


def s2_cellid_cte_sql(
    d: Dialect, source_sql: str, lon: str, lat: str, keep: list[str],
    parent_level: int = 12,
) -> str:
    """S2 leaf cell id of (lon, lat) as chained CTEs, both dialects.

    Same pipeline as functions/s2.py (the numpy twin pytest pins): unit
    XYZ -> largest-|component| cube face -> face (u,v) -> quadratic
    (s,t) -> 30-bit (i,j) -> per-bit Hilbert orientation fold (the
    flattened 16-entry tables rendered as CASE over idx = o*4+ij) ->
    id = face<<61 | pos<<1 | 1 in the signed-64 two's-complement bit
    pattern (faces 4/5 set bit 63; both engines agree on BIGINT bit
    algebra, so the comparison is exact). Transcendentals (sin/cos/sqrt)
    appear only upstream of a floor() whose inputs the gate fixture
    keeps >1e-3 away from integer boundaries (pytest-asserted), so the
    <=few-ULP libm spread between engines cannot flip a single (i,j).

    Returns a SELECT yielding ``keep`` + s2_face, s2_id (leaf) and
    s2_id_l{parent_level} (ancestor id at that level).
    """
    from .s2 import KIJTOPOS_FLAT, MAX_LEVEL, NEWO_FLAT

    keep_cols = ", ".join(keep)
    rad = "0.017453292519943295e0"  # pi/180, exact double literal
    lines = [
        f"WITH s2a AS (SELECT {keep_cols}, ({lon}) * {rad} AS rlon,"
        f" ({lat}) * {rad} AS rlat FROM ({source_sql}))",
        ", s2b AS (SELECT *, cos(rlat)*cos(rlon) AS px,"
        " cos(rlat)*sin(rlon) AS py, sin(rlat) AS pz FROM s2a)",
        # face: largest |component|, ties resolved x, then y, then z —
        # identical branch order to s2.face_uv_np
        ", s2c AS (SELECT *, CASE"
        " WHEN abs(px) >= abs(py) AND abs(px) >= abs(pz) THEN"
        "   (CASE WHEN px >= 0 THEN 0 ELSE 3 END)"
        " WHEN abs(py) >= abs(pz) THEN (CASE WHEN py >= 0 THEN 1 ELSE 4 END)"
        " ELSE (CASE WHEN pz >= 0 THEN 2 ELSE 5 END) END AS s2_face"
        " FROM s2b)",
        ", s2d AS (SELECT *, CASE s2_face"
        " WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz"
        " WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS fu,"
        " CASE s2_face"
        " WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz"
        " WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS fv"
        " FROM s2c)",
        ", s2e AS (SELECT *,"
        " CASE WHEN fu >= 0 THEN 0.5e0*sqrt(1.0e0 + 3.0e0*fu)"
        "      ELSE 1.0e0 - 0.5e0*sqrt(1.0e0 - 3.0e0*fu) END AS fs,"
        " CASE WHEN fv >= 0 THEN 0.5e0*sqrt(1.0e0 + 3.0e0*fv)"
        "      ELSE 1.0e0 - 0.5e0*sqrt(1.0e0 - 3.0e0*fv) END AS ft"
        " FROM s2d)",
    ]
    m = (1 << MAX_LEVEL) - 1
    fi = d.floor_long(f"fs * {1 << MAX_LEVEL}.0e0")
    fj = d.floor_long(f"ft * {1 << MAX_LEVEL}.0e0")
    lines.append(
        ", s2f AS (SELECT *,"
        f" LEAST(GREATEST({fi}, 0), {m}) AS si,"
        f" LEAST(GREATEST({fj}, 0), {m}) AS sj,"
        f" CAST(s2_face & 1 AS BIGINT) AS so,"
        " CAST(0 AS BIGINT) AS spos FROM s2e)"
    )
    prev = "s2f"
    pos_case = " ".join(
        f"WHEN {idx} THEN {r}" for idx, r in enumerate(KIJTOPOS_FLAT))
    newo_case = " ".join(
        f"WHEN {idx} THEN {o}" for idx, o in enumerate(NEWO_FLAT))
    for step, k in enumerate(range(MAX_LEVEL - 1, -1, -1)):
        ia = f"s2i{step}"
        ib = f"s2k{step}"
        ibit = d.band(d.shr("si", k), 1)
        jbit = d.band(d.shr("sj", k), 1)
        lines.append(
            f", {ia} AS (SELECT *, so * 4 + {ibit} * 2 + {jbit} AS sidx"
            f" FROM {prev})"
        )
        lines.append(
            f", {ib} AS (SELECT {keep_cols}, si, sj, s2_face,"
            f" spos * 4 + (CASE sidx {pos_case} END) AS spos,"
            f" CAST(CASE sidx {newo_case} END AS BIGINT) AS so"
            f" FROM {ia})"
        )
        prev = ib
    # id = face<<61 | pos<<1 | 1 as the two's-complement int64 bit
    # pattern: faces 4/5 set bit 63, which BIGINT cannot reach by a
    # plain shift in DuckDB (overflow errors rather than wrapping), so
    # the face part is CASEd into signed form; the position field
    # occupies disjoint bits 0..60, making + equivalent to |.
    imin = "(-9223372036854775807 - 1)"  # -2^63 without literal overflow
    face_part = (
        f"(CASE WHEN s2_face >= 4 THEN {imin} +"
        f" {d.shl('(CAST(s2_face AS BIGINT) - 4)', 61)}"
        f" ELSE {d.shl('CAST(s2_face AS BIGINT)', 61)} END)"
    )
    leaf = f"({face_part} + {d.shl('spos', 1)} + 1)"
    plsb = 1 << (2 * (MAX_LEVEL - parent_level))
    parent = f"(({leaf} & {-(plsb << 1)}) | {plsb})"
    lines.append(
        f"SELECT {keep_cols}, CAST(s2_face AS BIGINT) AS s2_face,"
        f" CAST({leaf} AS BIGINT) AS s2_id,"
        f" CAST({parent} AS BIGINT) AS s2_id_l{parent_level} FROM {prev}"
    )
    return "\n".join(lines)
