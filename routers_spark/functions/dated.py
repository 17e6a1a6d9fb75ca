"""T6 dated range filter — tile-source time filtering
(libs/routers_tiles/src/query/range.rs:92-104): a timestamp is WITHIN a
DatedRange when its UTC DATE falls in the [start, end] range (inclusive or
exclusive per RangeType, range.rs:38-45) AND its weekday is in the allowed
set (0=Mon … 6=Sun, the reference's numbering, range.rs:76-84)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from routers_spark.functions.sqlgen import Dialect


def dated_range_col(ts: Column, start_date: str, end_date: str,
                    weekdays: list[int], inclusive: bool = True) -> Column:
    """Boolean Column: ts (timestamp) within the dated range. ``start_date``
    / ``end_date`` are 'YYYY-MM-DD' UTC dates; ``weekdays`` uses 0=Monday."""
    d = F.to_date(ts)
    if inclusive:
        in_dates = (d >= F.lit(start_date).cast("date")) & \
                   (d <= F.lit(end_date).cast("date"))
    else:
        in_dates = (d > F.lit(start_date).cast("date")) & \
                   (d < F.lit(end_date).cast("date"))
    # Spark weekday(): 0=Monday — the reference numbering directly
    return in_dates & F.weekday(ts).isin(weekdays)


def dated_range_sql(ts: str, start_date: str, end_date: str,
                    weekdays: list[int], inclusive: bool, d: Dialect) -> str:
    """The same predicate as dialect-portable SQL text."""
    ge, le = (">=", "<=") if inclusive else (">", "<")
    days = ", ".join(str(w) for w in weekdays)
    return (f"(CAST({ts} AS DATE) {ge} DATE '{start_date}' "
            f"AND CAST({ts} AS DATE) {le} DATE '{end_date}' "
            f"AND {d.weekday(ts)} IN ({days}))")
