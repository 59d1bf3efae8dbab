"""Scalar column helpers shared across operators.

Reference parity (SURVEY §2.8): the reference's scalar surface is
``concat_ws`` (F1), ``concat`` full-name (F2), month-by-substring (F3),
``lit`` (F4), ``round`` (F5), ``when/otherwise`` (F6), ``* 0.01`` (F7) —
all from ``/root/reference/src/transform/transform.py:54,126-154``. The
helpers here keep those exact semantics while adding the decimal
discipline SURVEY §7's watchlist calls for (double money breaks value
hashing; decimal sums are exact and associative, so they are also
shuffle-order-independent — a correctness property at 1000 executors,
not just a test convenience).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Money lives in DECIMAL(18,2) while being aggregated (exact, order-
# independent), and leaves the engine as DOUBLE (stable canonical form
# for consumers and oracles alike).
MONEY_DECIMAL = "decimal(18,2)"

# Fixed-point scale for quantizing logs and ratios to bigint before an
# exact (order-independent) integer fold.
FIXED_POINT_SCALE = 100_000


def money(col: Column | str) -> Column:
    """Cast a raw money column to the exact decimal working type."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY_DECIMAL)


def money_sum(col: Column | str) -> Column:
    """Exact (decimal) sum of a money column, emitted as double.

    sum(decimal) is exact and commutative ⇒ the result does not depend
    on partitioning or shuffle order, unlike sum(double).
    """
    return F.sum(money(col)).cast("double")


def month_key(date_col: Column | str) -> Column:
    """``YYYY-MM`` month bucket, reference-faithful form.

    The reference never parses dates: month is the first 7 chars of the
    string date (``src/transform/transform.py:126,142``;
    ``src/main_1.py:498``). Casting timestamp→string then substring
    reproduces that exactly and stays inside codegen (no UDF).
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.substring(c.cast("string"), 1, 7)


def full_name(first: Column | str, last: Column | str) -> Column:
    """``concat(first_name, ' ', last_name)`` per
    ``src/transform/transform.py:129,145``."""
    f = F.col(first) if isinstance(first, str) else first
    l = F.col(last) if isinstance(last, str) else last
    return F.concat(f, F.lit(" "), l)
