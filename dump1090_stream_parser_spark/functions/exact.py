"""Exact (scaled-integer) aggregation helpers.

Cross-engine value parity rule: a SUM of doubles depends on FP
association order, which differs between Spark's partial+final
aggregation and a single-threaded engine -- and ``round()`` can't repair
it because engines disagree on decimal-boundary halves. Money columns in
this schema are exact 2-decimal values, so the deterministic form is:
scale to integer units, sum exactly (long), divide once at the end.
The single final division is bit-identical everywhere.

The same rule makes exact order statistics cheap: with integer values
and weights, "the smallest value at or above rank num/den" is an
integer comparison over running sums (:func:`rank_cuts`), so no
interpolation policy has to agree across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scaled_int(col: Column, scale: int = 100) -> Column:
    """Exact integer representation of a fixed-decimal double column."""
    return F.round(col * scale, 0).cast("long")


def scaled_int_sql(expr: str, scale: int = 100) -> str:
    return f"CAST(round(({expr}) * {scale}) AS BIGINT)"


def exact_money_sum(col: Column, scale: int = 100) -> Column:
    """SUM(money) with deterministic result: sum in cents, divide once."""
    return F.sum(scaled_int(col, scale)) / float(scale)


def exact_money_sum_sql(expr: str, scale: int = 100) -> str:
    return f"SUM({scaled_int_sql(expr, scale)}) / {float(scale)}"


def rank_cuts(
    c: DataFrame,
    group: str,
    value: str,
    weight: str,
    cuts: dict[str, tuple[int, int]],
) -> DataFrame:
    """Exact weighted rank cuts per ``group``, as window columns.

    Returns ``c``'s columns plus ``tot`` (the group's summed
    ``weight``) and, for each ``name: (num, den)`` in ``cuts``, a
    column ``name``: the smallest ``value`` whose running weight
    ``cum`` (in ``value`` order) satisfies ``den * cum >= num * tot``.
    The predicate is integer arithmetic on integer weights, so the
    pick is exact. Ties in ``value`` need no RANGE frame: the last row
    of a tied run carries the run's full running weight, and it is
    the row that first meets the predicate if any row of the run does.

    Every column comes from one ``Window.partitionBy(group)``, so a
    frame already hash-partitioned on ``group`` (``keyed_spread`` on
    the group alone) feeds the cuts and a following ``groupBy(group)``
    with no further exchange.
    """
    grp = Window.partitionBy(group)
    cum = F.sum(weight).over(
        grp.orderBy(value).rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = c.select(
        "*", cum.alias("_cum"), F.sum(weight).over(grp).alias("tot")
    )
    return ranked.select(
        "*",
        *[
            F.min(
                F.when(den * F.col("_cum") >= num * F.col("tot"), F.col(value))
            )
            .over(grp)
            .alias(name)
            for name, (num, den) in cuts.items()
        ],
    ).drop("_cum")
