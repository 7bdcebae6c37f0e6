"""R-semantics shims (SURVEY.md §7 hard-part 2, 7).

R and Spark SQL disagree on three behaviors the reference relies on:

1. ``mean(x)`` without ``na.rm=TRUE`` returns NA if ANY element is NA
   (SQL AVG silently skips nulls). Both forms appear in one summarize
   block at ``R/on_off_nflreadr.R:60``.
2. ``round`` is banker's rounding (HALF_EVEN) in R; Spark's ``round``
   is HALF_UP. Spark's ``bround`` is the exact match.
3. ``ifelse(is.na(x), y, x)`` — NA-coalesce (``darko:83``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def r_mean(col: Column | str, na_rm: bool = False) -> Column:
    """R ``mean(x, na.rm=)``.

    na_rm=True → SQL AVG (null-skipping) — the common case.
    na_rm=False → NA-propagating: NULL if any input row is NULL
    (R/on_off_nflreadr.R:60 uses both in one block).
    """
    col = _c(col)
    if na_rm:
        return F.avg(col)
    return F.when(F.max(col.isNull().cast("int")) == 1, F.lit(None)).otherwise(
        F.avg(col)
    )


def r_sum(col: Column | str, na_rm: bool = False) -> Column:
    """R ``sum(x, na.rm=)``.

    na_rm=False (R's default) → NA-propagating: NULL if any input row
    is NULL (SQL SUM silently skips nulls); na_rm=True → SQL SUM.
    One R-vs-SQL wrinkle NOT modeled: R's sum of an EMPTY vector is 0
    where SQL SUM over zero rows is NULL — the reference only sums
    inside grouped summarize (groups are non-empty by construction),
    so the edge is unreachable there."""
    col = _c(col)
    if na_rm:
        return F.sum(col)
    return F.when(F.max(col.isNull().cast("int")) == 1, F.lit(None)).otherwise(
        F.sum(col)
    )


def r_cor(x: Column | str, y: Column | str) -> Column:
    """R ``cor(x, y)`` with the DEFAULT ``use = "everything"``: NA if
    ANY element of either vector is NA or NaN — unlike Spark's corr,
    which skips incomplete pairs (a complete.obs-like contract).
    Zero-variance input is NA in R (Spark: 0/0 = NaN) → NULL here.
    The reference uses the default at every pff/99_passblock cor site
    (``:213-216``, ``:261-267``) where the epa_predict grids opt into
    complete.obs explicitly."""
    x, y = _c(x), _c(y)
    xd, yd = x.cast("double"), y.cast("double")
    missing = x.isNull() | F.isnan(xd) | y.isNull() | F.isnan(yd)
    corr = F.corr(xd, yd)
    return F.when(F.max(missing.cast("int")) == 1, F.lit(None)).otherwise(
        F.when(F.isnan(corr), F.lit(None)).otherwise(corr)
    )


def r_round(col: Column | str, digits: int = 0) -> Column:
    """R ``round`` = HALF_EVEN (banker's) = Spark ``bround``."""
    return F.bround(_c(col), digits)


def r_cumsum(col: Column | str, partition_by, order_by) -> Column:
    """R grouped ``cumsum`` with the row order made explicit
    (R relies on frame order — R/wilson_game_pass_freq.R:29)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.sum(_c(col)).over(w)


def r_first(order, *cols: Column | str) -> Column:
    """Grouped ``dplyr::first(x)`` in an explicit row order
    (R/epa_predict.R:180,202; R/wilson_game_pass_freq.R:41-45), as ONE
    aggregate: the min of ``struct(*order, *cols)``. Read the wanted
    values as fields of the result (``r_first(o, "name")["name"]``).

    Same row as ``first(x)`` over a window ordered ascending by
    ``order``: structs compare field by field with NULLs first and NaN
    last, and a NULL value on the first row is returned as is. Ties on
    ``order`` fall to the value fields, so the pick is deterministic.
    Unlike the window it aggregates map-side before any exchange."""
    keys = [_c(o).alias(f"_order{i}") for i, o in enumerate(order)]
    return F.min(F.struct(*keys, *cols))


def r_ifelse_na(col: Column | str, fallback: Column | str) -> Column:
    """``ifelse(is.na(x), y, x)`` — NA-coalesce
    (darko/2_ourlads_projections.R:83)."""
    return F.coalesce(_c(col), _c(fallback) if isinstance(fallback, str) else fallback)


def r_mean_nan(col: Column | str) -> Column:
    """R ``mean(x, na.rm=T)`` INCLUDING the all-NA edge: R returns
    NaN for the mean of an empty vector, where SQL AVG returns NULL.
    na.rm=T only — R's STRICT mean of an any-NA group is NA (never
    NaN), which plain ``r_mean(na_rm=False)`` already models. Use for
    R-parity plan columns (wilson_epa, on/off fd, cpoe); oracle-gated
    queries keep plain ``r_mean`` — their DuckDB twin is SQL AVG,
    whose NULL is the contract there."""
    return F.coalesce(r_mean(col, na_rm=True), F.lit(float("nan")))
