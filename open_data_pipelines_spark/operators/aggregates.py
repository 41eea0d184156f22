"""Aggregation operators (SURVEY.md §2.6-2.7).

Reference semantics being reproduced:

- A2 multi-key GROUP BY + SUM (``dbt .../impact_scores_england.sql:112-131``)
- A3 conditional aggregation SUM(CASE WHEN ...) / COUNT(CASE WHEN ...)
  (``int_postcodes.sql:21-26``, ``impact_scores_highway_authority_england.sql:159-168``)
- A4 COUNT(DISTINCT) + AVG/MAX/MIN/SUM battery (``:176-216``)
- A5 PERCENT_RANK over a grouped aggregate (``:189``)
- W3 global min-max normalization with constant-input guard -> 50.0
  (``impact_scores_england.sql:142-150``)
- W4 PERCENT_RANK * 100 scaling (``impact_scores_highway_authority_england.sql:141``)

Scale notes: W3's empty-partition window (`MIN(x) OVER ()`) funnels the
whole dataset through ONE partition. :func:`minmax_normalize` instead
computes the two scalars with a regular (map-side combinable)
aggregation and broadcast-cross-joins them back — same result, no
single-partition shuffle, but two reads of the input.
:func:`minmax_normalize_small` keeps the window for inputs a dimension
bounds to a few rows. PERCENT_RANK is inherently a global sort; we
keep it for parity (it runs on grouped, already-small data in the
reference) and note `approx` percentile alternatives for raw-fact scale.

Exactness for oracle checks: money-ish sums go through DECIMAL(18,2)
and back to DOUBLE so the result is order-independent and bit-identical
to DuckDB's (floating sums are order-dependent; decimal sums are not).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def decimal_sum(col: Column | str, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent exact sum of a double column.

    Sum in DECIMAL(18, scale), return DOUBLE — deterministic under any
    partitioning/AQE re-plan, and matches the DuckDB oracle bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def decimal_avg(col: Column | str, scale: int = 6, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum / count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(27,{scale})")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def conditional_sum(cond: Column, value: Column, alias: str) -> Column:
    """SUM(CASE WHEN cond THEN value ELSE 0 END)."""
    return F.sum(F.when(cond, value).otherwise(F.lit(0))).alias(alias)


def conditional_count(cond: Column, alias: str) -> Column:
    """COUNT(CASE WHEN cond THEN 1 END)."""
    return F.count(F.when(cond, F.lit(1))).alias(alias)


def _minmax_scaled(
    x: Column, mn: Column, mx: Column, lo: float, hi: float, constant_value: float
) -> Column:
    span = mx - mn
    return F.when(span == 0, F.lit(constant_value)).otherwise(
        F.lit(lo) + (F.lit(hi) - F.lit(lo)) * (x - mn) / span
    )


def minmax_normalize(
    df: DataFrame,
    value_col: str,
    out_col: str,
    lo: float = 1.0,
    hi: float = 100.0,
    constant_value: float = 50.0,
) -> DataFrame:
    """``lo + (hi-lo) * (x - min) / NULLIF(max - min, 0)``, constant -> 50.

    Reference: ``impact_scores_england.sql:142-150`` uses
    ``MIN/MAX(x) OVER ()`` — a single-partition global window. Here the
    extremes come from a scalar aggregate broadcast back via cross
    join: identical algebra, and no single-partition stage. ``df`` is
    read twice, once for the extremes; the extremes read reuses the
    main read's exchange only when both plan alike, so when the
    extremes branch prunes columns the main read keeps, everything
    below ``df``'s last exchange runs twice. For an input bounded to a
    few rows, :func:`minmax_normalize_small` reads it once.
    """
    extremes = df.agg(
        F.min(value_col).alias("__mn"), F.max(value_col).alias("__mx")
    )
    norm = _minmax_scaled(
        F.col(value_col), F.col("__mn"), F.col("__mx"), lo, hi, constant_value
    )
    return (
        df.crossJoin(F.broadcast(extremes))
        .withColumn(out_col, norm)
        .drop("__mn", "__mx")
    )


def minmax_normalize_small(
    df: DataFrame,
    value_col: str,
    out_col: str,
    lo: float = 1.0,
    hi: float = 100.0,
    constant_value: float = 50.0,
) -> DataFrame:
    """:func:`minmax_normalize` with the reference's own form,
    ``MIN/MAX(x) OVER ()``: ``df`` is read once, and all of it goes
    through one task. Only for an input a dimension bounds to a few
    rows (the impact mart's nation grain: at most 26)."""
    w = Window.partitionBy()
    extremes = df.select(
        "*",
        F.min(value_col).over(w).alias("__mn"),
        F.max(value_col).over(w).alias("__mx"),
    )
    norm = _minmax_scaled(
        F.col(value_col), F.col("__mn"), F.col("__mx"), lo, hi, constant_value
    )
    return extremes.select(*df.columns, norm.alias(out_col))


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    salt: Column,
    salt_mod: int,
    alias: str,
    scale: int = 2,
) -> DataFrame:
    """Skew-resistant two-stage sum: partial-aggregate on
    (keys, salt % salt_mod) then merge on keys.

    With a hot key, a plain groupBy funnels that key's rows through
    one reducer; salting spreads them over ``salt_mod`` reducers and
    merges the (tiny) partials. Decimal-routed, so the result is
    bit-identical to the unsalted sum — salting changes the shuffle,
    never the answer. (Spark's map-side partial aggregation already
    mitigates this for algebraic aggs; explicit salting is the pattern
    for when combine ratios are poor — many distinct keys per task —
    or for non-algebraic states.)
    """
    stage1 = df.groupBy(
        *keys, F.pmod(salt, F.lit(salt_mod)).alias("__salt")
    ).agg(F.sum(value.cast(f"decimal(18,{scale})")).alias("__partial"))
    return stage1.groupBy(*keys).agg(
        F.sum("__partial").cast("double").alias(alias)
    )


def running_sum_scaled(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value: Column,
    alias: str,
    num_partitions: int | None = None,
    scale: int = 2,
) -> DataFrame:
    """Skew-immune running (cumulative) sum per key — the two-pass
    distributed prefix aggregation the round-15 skew stress names as
    the escape for hot-key windows.

    A plain ``SUM(v) OVER (PARTITION BY key ORDER BY ord)`` sorts and
    scans each key inside ONE task; AQE cannot split a window
    partition and (unlike ``rn = 1`` filters) there is no
    WindowGroupLimit rescue, so a key holding 13% of a 100 TB table
    serializes 13 TB through one core (measured 3.9x task-time skew
    at 8M rows, STRESS.md round 15). The textbook fix, expressed
    entirely in DataFrame ops:

    1. ``repartitionByRange(keys..., order_by...)`` — the hot key's
       rows SPLIT across consecutive range partitions in order;
    2. a local running sum windowed by ``(spark_partition_id, keys)``
       — every window partition is now bounded by the range-partition
       size, hot key or not;
    3. per-(pid, key) totals get a per-key exclusive prefix over pid
       (a window over at most ``num_partitions`` rows per key), then
       only NON-ZERO offsets survive — a key fully inside one range
       partition needs none, and each partition boundary can split at
       most ONE key, so the broadcast side is bounded by
       ``num_partitions - 1`` rows at ANY key cardinality.

    The range partitioning is captured by a lazy checkpoint before
    both consumers: partition ids must be IDENTICAL in the local pass
    and the totals pass (a recomputed range exchange may sample
    different boundaries), and the checkpoint also guarantees the
    nondeterministic-boundary exchange executes once.

    ``order_by`` must be a TOTAL order within each key (the repo-wide
    window rule): a tie straddling a range-partition boundary would
    otherwise split what the single-window form treats as one RANGE
    frame. With a total order this is value-identical to the window
    form under a ROWS frame — pinned in
    tests/test_macros_salting.py::test_running_sum_scaled_matches_window.
    The sum is decimal-routed (order-independent, bit-identical
    across partitionings, the ``decimal_sum`` rule).

    ``num_partitions`` sets the RANGE granularity, which is the
    per-task work bound: the largest (pid, key) window group is one
    full range partition (a partition the hot key owns outright), i.e.
    ``n_rows / num_partitions`` rows REGARDLESS of key distribution —
    that is the whole point; the plain window's bound is ``hot_share x
    n_rows``, unbounded in the hot key. Residual task spread is then
    balls-in-bins PLACEMENT noise (which reducer draws how many
    groups), bounded by ``shuffle_partitions / num_partitions`` x
    mean; it does NOT grow with the hot key. Default: the session's
    shuffle partition count (bound == mean reducer load), falling
    back to ``defaultParallelism``. Raising it past the shuffle count
    trades smoother placement for more range/sort overhead — measured
    a real wall-time loss at 4x on 8M rows (STRESS.md round 15), so
    oversample only when the per-task bound itself is the problem.
    The two-pass form costs ~2-4x the single window's wall at small
    scale (range sample pass + checkpoint + one extra agg): it is
    INSURANCE, priced for the regime where the hot key exceeds what
    one task can sort — use the plain window until profiling says
    otherwise.
    """
    from ..caching import lazy_checkpoint

    if num_partitions is None:
        try:
            num_partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            num_partitions = df.sparkSession.sparkContext.defaultParallelism
    n = num_partitions
    dec = value.cast(f"decimal(18,{scale})")
    part = (
        df.repartitionByRange(n, *[F.col(c) for c in [*keys, *order_by]])
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", dec)
    )
    part = lazy_checkpoint(part)

    w_local = (
        Window.partitionBy("__pid", *keys)
        .orderBy(*[F.col(c) for c in order_by])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("__run", F.sum("__v").over(w_local))

    w_off = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        part.groupBy("__pid", *keys)
        .agg(F.sum("__v").alias("__t"))
        .withColumn("__off", F.sum("__t").over(w_off) - F.col("__t"))
        # bounded broadcast: zero-offset rows (keys that never cross a
        # partition boundary) carry no information — what remains is
        # at most one row per boundary, i.e. < num_partitions rows
        .filter(F.col("__off") != 0)
        .select("__pid", *keys, "__off")
    )
    return (
        local.join(F.broadcast(offsets), ["__pid", *keys], "left")
        .withColumn(
            alias,
            (F.col("__run") + F.coalesce("__off", F.lit(0))).cast("double"),
        )
        .drop("__pid", "__v", "__run", "__off")
    )


def approx_distinct(
    df: DataFrame, keys: Sequence[str], col: str, rsd: float = 0.05
) -> DataFrame:
    """The 100 TB-scale variant of A4's exact COUNT(DISTINCT):
    HyperLogLog++ sketch, one pass, mergeable, no per-key set state.
    Exact semantics stay available for oracle checks (A4 note,
    SURVEY.md §2.6)."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(col, rsd).alias(f"approx_{col}"),
        F.countDistinct(col).alias(f"exact_{col}"),
    )


def percent_rank_over(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str,
    scale: float = 1.0,
) -> DataFrame:
    """PERCENT_RANK() OVER (ORDER BY ...) [* scale].

    Global window — single partition by construction. Use only on
    pre-aggregated (small) frames, as the reference does; for raw-fact
    percentiles at 100 TB use approx_percentile instead.
    """
    w = Window.orderBy(*order_by)
    c = F.percent_rank().over(w)
    if scale != 1.0:
        c = c * F.lit(scale)
    return df.withColumn(out_col, c)
