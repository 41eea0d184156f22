"""Join operators: enrichment, anti/semi, cast-key, planar range join.

Reference semantics being reproduced:

- J1 inner equi-join + count (``dbt .../uprn_usrn_count.sql:4-11``)
- J2/J3/J7 chained LEFT OUTER enrichment joins, one on a CAST
  expression key (``in_progress_list_england.sql:37-40``,
  ``int_postcodes.sql:44-50``)
- J4 anti-join via NOT IN subquery (``in_progress_list_england.sql:42-47``)
- J5 self-join duplicate-overlap test
  (``data_tests/assert_no_duplicate_permits_between_progress_and_completed_england.sql``)
- J6 spatial range join: ±500 m bbox prefilter + exact containment
  (``int_emergency_works_postcodes_by_authority.sql:32-38``). On planar
  BNG coordinates ``ST_Contains(ST_Buffer(p, r), q)`` is exactly
  ``dist(p, q) <= r``, so the whole thing is expressible as a non-equi
  join on arithmetic — no geo library needed.

Scale notes: enrichment dims (SWA codes ~2k rows, uprn counts) must go
broadcast — `broadcast_enrich` forces the hint rather than trusting the
threshold. The range join pairs a coarse grid-cell equi-join
(`grid_cell`) with the exact predicate: the equi-join gives Catalyst a
shuffle key, turning an O(n*m) Cartesian range join into a co-located
per-cell join — the same trick as the reference's manual bbox prefilter,
but partition-aware for a 1000-executor cluster.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_enrich(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Column | str]],
) -> DataFrame:
    """Chained LEFT JOIN of small dimensions, all broadcast.

    ``dims`` is a sequence of (dim_df, join_condition_or_column).
    """
    out = fact
    for dim, cond in dims:
        out = out.join(F.broadcast(dim), cond, "left")
    return out


def cast_key_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    cast_to: str = "int",
    how: str = "left",
) -> DataFrame:
    """Join on CAST(k) = CAST(k) — null-on-failure cast keys (J3)."""
    cond = left[left_key].cast(cast_to) == right[right_key].cast(cast_to)
    return left.join(right, cond, how)


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT IN / NOT EXISTS — Spark left_anti (no null-trap, unlike NOT IN)."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — left_semi."""
    return left.join(right, on, "left_semi")


def overlap_count(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Duplicate-overlap assertion (J5): rows present in both sides.

    The reference's dbt data test asserts this count is zero.
    """
    return semi_join(left, right, on).agg(F.count(F.lit(1)).alias("overlap_count"))


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    salt_mod: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed side, replicate the
    other side across all salts, join on (key, salt).

    A hot key's rows land in ``salt_mod`` different shuffle partitions
    instead of one. AQE's skew-join split covers most cases at runtime;
    explicit salting is for pathological keys known up front (the
    reference's uprn->usrn fan-out, FIXTURES.md F3). Result is
    identical to the plain join — only the shuffle changes.

    Only inner/left joins: the ``other`` side is replicated per salt,
    so right/full-outer would emit unmatched ``other`` rows salt_mod
    times.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left only, got {how!r}")
    s = skewed.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_mod)))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_mod - 1)))
    o = other.withColumn("__salt", salts)
    out = s.join(o, (s[skewed_key] == o[other_key]) & (s["__salt"] == o["__salt"]), how)
    return out.drop("__salt")


def grid_cell(x: Column, y: Column, cell: float) -> Column:
    """Coarse grid-cell id for planar points — the scale path for
    range joins: equi-join on cell (plus neighbor cells) co-locates
    candidate pairs before the exact distance test."""
    return F.concat_ws(
        ":",
        F.floor(x / F.lit(cell)).cast("long"),
        F.floor(y / F.lit(cell)).cast("long"),
    )


def range_join_within(
    points_a: DataFrame,
    points_b: DataFrame,
    ax: str,
    ay: str,
    bx: str,
    by: str,
    radius: float,
) -> DataFrame:
    """All (a, b) pairs within ``radius`` on planar coordinates.

    bbox prefilter (cheap conjunctive ranges, mirrors the reference's
    hand-written optimization) AND exact squared-distance test —
    sqrt avoided so integer/exact inputs stay exact.
    """
    dx = points_a[ax] - points_b[bx]
    dy = points_a[ay] - points_b[by]
    cond = (
        (points_a[ax] >= points_b[bx] - radius)
        & (points_a[ax] <= points_b[bx] + radius)
        & (points_a[ay] >= points_b[by] - radius)
        & (points_a[ay] <= points_b[by] + radius)
        & (dx * dx + dy * dy <= F.lit(radius * radius))
    )
    return points_a.join(points_b, cond)


def range_join_within_gridded(
    points_a: DataFrame,
    points_b: DataFrame,
    ax: str,
    ay: str,
    bx: str,
    by: str,
    radius: float,
) -> DataFrame:
    """Scale variant of :func:`range_join_within`.

    B-side points are replicated into the 3x3 neighborhood of their
    grid cell (cell = radius) so every within-radius pair shares a cell
    with exactly one replica; the join is then an equi-join on cell +
    exact distance — a plain hash shuffle instead of a broadcast
    nested-loop, which is what survives 100 TB.
    """
    cell = float(radius)
    a = points_a.withColumn("__cell", grid_cell(F.col(ax), F.col(ay), cell))
    neighbor = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    )
    b = (
        points_b.withColumn("__dxc", neighbor)
        .withColumn("__dyc", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn(
            "__cell",
            F.concat_ws(
                ":",
                (F.floor(F.col(bx) / F.lit(cell)) + F.col("__dxc")).cast("long"),
                (F.floor(F.col(by) / F.lit(cell)) + F.col("__dyc")).cast("long"),
            ),
        )
        .drop("__dxc", "__dyc")
    )
    dx = a[ax] - b[bx]
    dy = a[ay] - b[by]
    out = a.join(b, (a["__cell"] == b["__cell"]) & (dx * dx + dy * dy <= F.lit(radius * radius)))
    return out.drop("__cell")


#: Largest b-side size estimate :func:`range_join_within_auto` joins
#: by broadcast nested loop; a larger side takes the gridded join.
RANGE_BROADCAST_BYTES = 1 << 20


def range_join_within_auto(
    points_a: DataFrame,
    points_b: DataFrame,
    ax: str,
    ay: str,
    bx: str,
    by: str,
    radius: float,
) -> DataFrame:
    """Strategy-choosing planar range join (J6/F4/X9).

    Broadcast bbox nested-loop when the b-side's Catalyst size
    estimate is dim-sized (``RANGE_BROADCAST_BYTES``: 1 MB ~ tens of
    thousands of points — deliberately LOWER than autoBroadcastJoinThreshold: the
    nested loop evaluates |A|x|B| pairs, so a side can fit a broadcast
    yet still lose to the gridded candidate cut; measured crossover in
    ``STRESS.md``). The gridded 3x3-replica equi-join otherwise — a
    plain hash shuffle, which is what survives two large sides at
    100 TB. The decision reads plan statistics, no extra action.
    """
    est = int(points_b._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if 0 < est <= RANGE_BROADCAST_BYTES:
        return range_join_within(points_a, F.broadcast(points_b), ax, ay, bx, by, radius)
    return range_join_within_gridded(points_a, points_b, ax, ay, bx, by, radius)
