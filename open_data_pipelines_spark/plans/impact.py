"""Flagship query: the Street Works Impact Index pipeline, re-shaped
onto the harness star schema.

Mirrors the reference's analytics DAG
(``dbt .../models/england_overview/*.sql`` +
``impact_scores_england.sql``) operator-for-operator:

  W1 top-1-per-key dedup  -> latest lineitem per order
  J4 anti-join            -> exclude "in progress" orders that already
                             have a returned line (the reference
                             excludes permits that also appear
                             completed, in_progress_list_england.sql:42-47)
  U1 union all            -> in-progress ∪ completed lists with tag
  J2/J3 left enrichment   -> customer (CAST-key join), nation — both
                             broadcast (small dims)
  J1 join+count           -> lines-per-order density
  X1 CASE scoring         -> category map + flag bonuses + tiers
  A2 group sum            -> total impact per nation
  W3 min-max normalize    -> 1..100 impact score (MIN/MAX OVER () on
                             the nation-grain aggregate, as the
                             reference writes it)
  X1 bucketing            -> Severe/High/Moderate/Low/Minimal

Analog mapping (harness stand-ins per FIXTURES.md "Mapping onto
harness tables"): orders=permits, lineitem=permit events,
customer+nation=promoter/authority dims, o_orderpriority=work_category,
l_quantity tier=traffic management tier, lines-per-order=uprn density.

Score increments are exact binary fractions (multiples of 0.5) so
per-row sums are exact and the decimal-summed group totals are
bit-identical to the DuckDB oracle regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scoring import bucket_label, category_score, flag_bonus, tier_score
from ..operators.aggregates import decimal_sum, minmax_normalize_small
from ..session import load_tables

PRIORITY_SCORES = {
    "1-URGENT": 5.0,  # Major -> 5
    "2-HIGH": 4.0,  # Immediate -> 4
    "3-MEDIUM": 2.0,  # Standard -> 2
    "4-NOT SPECIFIED": 1.0,  # Minor -> 1
    "5-LOW": 0.5,
}

QTY_TIERS = [(10.0, 2.0), (25.0, 1.0), (40.0, 0.5)]  # traffic-management analog
DENSITY_TIERS = [(1, 0.5), (2, 1.0), (3, 1.5), (4, 2.0), (5, 2.5), (6, 3.0), (7, 3.5)]
BUCKETS = [(20.0, "Minimal"), (40.0, "Low"), (60.0, "Moderate"), (80.0, "High")]


def impact_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    orders, lineitem, customer, nation = (
        t["orders"],
        t["lineitem"],
        t["customer"],
        t["nation"],
    )

    # ONE lineitem aggregation replaces three separate passes
    # (W1 window-dedup + J4's DISTINCT + J1's count), all sharing the
    # l_orderkey shuffle key:
    # - latest line (W1) as a lexicographic struct-max — identical to
    #   row_number over (shipdate DESC, linenumber DESC, quantity DESC,
    #   returnflag DESC): the sort keys cover every carried column
    #   because (l_shipdate, l_linenumber) alone is NOT unique in the
    #   harness data (SURVEY.md §7 watch list);
    # - has_returned flag (J4's exclusion set);
    # - line count (J1 density).
    # Narrow-scan spread (round 15, the distinct_on/top1 pattern): the
    # harness lineitem scans as one task (single row group), so the
    # partial max(struct) is a single-core SortAggregate over the
    # whole table. Repartitioning on the group key satisfies the
    # aggregation's distribution — exactly one exchange either way —
    # and no-ops on wide input, keeping map-side partial aggregation
    # (the scale-correct shape) at 100 TB.
    from ..operators.text_dedup import scale_out

    line_stats = scale_out(lineitem, "l_orderkey").groupBy("l_orderkey").agg(
        F.max(
            F.struct("l_shipdate", "l_linenumber", "l_quantity", "l_returnflag")
        ).alias("__latest"),
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("__has_returned"),
        F.count(F.lit(1)).alias("line_count"),
    )

    # J2 + J4 + U1 in one pass: left-join the stats once, then a CASE
    # list_type filter (semantically the anti-join + union of the
    # reference's two list models, without re-scanning orders).
    # Each DataFrame step is one eager analysis on the driver, so the
    # derived columns are added in one select rather than a withColumn
    # chain.
    joined = orders.join(line_stats, orders["o_orderkey"] == line_stats["l_orderkey"], "left")
    list_type = F.when(
        (F.col("o_orderstatus") == "O") & (F.coalesce(F.col("__has_returned"), F.lit(0)) == 0),
        F.lit("in_progress"),
    ).when(F.col("o_orderstatus") == "F", F.lit("completed"))
    permits = joined.select(
        "*",
        list_type.alias("list_type"),
        F.col("__latest.l_quantity").alias("l_quantity"),
        F.col("__latest.l_returnflag").alias("l_returnflag"),
    ).filter(F.col("list_type").isNotNull())

    # J3 (CAST-key) + J2 enrichment, broadcast small dims
    permits = permits.join(
        F.broadcast(customer),
        permits["o_custkey"].cast("int") == customer["c_custkey"].cast("int"),
        "left",
    )
    permits = permits.join(
        F.broadcast(nation), permits["c_nationkey"] == nation["n_nationkey"], "left"
    )

    # X1: scoring — addition order matters for float determinism; keep
    # left-assoc base + ttro + sensitive + tier + density (all halves).
    score = (
        category_score("o_orderpriority", PRIORITY_SCORES)
        + flag_bonus(F.col("l_returnflag") == "N", 0.5)
        + flag_bonus(F.col("c_mktsegment") == "AUTOMOBILE", 0.5)
        + tier_score("l_quantity", QTY_TIERS, default=0.0, null_score=0.5)
        + tier_score(F.coalesce(F.col("line_count"), F.lit(0)), DENSITY_TIERS, default=4.0)
    )

    # A2: total impact per nation (decimal-exact sum)
    grouped = permits.groupBy(F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation")).agg(
        decimal_sum(score, 2, "total_impact_level"),
        F.count(F.lit(1)).alias("permit_count"),
    )

    # W3 + X1: normalize then bucket. `grouped` has one row per nation
    # (at most 26), so the extremes come from a window over it: the
    # scoring chain above is planned and run once. The broadcast form
    # (minmax_normalize) plans a second copy of it for the extremes,
    # and that copy's aggregate prunes permit_count, so it neither
    # matches the first nor reuses its exchange.
    normalized = minmax_normalize_small(grouped, "total_impact_level", "impact_score")
    return normalized.select(
        "nation",
        "total_impact_level",
        "permit_count",
        "impact_score",
        bucket_label("impact_score", BUCKETS, "Severe").alias("impact_category"),
    )


# DuckDB oracle — must mirror the Spark expression tree exactly
# (operation order, literal values) so doubles match bit-for-bit.
IMPACT_ORACLE_SQL = """
WITH latest_line AS (
  SELECT l_orderkey, l_quantity, l_returnflag FROM (
    SELECT l_orderkey, l_quantity, l_returnflag,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_shipdate DESC, l_linenumber DESC,
                                       l_quantity DESC, l_returnflag DESC) AS rn
    FROM lineitem) WHERE rn = 1
), line_counts AS (
  SELECT l_orderkey AS lc_orderkey, count(*) AS line_count FROM lineitem GROUP BY 1
), returned AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
), permits AS (
  SELECT o.*, 'in_progress' AS list_type FROM orders o
  WHERE o.o_orderstatus = 'O'
    AND NOT EXISTS (SELECT 1 FROM returned r WHERE r.l_orderkey = o.o_orderkey)
  UNION ALL
  SELECT o.*, 'completed' AS list_type FROM orders o WHERE o.o_orderstatus = 'F'
), enriched AS (
  SELECT p.*, c.c_mktsegment, c.c_nationkey, n.n_name, ll.l_quantity,
         ll.l_returnflag, lc.line_count
  FROM permits p
  LEFT JOIN customer c ON CAST(p.o_custkey AS INT) = CAST(c.c_custkey AS INT)
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN latest_line ll ON p.o_orderkey = ll.l_orderkey
  LEFT JOIN line_counts lc ON p.o_orderkey = lc.lc_orderkey
), scored AS (
  SELECT COALESCE(n_name, 'UNKNOWN') AS nation,
    ((((CASE WHEN o_orderpriority = '1-URGENT' THEN 5.0
             WHEN o_orderpriority = '2-HIGH' THEN 4.0
             WHEN o_orderpriority = '3-MEDIUM' THEN 2.0
             WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1.0
             WHEN o_orderpriority = '5-LOW' THEN 0.5
             ELSE 0.0 END)
     + (CASE WHEN l_returnflag = 'N' THEN 0.5 ELSE 0.0 END))
     + (CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 0.5 ELSE 0.0 END))
     + (CASE WHEN l_quantity IS NULL THEN 0.5
             WHEN l_quantity <= 10.0 THEN 2.0
             WHEN l_quantity <= 25.0 THEN 1.0
             WHEN l_quantity <= 40.0 THEN 0.5
             ELSE 0.0 END))
     + (CASE WHEN COALESCE(line_count, 0) <= 1 THEN 0.5
             WHEN COALESCE(line_count, 0) <= 2 THEN 1.0
             WHEN COALESCE(line_count, 0) <= 3 THEN 1.5
             WHEN COALESCE(line_count, 0) <= 4 THEN 2.0
             WHEN COALESCE(line_count, 0) <= 5 THEN 2.5
             WHEN COALESCE(line_count, 0) <= 6 THEN 3.0
             WHEN COALESCE(line_count, 0) <= 7 THEN 3.5
             ELSE 4.0 END) AS row_score
  FROM enriched
), grouped AS (
  SELECT nation,
         CAST(SUM(CAST(row_score AS DECIMAL(18,2))) AS DOUBLE) AS total_impact_level,
         count(*) AS permit_count
  FROM scored GROUP BY nation
), extremes AS (
  SELECT min(total_impact_level) AS mn, max(total_impact_level) AS mx FROM grouped
), normalized AS (
  SELECT g.*, CASE WHEN (e.mx - e.mn) = 0 THEN 50.0
              ELSE 1.0 + (100.0 - 1.0) * (g.total_impact_level - e.mn) / (e.mx - e.mn)
              END AS impact_score
  FROM grouped g CROSS JOIN extremes e
)
SELECT nation, total_impact_level, permit_count, impact_score,
       CASE WHEN impact_score <= 20.0 THEN 'Minimal'
            WHEN impact_score <= 40.0 THEN 'Low'
            WHEN impact_score <= 60.0 THEN 'Moderate'
            WHEN impact_score <= 80.0 THEN 'High'
            ELSE 'Severe' END AS impact_category
FROM normalized
"""
