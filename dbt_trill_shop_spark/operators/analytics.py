"""dbt_utils / audit-helper capability surface + time-series analytics.

The reference declares dbt_utils, dbt_date and audit-helper without calling
them (``packages.yml:1-7``, SURVEY.md §2.8); these operators provide that
declared surface natively, plus the windowed analytics the domain implies
(SURVEY.md §2.5 W1 — reconstructing the trends `rank` column) and
sessionization over the events stream table.

Cross-engine exactness rules are the same as ``relational.py``: scaled-int
money, microsecond-integer time arithmetic (``timestampdiff(MICROSECOND)``
== DuckDB ``date_diff('microsecond')`` — both exact int64 on µs-precision
timestamps), unique tie-breaks on every window ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..localrel import values_relation
from ..overlap import overlap_ctes, set_overlap

from ..catalog import load_table
from ..functions import generate_surrogate_key
from .relational import cents

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

SESSION_GAP_MINUTES = 30


# Portable weekday id (0=Sun..6=Sat): days since a known Sunday, mod 7 —
# Spark's dayofweek is 1-7 Sun-first and DuckDB's 0-6 Mon-first, so every
# weekday-keyed operator anchors on a date instead (shared by seasonality,
# punchcard, A/B tests, weekend lift).
_DOW_ANCHOR = "2024-01-07"
DOW_ID_SQL = (
    "((date_diff('day', DATE '2024-01-07', CAST({col} AS DATE))) % 7 + 7) % 7"
)


def _dow_id(col):
    return F.pmod(
        F.datediff(col.cast("date"), F.lit(_DOW_ANCHOR).cast("date")), 7
    )


def date_spine_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt_utils.date_spine: dense calendar via sequence+explode, left-joined
    to daily event counts with zero-fill.  The spine is generated, not
    scanned, so it costs nothing at any scale; the join broadcasts the spine."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-02-29").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("date_day")
    )
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("date_day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(daily, "date_day", "left")
        .select("date_day", F.coalesce("n", F.lit(0)).alias("event_count"))
        .orderBy("date_day")
    )


DATE_SPINE_EVENTS_SQL = """
WITH spine AS (
    SELECT CAST(UNNEST(generate_series(DATE '2024-01-01', DATE '2024-02-29',
                                       INTERVAL 1 DAY)) AS DATE) AS date_day
),
daily AS (
    SELECT CAST(ts AS DATE) AS date_day, COUNT(*) AS n
    FROM events GROUP BY CAST(ts AS DATE)
)
SELECT spine.date_day, COALESCE(daily.n, 0) AS event_count
FROM spine LEFT JOIN daily USING (date_day)
ORDER BY date_day
"""


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt_utils.pivot: weekly event counts, one column per event type.
    Explicit value list -> single-pass pivot (no extra distinct-values job)."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.select(F.date_trunc("week", "ts").cast("date").alias("week"), "event_type")
        .groupBy("week")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "week", *[F.coalesce(t, F.lit(0)).alias(t) for t in EVENT_TYPES]
    ).orderBy("week")


PIVOT_EVENTS_SQL = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
       COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
FROM events
GROUP BY CAST(date_trunc('week', ts) AS DATE)
ORDER BY week
"""


def unpivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt_utils.unpivot: melt the pivoted weekly counts back to long form
    (Spark's native ``unpivot``; zero rows are preserved)."""
    wide = pivot_events(spark, sf_dir)
    return wide.unpivot(
        ids=["week"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="event_count",
    ).orderBy("week", "event_type")


UNPIVOT_EVENTS_SQL = """
WITH wide AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events GROUP BY CAST(date_trunc('week', ts) AS DATE)
)
SELECT week, 'click' AS event_type, click AS event_count FROM wide
UNION ALL SELECT week, 'error', error FROM wide
UNION ALL SELECT week, 'purchase', purchase FROM wide
UNION ALL SELECT week, 'signup', signup FROM wide
UNION ALL SELECT week, 'view', view FROM wide
ORDER BY week, event_type
"""


def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt_utils.generate_surrogate_key over customer grain."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        generate_surrogate_key("c_custkey", "c_nationkey", "c_mktsegment").alias(
            "surrogate_key"
        ),
    )


SURROGATE_KEYS_SQL = """
SELECT c_custkey,
       md5(concat_ws('-',
           COALESCE(CAST(c_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
           COALESCE(CAST(c_nationkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
           COALESCE(CAST(c_mktsegment AS VARCHAR), '_dbt_utils_surrogate_key_null_')))
           AS surrogate_key
FROM customer
"""


def compare_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audit_helper.compare_relations (SURVEY.md §2.8): full outer join on the
    PK + column compare, summarized by match status.  Relation B is a
    deterministic perturbation of orders (drop every 97th key, bump every
    89th total) so all four statuses are exercised."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", cents("o_totalprice").alias("total_cents"))
    b = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 89 == 0, cents("o_totalprice") + 1
        )
        .otherwise(cents("o_totalprice"))
        .alias("total_cents"),
    )
    joined = a.alias("a").join(b.alias("b"), on="o_orderkey", how="full_outer")
    status = (
        F.when(F.col("a.total_cents").isNull(), "only_in_b")
        .when(F.col("b.total_cents").isNull(), "only_in_a")
        .when(F.col("a.total_cents") == F.col("b.total_cents"), "match")
        .otherwise("mismatch")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("status")
    )


COMPARE_RELATIONS_SQL = """
WITH a AS (
    SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_cents
    FROM orders
),
b AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 89 = 0
                THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 1
                ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) END AS total_cents
    FROM orders WHERE o_orderkey % 97 != 0
)
SELECT status, COUNT(*) AS row_count FROM (
    SELECT CASE WHEN a.total_cents IS NULL THEN 'only_in_b'
                WHEN b.total_cents IS NULL THEN 'only_in_a'
                WHEN a.total_cents = b.total_cents THEN 'match'
                ELSE 'mismatch' END AS status
    FROM a FULL OUTER JOIN b USING (o_orderkey)
) t
GROUP BY status ORDER BY status
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the classic two-window
    pattern — lag to flag session starts, running sum to number sessions,
    then one aggregate per session.  All windows partition by user_id
    (high cardinality -> even shuffle); time math in integer microseconds."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            gap_us.isNull() | (gap_us > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("is_start").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("duration_us"),
        )
        .orderBy("user_id", "session_id")
    )


SESSIONIZE_EVENTS_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > {SESSION_GAP_MINUTES} * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, event_id,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       date_diff('microsecond', MIN(ts), MAX(ts)) AS duration_us
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) by order value within each order year — windows partitioned
    by year so no global single-partition sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("order_year").orderBy("total_cents", "o_orderkey")
    base = orders.select(
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        cents("o_totalprice").alias("total_cents"),
        "o_orderkey",
    )
    tiled = base.withColumn("quartile", F.ntile(4).over(w).cast("bigint"))
    return (
        tiled.groupBy("order_year", "quartile")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.min("total_cents").alias("min_cents"),
            F.max("total_cents").alias("max_cents"),
        )
        .orderBy("order_year", "quartile")
    )


ORDER_QUARTILES_SQL = """
WITH base AS (
    SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS order_year,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
           o_orderkey
    FROM orders
),
tiled AS (
    SELECT order_year, total_cents,
           CAST(NTILE(4) OVER (PARTITION BY order_year
                               ORDER BY total_cents, o_orderkey) AS BIGINT) AS quartile
    FROM base
)
SELECT order_year, quartile, COUNT(*) AS order_count,
       MIN(total_cents) AS min_cents, MAX(total_cents) AS max_cents
FROM tiled
GROUP BY order_year, quartile
ORDER BY order_year, quartile
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) subtotals + grand total over order revenue —
    Spark computes this as a single expand+aggregate, no repeated scans."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.select("r_name", "n_name", cents("o_totalprice").alias("total_cents"))
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            (F.sum("total_cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("r_name", "n_name")
    )


REVENUE_ROLLUP_SQL = """
SELECT r_name, n_name, COUNT(*) AS order_count,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name, n_name
"""


def rank_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2.5 W1 / §7.6: reproduce the trends `rank` data column from
    raw scores with a real ``rank()`` window (ties share a rank), per
    (week, dma).  Output is the per-(week,dma,score) rank mapping."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 50).alias("dma_id"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.least(F.floor("value") % 101, F.lit(100)).alias("score"),
    ).distinct()
    w = Window.partitionBy("week", "dma_id").orderBy(F.desc("score"))
    return base.withColumn("rank_calc", F.rank().over(w).cast("bigint")).orderBy(
        "week", "dma_id", "rank_calc"
    )


RANK_RECONSTRUCTION_SQL = """
WITH base AS (
    SELECT DISTINCT user_id % 50 AS dma_id,
           CAST(date_trunc('week', ts) AS DATE) AS week,
           LEAST(CAST(FLOOR(value) AS BIGINT) % 101, 100) AS score
    FROM events
)
SELECT dma_id, week, score,
       CAST(RANK() OVER (PARTITION BY week, dma_id ORDER BY score DESC) AS BIGINT)
           AS rank_calc
FROM base
ORDER BY week, dma_id, rank_calc
"""


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the events ``props``
    JSON column (get_json_object — JVM-side Jackson path eval, no UDF) and
    aggregate per event type.  avg is computed as exact-int SUM / COUNT so
    the division is the only float op (cross-engine stable)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k").cast("double") / F.count(F.lit(1)), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_STATS_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS avg_k
FROM (
    SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
) t
GROUP BY event_type
ORDER BY event_type
"""


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, week): all four grouping combinations in one
    pass (Catalyst expands to a single shuffle).  Money kept in scaled-int
    cents until the final division so sums are order-independent."""
    ev = load_table(spark, sf_dir, "events")
    cents_v = F.round(F.col("value") * 100, 0).cast("bigint")
    base = ev.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        cents_v.alias("cents"),
    )
    return (
        base.cube("event_type", "week")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents").cast("double") / 100.0).alias("total_value"),
        )
        # grouped-out dimensions surface as 'ALL', not NULL: typed-NULL date
        # cells are a cross-engine comparison hazard (pandas NaT vs None)
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("week").cast("string"), F.lit("ALL")).alias("week"),
            "n_events",
            "total_value",
        )
        .orderBy("event_type", "week")
    )


REVENUE_CUBE_SQL = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR), 'ALL') AS week,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(date_trunc('week', ts) AS DATE))
ORDER BY event_type, week
"""


#: KMV (bottom-k minimum values) estimator parameters.  The hash is TWO
#: LCG rounds mod 2^31 — Hull-Dobell parameters, so each round is a
#: PERMUTATION of [0, 2^31): no engineered collisions, and the arithmetic
#: (integer multiply/add/mod on non-negative operands) evaluates
#: bit-identically in Spark SQL and DuckDB, which is what makes the
#: estimate oracle-expressible where HLL++ sketches are engine-specific.
_KMV_K = 64
_KMV_M = 2_147_483_648  # 2^31, the hash space
_KMV_HASH = (
    "((((user_id * 1103515245 + 12345) % 2147483648)"
    " * 1103515245 + 12345) % 2147483648)"
)


def weekly_unique_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB escape hatch for count(distinct), DETERMINISTIC form
    (VERDICT r9 #2): a KMV / bottom-k distinct estimator (Bar-Yossef et
    al. 2002).  Hash each user id to [0, 2^31) with a cross-engine
    integer permutation, keep each week's k=64 SMALLEST distinct hashes
    (k sized so the estimator branch FIRES at the sf0.01 driver gate,
    where weeks hold ~150 distinct users — k=256 would always take the
    exact-count fallback and leave the estimator dark),
    and estimate the cardinality from the k-th minimum:

        n̂ = floor((k-1) * M / (h_k + 1));    n̂ = exact count when n < k

    Every step is integer-or-single-IEEE-division arithmetic, so the
    DuckDB twin computes the IDENTICAL estimate — a full value-hash
    oracle where the previous ``approx_count_distinct`` (HLL++)
    formulation could only ever be rows-only checked.  Scale shape: the
    shuffle carries (week, 8-byte hash) distinct pairs with map-side
    partial distinct, the per-week sort ranks at most the distinct
    hashes, and the estimator state is mergeable and bounded by k.
    Accuracy vs the exact distinct count is asserted in tests/test_ext.py
    (~1/sqrt(k) ≈ 13% expected relative error).  The engine-native HLL++
    variant lives on as :func:`weekly_unique_users_hll` (pytest-only
    demo)."""
    ev = load_table(spark, sf_dir, "events")
    # NULL ids are excluded like count(distinct)'s (and a NULL hash would
    # rank NULLS FIRST in Spark but NULLS LAST in DuckDB)
    hashes = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            F.expr(_KMV_HASH).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("week").orderBy("h")
    ranked = hashes.select("week", "h", F.row_number().over(w).alias("rn"))
    est = F.coalesce(
        F.floor(
            F.lit(float((_KMV_K - 1) * _KMV_M))
            / (F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))) + 1)
        ),
        F.count(F.lit(1)),
    )
    return (
        ranked.groupBy("week")
        .agg(est.cast("bigint").alias("approx_unique_users"))
        .orderBy("week")
    )


WEEKLY_UNIQUE_USERS_APPROX_SQL = """
WITH hashes AS (
    SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week,
           ((((user_id * 1103515245 + 12345) % 2147483648)
             * 1103515245 + 12345) % 2147483648) AS h
    FROM events
    WHERE user_id IS NOT NULL
), ranked AS (
    SELECT week, h, ROW_NUMBER() OVER (PARTITION BY week ORDER BY h) AS rn
    FROM hashes
)
SELECT week,
       CAST(COALESCE(
           FLOOR(63.0 * 2147483648 / (MAX(CASE WHEN rn = 64 THEN h END) + 1)),
           COUNT(*)
       ) AS BIGINT) AS approx_unique_users
FROM ranked
GROUP BY week
ORDER BY week
"""


def weekly_unique_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-native sketch variant (``approx_count_distinct``,
    HyperLogLog++ — one pass, no expand plan, mergeable).  Its per-week
    estimates are ENGINE-SPECIFIC (DuckDB's HLL differs in variant and
    seeding), so it carries no cross-engine oracle and is a pytest-only
    demo; the registered ``q_weekly_unique_users_approx`` uses the
    deterministic KMV formulation above."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_unique_users"))
        .orderBy("week")
    )


def weekly_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window surface: week-over-week change in event volume per
    event type.  Money stays scaled-int until the final division."""
    ev = load_table(spark, sf_dir, "events")
    weekly = (
        ev.groupBy(
            "event_type",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week")
    return weekly.select(
        "event_type",
        "week",
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("total_value"),
        (F.col("n_events") - F.lag("n_events", 1).over(w)).alias("wow_event_delta"),
        ((F.col("cents") - F.lag("cents", 1).over(w)).cast("double") / 100.0).alias(
            "wow_value_delta"
        ),
    ).orderBy("event_type", "week")


WEEKLY_WOW_CHANGE_SQL = """
WITH weekly AS (
    SELECT event_type,
           CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
    FROM events
    GROUP BY event_type, CAST(date_trunc('week', ts) AS DATE)
)
SELECT event_type, week, n_events,
       CAST(cents AS DOUBLE) / 100.0 AS total_value,
       n_events - LAG(n_events, 1) OVER (PARTITION BY event_type ORDER BY week)
           AS wow_event_delta,
       CAST(cents - LAG(cents, 1) OVER (PARTITION BY event_type ORDER BY week)
            AS DOUBLE) / 100.0 AS wow_value_delta
FROM weekly
ORDER BY event_type, week
"""


def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window surface: per user, the 7-day trailing sum/count of
    event value at each event (RANGE BETWEEN on event time, not ROWS —
    semantics survive irregular event spacing).  Implemented with
    ``rangeBetween`` over epoch-microseconds so the frame arithmetic is
    exact integer comparison in both engines."""
    ev = load_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — session tz is UTC so
    # the cast is value-identical
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    seven_days_us = 7 * 24 * 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-seven_days_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(cents).over(w).cast("double") / 100.0).alias("trailing_7d_value"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("trailing_7d_events"),
    ).orderBy("event_id")


ROLLING_7D_USER_VALUE_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100.0 AS trailing_7d_value,
       CAST(COUNT(*) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_7d_events
FROM events
ORDER BY event_id
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's BUILT-IN ``session_window`` — the
    native alternative to :func:`sessionize_events`' two-window
    reconstruction: one groupBy on (session_window(ts, gap), user_id), no
    lag/running-sum windows, and the same operator works unchanged on a
    stream (dynamic gap session windows are a Structured Streaming
    primitive).  Merge semantics differ at the boundary: ``session_window``
    starts a NEW session when the gap is >= 30 min (window end is
    exclusive), while the lag formulation merges exactly-30-min gaps — the
    oracle mirrors the built-in.

    Returns (user_id, session_start, session_end, n_events);
    session_end = last event + gap, the built-in's definition.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_WINDOWS_SQL = f"""
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts)
                     < {SESSION_GAP_MINUTES} * 60 * 1000000
                THEN 0 ELSE 1 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sid
"""


def variant_props_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion of the events ``props`` JSON: parse once to
    the binary VARIANT encoding (``parse_json``), extract with typed
    ``variant_get`` paths, and histogram ``k`` by decade bucket.

    VARIANT is the Spark-4-native answer to repeated semi-structured
    access — parse cost paid once per row, every later path extraction is
    a binary offset lookup rather than a Jackson re-parse (the
    ``get_json_object`` twin ``json_props_stats`` re-parses per path).  At
    100 TB with many extracted paths this is the difference between one
    decode and P decodes per row.  Oracle: identical buckets via DuckDB
    json_extract.
    """
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json: one malformed props payload in 100 TB of events must
    # bucket as NULL, not kill the job (parse_json is FAILFAST; the
    # degenerate-input sweep hit it with an empty-string payload)
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select((F.floor(k / 10) * 10).alias("k_decade"))
        .groupBy("k_decade")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("k_decade")
    )


VARIANT_PROPS_HISTOGRAM_SQL = """
SELECT CAST(FLOOR(CAST(json_extract(
               CASE WHEN json_valid(props) THEN props END, '$.k'
           ) AS BIGINT) / 10) * 10 AS BIGINT) AS k_decade,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
ORDER BY k_decade
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current type), the standard behavioral-sequence
    summary (and the feature a next-event model trains on).

    One shuffle keyed by user_id for the LAG window (high-cardinality key —
    each user's timeline sorts independently); the pair-count groupBy is
    low-cardinality (|types|²) so the partial aggregate collapses map-side.
    Probabilities are emitted as exact parts-per-million via int64 floor
    division (count·1e6 div row_total) — no float division to drift
    cross-engine; ties in ts are ordered by event_id so LAG is total-order
    deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("from_type"))
    return (
        pairs.withColumn("ppm", F.expr("n * 1000000 DIV sum(n) over (partition by from_type)"))
        .withColumn("row_n", row_total)
        .select("from_type", "to_type", "n", "row_n", "ppm")
        .orderBy("from_type", "to_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT user_id, event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS to_type
    FROM events
),
pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS ppm
FROM pairs
ORDER BY from_type, to_type
"""


def retention_cohorts(spark: SparkSession, sf_dir: str, max_weeks: int = 5) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by their first-activity
    week (the cohort), counted again in each subsequent week they return —
    the standard activation/retention triangle.

    Two aggregations: per-user first week (min over a user-keyed shuffle),
    then (cohort_week, offset) counts of distinct active users.  The
    user-week activity relation pre-deduplicates BEFORE joining the cohort
    map (shrinks the join input to |users x weeks|); the cohort map joins
    back keyed on user_id.  Retention is ppm-exact integer division against
    the cohort's week-0 size.
    """
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    offsets = (
        activity.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .filter(F.col("week_offset") <= max_weeks)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    base = offsets.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return (
        offsets.join(base, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "cohort_size",
            F.expr("n_users * 1000000 DIV cohort_size").alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_COHORTS_SQL_TEMPLATE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY user_id),
offsets AS (
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
           COUNT(*) AS n_users
    FROM activity JOIN cohort USING (user_id)
    WHERE date_diff('day', cohort_week, week) // 7 <= {max_weeks}
    GROUP BY 1, 2
),
base AS (
    SELECT cohort_week, n_users AS cohort_size FROM offsets WHERE week_offset = 0
)
SELECT cohort_week, week_offset,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       CAST(n_users * 1000000 // cohort_size AS BIGINT) AS retention_ppm
FROM offsets JOIN base USING (cohort_week)
ORDER BY cohort_week, week_offset
"""


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user counts
    at a stage only if the stage event happened AT OR AFTER their first
    event of the previous stage — the strict-ordering funnel every product
    analytics suite ships.

    One pass: per-user MIN(ts) per stage via conditional aggregation (no
    per-stage scans, no self-joins), then the ordering constraint is pure
    column logic on the three firsts, and the final rollup is a tiny
    two-key aggregate.  Shuffles once on user_id.  Timestamp comparisons
    use microsecond-exact epoch values; ties (same-timestamp cross-stage
    events) count as converted, matching the SQL twin's >= semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    staged = firsts.select(
        "user_id",
        F.col("t_view").isNotNull().alias("s1"),
        (
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_click") >= F.col("t_view"))
        ).alias("s2"),
        (
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_click") >= F.col("t_view"))
            & F.col("t_buy").isNotNull()
            & (F.col("t_buy") >= F.col("t_click"))
        ).alias("s3"),
    )
    counts = staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("s1").cast("bigint")).alias("n_view"),
        F.sum(F.col("s2").cast("bigint")).alias("n_click_after_view"),
        F.sum(F.col("s3").cast("bigint")).alias("n_purchase_after_click"),
    )
    return counts.select(
        "n_users",
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        # nullif: a zero-view corpus reports NULL, matching DuckDB's
        # divide-by-zero semantics in the oracle (noop-sweep find, r7 —
        # count() had pruned this column in the degenerate twins)
        F.expr(
            "n_click_after_view * 1000000 DIV nullif(n_view, 0)"
        ).alias("view_to_click_ppm"),
        F.expr(
            "n_purchase_after_click * 1000000 DIV greatest(n_click_after_view, 1)"
        ).alias("click_to_purchase_ppm"),
    )


CONVERSION_FUNNEL_SQL = """
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
    FROM events GROUP BY user_id
),
staged AS (
    SELECT user_id,
           t_view IS NOT NULL AS s1,
           (t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view) AS s2,
           (t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view
            AND t_buy IS NOT NULL AND t_buy >= t_click) AS s3
    FROM firsts
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_click,
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) * 1000000
            // SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS view_to_click_ppm,
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) * 1000000
            // GREATEST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END), 1) AS BIGINT)
           AS click_to_purchase_ppm
FROM staged
"""


def histogram_quantiles(
    spark: SparkSession, sf_dir: str, bin_dollars: int = 500
) -> DataFrame:
    """Mergeable histogram quantiles over order totals: fixed-width bins
    aggregate map-side (the 100 TB percentile lever — an exact percentile
    needs a global sort, a fixed-bin histogram needs one tiny shuffle of
    |bins| partial counts, and bins from different partitions/days/stores
    ADD).  The p-quantile estimate is the upper edge of the first bin whose
    cumulative count reaches ceil(p% of total) — deterministic integer
    logic end-to-end, so unlike t-digest/KLL the estimate is value-hash
    exact cross-engine while behaving the same way operationally (bounded
    state, rank error <= bin mass).
    """
    orders = load_table(spark, sf_dir, "orders")
    bin_c = bin_dollars * 100
    bins = (
        orders.select(
            (F.round(F.col("o_totalprice") * 100, 0).cast("bigint") / bin_c)
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = bins.withColumn("cum", F.sum("n").over(wc))
    total = bins.agg(F.sum("n").alias("total"))
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 90, 99)])).alias("pct")
    )
    hit = (
        cum.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(pcts))
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("total"))
        .groupBy("pct", "total")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.select(
        F.col("pct").cast("bigint").alias("pct"),
        "bin",
        ((F.col("bin") + 1) * bin_dollars).cast("bigint").alias("est_upper_dollars"),
        F.col("total").cast("bigint").alias("n_orders"),
    ).orderBy("pct")


HISTOGRAM_QUANTILES_SQL_TEMPLATE = """
WITH bins AS (
    SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) // ({bin_dollars} * 100)
               AS bin,
           COUNT(*) AS n
    FROM orders GROUP BY 1
),
cum AS (
    SELECT bin, n,
           SUM(n) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM bins
),
total AS (SELECT SUM(n) AS total FROM bins),
pcts AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
SELECT CAST(pct AS BIGINT) AS pct,
       CAST(MIN(bin) AS BIGINT) AS bin,
       CAST((MIN(bin) + 1) * {bin_dollars} AS BIGINT) AS est_upper_dollars,
       CAST(total AS BIGINT) AS n_orders
FROM cum CROSS JOIN total CROSS JOIN pcts
WHERE cum * 100 >= pct * total
GROUP BY pct, total
ORDER BY pct
"""


def linear_counting_users(
    spark: SparkSession, sf_dir: str, m: int = 4096
) -> DataFrame:
    """Weekly distinct-user ESTIMATES via linear counting (Whang et al.
    1990): hash each user into an m-slot bitmap and estimate
    ``-m * ln(empty_fraction)`` — the small-cardinality regime of every
    HLL implementation, and the mergeable bounded-state answer to
    count-distinct at 100 TB (bitmaps OR; m int64 cells of state per
    group vs an unbounded distinct-set).

    Unlike ``approx_count_distinct`` (whose HLL++ is engine-internal and
    only rows-only checkable), the md5 slot hash makes the occupied-slot
    count — and therefore the estimate — integer-deterministic, so this
    approximate query is value-hash checked against DuckDB, estimate
    column included (one ln + one round of identical operands).  True
    counts ride along to surface the estimation error per group.
    """
    ev = load_table(spark, sf_dir, "events")
    slot = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % m
    )
    weekly = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.col("user_id"),
        slot.alias("slot"),
    )
    per_week = weekly.groupBy("week").agg(
        F.countDistinct("slot").alias("occupied"),
        F.countDistinct("user_id").alias("true_users"),
    )
    est = F.round(-m * F.log((m - F.col("occupied")) / F.lit(float(m))), 2)
    return per_week.select(
        "week",
        F.col("occupied").cast("bigint").alias("occupied"),
        est.alias("est_users"),
        F.col("true_users").cast("bigint").alias("true_users"),
    ).orderBy("week")


LINEAR_COUNTING_SQL_TEMPLATE = """
WITH weekly AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
               % {m} AS slot
    FROM events
),
per_week AS (
    SELECT week,
           COUNT(DISTINCT slot) AS occupied,
           COUNT(DISTINCT user_id) AS true_users
    FROM weekly GROUP BY week
)
SELECT week,
       CAST(occupied AS BIGINT) AS occupied,
       ROUND(-{m} * LN((({m} - occupied)) / CAST({m} AS DOUBLE)), 2) AS est_users,
       CAST(true_users AS BIGINT) AS true_users
FROM per_week
ORDER BY week
"""


def weekly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: flag (day, event_type) cells whose count
    deviates from the type's mean by more than 2 standard deviations.  The
    z-test is pure integer cross-multiplication —
    ``(n·k - s)² > 4·(k·sq - s²)`` over int64 daily counts (k = number of
    days; both sides scaled by k² from (n-μ)² > 4σ²) — so no float
    sqrt/division can flip a boundary cross-engine.  Daily granularity is
    deliberate: any single point of a k-sample is bounded at z <=
    (k-1)/sqrt(k), so with only a handful of weekly cells a 2-sigma flag is
    mathematically IMPOSSIBLE — the screen needs enough cells per group to
    be non-vacuous.  Plan: the daily cell counts shuffle once; per-type
    moments re-aggregate from the tiny cell relation and broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("week"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    dev = F.col("n") * F.col("k") - F.col("s")
    # (n - s/k)^2 > 4 * (sq/k - (s/k)^2)  — multiply through by k^2:
    var_k2 = F.col("k") * F.col("sq") - F.col("s") * F.col("s")
    return (
        cells.join(F.broadcast(stats), "event_type")
        .select(
            "week",
            "event_type",
            "n",
            (dev * dev > 4 * var_k2).alias("is_anomaly"),
        )
        .orderBy("week", "event_type")
    )


WEEKLY_ANOMALIES_SQL = """
WITH cells AS (
    SELECT CAST(ts AS DATE) AS week, event_type,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, COUNT(*) AS k, SUM(n) AS s, SUM(n * n) AS sq
    FROM cells GROUP BY event_type
)
SELECT week, event_type, CAST(n AS BIGINT) AS n,
       (n * k - s) * (n * k - s) > 4 * (k * sq - s * s) AS is_anomaly
FROM cells JOIN stats USING (event_type)
ORDER BY week, event_type
"""


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (alpha = 1/2) — the classic online smoothing statistic that is NOT a
    windowed aggregate (each step depends on the previous result), shown
    here as a per-key SEQUENTIAL FOLD: sort the user's timeline into an
    array once, left-fold ``s = (x + s) div 2`` over it.

    One shuffle keyed on user_id; the fold itself is a narrow per-row array
    reduction — the pattern for any per-key recurrence (EWMA, compound
    interest, decaying counters) that would otherwise need a slow
    row-iterating UDF.  Values fold in integer cents with floor halving, so
    the recurrence is bit-exact cross-engine at every step; per-user arrays
    are bounded by per-key activity (at 100 TB: window the timeline first
    if single keys can exceed task memory).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"), cents("value").alias("v_c")
        ).alias("s"),
    ).groupBy("user_id").agg(
        F.transform(F.array_sort(F.collect_list("s")), lambda s: s.v_c).alias("vs")
    )
    ewma_c = F.expr(
        "aggregate(slice(vs, 2, size(vs) - 1), vs[0], (acc, x) -> (acc + x) div 2)"
    )
    return per_user.select(
        "user_id",
        F.size("vs").cast("bigint").alias("n_events"),
        ewma_c.cast("bigint").alias("ewma_cents"),
    ).orderBy("user_id")


USER_VALUE_EWMA_SQL = """
SELECT user_id,
       CAST(LEN(vs) AS BIGINT) AS n_events,
       CAST(list_reduce(vs, (acc, x) -> (acc + x) // 2) AS BIGINT) AS ewma_cents
FROM (
    SELECT user_id,
           list(CAST(ROUND(value * 100, 0) AS BIGINT) ORDER BY ts, event_id) AS vs
    FROM events GROUP BY user_id
)
ORDER BY user_id
"""


def _morton_expr(a_sql: str, b_sql: str, bits: int = 16) -> Column:
    """Bit-interleave the low ``bits`` of two int operands (SQL expression
    strings) into one Z-order key (a's bit i -> position 2i, b's -> 2i+1).
    Built from literal-shift terms (no higher-order functions), so it
    compiles to one flat codegen expression — and parsed from ONE SQL
    string (the oracle twin :func:`_morton_sql`) rather than 2·bits
    Column-by-Column py4j terms, which cost ~0.25 s of driver time per
    call for zero plan difference."""
    return F.expr(_morton_sql(a_sql, b_sql, bits))


def _morton_sql(a: str, b: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_keys(spark: SparkSession, sf_dir: str, sample_mod: int = 500) -> DataFrame:
    """Z-order (Morton) clustering keys over (partkey, suppkey): the
    space-filling-curve sort key that makes parquet row-group min/max
    statistics prune on BOTH dimensions at once — sort by zkey and rows
    close in (part, supp) space land in the same row groups, so a filter on
    either column (or both) skips most of the file.  The single-column-sort
    alternative prunes only its own column; Z-ordering is the standard
    lakehouse answer (Delta/Iceberg OPTIMIZE ZORDER BY).

    The key is pure literal bit arithmetic (32 flat terms, whole-stage
    codegen, no shuffle); the query samples every ``sample_mod``-th order so
    the oracle-checked output stays small while covering the key space.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % sample_mod == 0
    )
    z = _morton_expr("CAST(l_partkey AS INT)", "CAST(l_suppkey AS INT)")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        "l_partkey",
        "l_suppkey",
        z.alias("zkey"),
    ).orderBy("l_orderkey", "l_linenumber")


ZORDER_KEYS_SQL_TEMPLATE = """
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_partkey, l_suppkey,
       {morton} AS zkey
FROM lineitem
WHERE l_orderkey % {sample_mod} = 0
ORDER BY l_orderkey, l_linenumber
"""


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report (the `dbt docs` / data-quality audit shape):
    per column of ``orders`` — null count, distinct count, min/max as
    strings — computed in ONE scan.

    The profile pivots the per-column aggregates out of a single pass
    (every aggregate rides the same map-side partial), then unpivots to the
    long (column, metric...) report.  At 100 TB this is the pattern for
    profiling N columns without N scans; distinct counts are the one
    expensive term per column — swap in approx_count_distinct (or the
    linear-counting bitmap) when ±2% suffices.
    """
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    # 6 exact distinct aggs in one pass rewrite to an EXPAND (7 rows out per
    # row in) feeding the partial agg; the eval table is one parquet row
    # group, so without a repartition that whole expansion runs on a single
    # task.  Round-robin with an explicit count (global agg — no key needed;
    # AQE would coalesce a few-MB exchange back to one partition).
    _par = spark.sparkContext.defaultParallelism
    orders = load_table(spark, sf_dir, "orders").select(*cols).repartition(_par)
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.column_name", "r.n_null", "r.n_distinct", "r.min_str", "r.max_str")
        .orderBy("column_name")
    )


PROFILE_ORDERS_SQL = """
WITH wide AS (
    SELECT
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_n,
      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS k_d,
      MIN(CAST(o_orderkey AS VARCHAR)) AS k_mi, MAX(CAST(o_orderkey AS VARCHAR)) AS k_ma,
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_n,
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS c_d,
      MIN(CAST(o_custkey AS VARCHAR)) AS c_mi, MAX(CAST(o_custkey AS VARCHAR)) AS c_ma,
      CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_n,
      CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS s_d,
      MIN(CAST(o_orderstatus AS VARCHAR)) AS s_mi, MAX(CAST(o_orderstatus AS VARCHAR)) AS s_ma,
      CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_n,
      CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS t_d,
      MIN(CAST(o_totalprice AS VARCHAR)) AS t_mi, MAX(CAST(o_totalprice AS VARCHAR)) AS t_ma,
      CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_n,
      CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_d,
      MIN(CAST(o_orderdate AS VARCHAR)) AS d_mi, MAX(CAST(o_orderdate AS VARCHAR)) AS d_ma,
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_n,
      CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS p_d,
      MIN(CAST(o_orderpriority AS VARCHAR)) AS p_mi, MAX(CAST(o_orderpriority AS VARCHAR)) AS p_ma
    FROM orders
)
SELECT 'o_orderkey' AS column_name, k_n AS n_null, k_d AS n_distinct, k_mi AS min_str, k_ma AS max_str FROM wide
UNION ALL SELECT 'o_custkey', c_n, c_d, c_mi, c_ma FROM wide
UNION ALL SELECT 'o_orderstatus', s_n, s_d, s_mi, s_ma FROM wide
UNION ALL SELECT 'o_totalprice', t_n, t_d, t_mi, t_ma FROM wide
UNION ALL SELECT 'o_orderdate', d_n, d_d, d_mi, d_ma FROM wide
UNION ALL SELECT 'o_orderpriority', p_n, p_d, p_mi, p_ma FROM wide
ORDER BY column_name
"""


def bloom_join_prefilter(
    spark: SparkSession,
    sf_dir: str,
    min_acctbal: int = 9000,
    m_bits: int = 1984,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter join pruning with an exact honesty audit: build a Bloom
    filter over the small side's join keys (rich customers), pre-filter the
    fact side (orders) through it, and report candidate / true-member /
    false-positive counts.

    This is the sketch behind runtime row-level filtering (Spark's AQE
    injects one automatically for selective joins): the filter is
    ``m_bits/62`` int64 words built by a BIT_OR aggregate — mergeable
    map-side like every sketch here — and the fact side probes it with
    ``k_hashes`` md5-derived bit tests BEFORE paying the real join's
    shuffle.  62 usable bits per word keeps every shift off the int64 sign
    bit so the words are engine-portable.  md5 hashing makes the exact
    candidate set — and therefore the false-positive count — value-hash
    checkable, which a production murmur-based bloom is not.
    """
    n_words = m_bits // 62
    cust = load_table(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_acctbal") >= min_acctbal).select(
        F.col("c_custkey").alias("key")
    )

    def positions(col):
        return F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, 8
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % (n_words * 62)
                )
                for i in range(k_hashes)
            ]
        )

    words = (
        keys.select(F.explode(positions(F.col("key"))).alias("pos"))
        .select(
            (F.col("pos") / 62).cast("bigint").alias("word_idx"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 62 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probes = orders.select(
        "o_orderkey", "o_custkey", F.posexplode(positions(F.col("o_custkey"))).alias("i", "pos")
    ).select(
        "o_orderkey",
        "o_custkey",
        (F.col("pos") / 62).cast("bigint").alias("word_idx"),
        (F.col("pos") % 62).cast("int").alias("bit_idx"),
    )
    hit = probes.join(F.broadcast(words), "word_idx", "left").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "cast((shiftright(coalesce(word, cast(0 as bigint)), bit_idx) & 1) = 1 "
            "as int)"
        ).alias("bit_set"),
    )
    candidates = (
        hit.groupBy("o_orderkey", "o_custkey")
        .agg(F.sum("bit_set").alias("n_set"))
        .filter(F.col("n_set") == k_hashes)
    )
    truth = candidates.join(
        keys, candidates.o_custkey == keys.key, "left"
    ).select("o_orderkey", F.col("key").isNotNull().cast("bigint").alias("is_member"))
    return truth.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("is_member").alias("n_true_members"),
        (F.count(F.lit(1)) - F.sum("is_member")).alias("n_false_positives"),
    )


BLOOM_PREFILTER_SQL_TEMPLATE = """
WITH keys AS (
    SELECT c_custkey AS key FROM customer WHERE c_acctbal >= {min_acctbal}
),
key_pos AS (
    SELECT key,
           CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                                      || CAST(key AS VARCHAR)), 1, 8) AS BIGINT)
               % ({n_words} * 62) AS pos
    FROM keys CROSS JOIN (SELECT unnest(generate_series(0, {k} - 1)) AS i)
),
words AS (
    SELECT pos // 62 AS word_idx,
           BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS word
    FROM key_pos GROUP BY pos // 62
),
probes AS (
    SELECT o_orderkey, o_custkey,
           CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                                      || CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT)
               % ({n_words} * 62) AS pos
    FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {k} - 1)) AS i)
),
hits AS (
    SELECT p.o_orderkey, p.o_custkey,
           CASE WHEN (COALESCE(w.word, 0) >> CAST(p.pos % 62 AS INT)) & 1 = 1
                THEN 1 ELSE 0 END AS bit_set
    FROM probes p LEFT JOIN words w ON w.word_idx = p.pos // 62
),
candidates AS (
    SELECT o_orderkey, o_custkey FROM hits
    GROUP BY o_orderkey, o_custkey
    HAVING SUM(bit_set) = {k}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN k.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_members,
       CAST(COUNT(*) - SUM(CASE WHEN k.key IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives
FROM candidates c LEFT JOIN keys k ON c.o_custkey = k.key
"""


def hll_weekly_users(
    spark: SparkSession, sf_dir: str, p_bits: int = 8
) -> DataFrame:
    """TRUE HyperLogLog distinct-user estimates (Flajolet 2007), exact
    cross-engine: md5-derived 32-bit hashes split into a ``p_bits`` register
    index + leading-zero rank; registers merge by MAX (the property that
    makes HLL state combinable across partitions, weeks, machines); the
    harmonic-mean estimate is computed over an EXACT integer sum —
    ``sum(2^(32 - M[j]))`` in int64 with common denominator 2^32 — so the
    only float ops are one division and one multiply of identical operands.
    (Spark's own approx_count_distinct is HLL++ with engine-internal
    hashing — rows-only checkable; this one is value-hash checkable,
    estimate included.)  Linear-counting twin: ``linear_counting_users``.
    """
    m = 1 << p_bits
    ev = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    reg = (h32 % m).alias("reg")
    rest = (h32 / m).cast("bigint")  # remaining 32 - p bits
    # rank = leading zeros of `rest` within (32 - p) bits, + 1
    width = 32 - p_bits
    rank = (
        F.when(rest == 0, F.lit(width + 1))
        .otherwise(F.lit(width) - F.floor(F.log2(rest)))
        .cast("bigint")
    )
    regs = (
        ev.select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            reg,
            rank.alias("rank"),
        )
        .groupBy("week", "reg")
        .agg(F.max("rank").alias("mr"))
    )
    # exact integer harmonic sum: empty registers contribute 2^32 each
    s = regs.groupBy("week").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(32 - mr as int))")).alias(
            "s_occ"
        ),
        F.count(F.lit(1)).alias("n_occ"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    z_sum = F.col("s_occ") + (F.lit(m) - F.col("n_occ")) * F.lit(1 << 32)
    raw = F.lit(alpha * m * m * float(1 << 32)) / z_sum.cast("double")
    zeros = F.lit(m) - F.col("n_occ")
    # standard small-range correction (Flajolet §4): below 2.5m with empty
    # registers, the raw harmonic estimate biases high — fall back to
    # linear counting over register occupancy
    est = F.round(
        F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(raw),
        2,
    )
    truth = (
        ev.select(F.date_trunc("week", F.col("ts")).cast("date").alias("week"), "user_id")
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("true_users"))
    )
    return (
        s.join(truth, "week")
        .select(
            "week",
            F.col("n_occ").cast("bigint").alias("occupied_regs"),
            est.alias("est_users"),
            F.col("true_users").cast("bigint").alias("true_users"),
        )
        .orderBy("week")
    )


HLL_WEEKLY_USERS_SQL_TEMPLATE = """
WITH hashed AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h32
    FROM events
),
ranked AS (
    SELECT week, h32 % {m} AS reg,
           CASE WHEN h32 // {m} = 0 THEN {width} + 1
                ELSE {width} - CAST(FLOOR(LOG2(h32 // {m})) AS BIGINT) END AS rank
    FROM hashed
),
regs AS (SELECT week, reg, MAX(rank) AS mr FROM ranked GROUP BY week, reg),
s AS (
    SELECT week,
           CAST(SUM(CAST(1 AS BIGINT) << CAST(32 - mr AS INT)) AS BIGINT) AS s_occ,
           COUNT(*) AS n_occ
    FROM regs GROUP BY week
),
truth AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(DISTINCT user_id) AS true_users
    FROM events GROUP BY 1
)
SELECT s.week AS week,
       CAST(n_occ AS BIGINT) AS occupied_regs,
       ROUND(CASE WHEN {alpha_m2_2p32}
                       / CAST(s_occ + ({m} - n_occ) * (CAST(1 AS BIGINT) << 32)
                              AS DOUBLE) <= 2.5 * {m}
                   AND {m} - n_occ > 0
                  THEN CAST({m} AS DOUBLE)
                       * LN(CAST({m} AS DOUBLE) / CAST({m} - n_occ AS DOUBLE))
                  ELSE {alpha_m2_2p32}
                       / CAST(s_occ + ({m} - n_occ) * (CAST(1 AS BIGINT) << 32)
                              AS DOUBLE) END, 2) AS est_users,
       CAST(true_users AS BIGINT) AS true_users
FROM s JOIN truth ON s.week = truth.week
ORDER BY s.week
"""


def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly audience-overlap matrix: for every pair of weeks, the exact
    user intersection and Jaccard similarity (ppm) — the retention/churn
    companion every analytics team computes.

    The all-pairs :func:`~dbt_trill_shop_spark.overlap.set_overlap` over
    the deduplicated (user, week) relation, weeks as sets and users as
    members — pair fan-out is |weeks|² per user (bounded by the calendar),
    never |events|² — and Jaccard is integer ppm.
    """
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    return (
        set_overlap(uw, "week", "user_id")
        .select(
            F.col("id_a").alias("week_a"),
            F.col("id_b").alias("week_b"),
            "n_inter",
            "n_a",
            "n_b",
            F.expr("n_inter * 1000000 DIV (n_a + n_b - n_inter)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("week_a", "week_b")
    )


AUDIENCE_OVERLAP_SQL = f"""
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
{overlap_ctes("uw", "week", "user_id")}
SELECT id_a AS week_a, id_b AS week_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_inter * 1000000 // (n_a + n_b - n_inter) AS BIGINT) AS jaccard_ppm
FROM overlap
ORDER BY week_a, week_b
"""


def interpolate_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily event series with LINEAR INTERPOLATION: the calendar
    spine left-joins the observed daily counts, and each missing day takes
    the straight line between its nearest observed neighbors (edges clamp
    to the one existing neighbor) — the time-series-cleanup companion to
    the zero-fill date spine (``date_spine_events``).

    Neighbor lookup is two IGNORE NULLS window passes (last-before /
    first-after) over the per-DAY relation — tiny post-aggregate data, so
    the single total-order window is free; interpolation is exact integer
    milli-units (``prev·1000 + Δ·1000·offset div span``), no float ramps.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("v")
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    # synthesize gaps deterministically so interpolation is exercised even
    # on a dense series: every 7th day of the observed range is masked
    masked = spine.join(daily, "d", "left").select(
        "d",
        F.when(F.dayofmonth("d") % 7 == 0, F.lit(None)).otherwise(F.col("v")).alias("v"),
    )
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.orderBy("d").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    prev_v = F.last("v", ignorenulls=True).over(wp)
    next_v = F.first("v", ignorenulls=True).over(wn)
    prev_d = F.last(F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True).over(wp)
    next_d = F.first(F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True).over(wn)
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v") * 1000)
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v * 1000
            + F.expr(
                "(next_v - prev_v) * 1000 * datediff(d, prev_d) "
                "DIV datediff(next_d, prev_d)"
            ),
        )
        .otherwise(F.coalesce(prev_v, next_v) * 1000)
    )
    return (
        masked.withColumn("prev_v", prev_v)
        .withColumn("next_v", next_v)
        .withColumn("prev_d", prev_d)
        .withColumn("next_d", next_d)
        .select(
            "d",
            F.col("v").cast("bigint").alias("observed"),
            interp.cast("bigint").alias("value_milli"),
        )
        .orderBy("d")
    )


INTERPOLATE_DAILY_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS v FROM events GROUP BY 1
),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
    FROM bounds
),
masked AS (
    SELECT s.d,
           CASE WHEN day(s.d) % 7 = 0 THEN NULL ELSE daily.v END AS v
    FROM spine s LEFT JOIN daily ON daily.d = s.d
),
nbrs AS (
    SELECT d, v,
           LAST_VALUE(v IGNORE NULLS) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
           FIRST_VALUE(v IGNORE NULLS) OVER (
               ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER (
               ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
    FROM masked
)
SELECT d,
       CAST(v AS BIGINT) AS observed,
       CAST(CASE WHEN v IS NOT NULL THEN v * 1000
                 WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                 THEN prev_v * 1000
                      + (next_v - prev_v) * 1000 * date_diff('day', prev_d, d)
                        // date_diff('day', prev_d, next_d)
                 ELSE COALESCE(prev_v, next_v) * 1000 END AS BIGINT)
           AS value_milli
FROM nbrs
ORDER BY d
"""


def weekly_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-week Pearson correlation between daily event volume and daily
    total value — the standard "are these series related" statistic,
    engine-exact: all five sufficient statistics (Σx Σy Σxy Σx² Σy²) are
    int64 sums over (count, cents), and r's numerator/denominator combine
    them in ONE fixed expression (one sqrt + one division of identical
    operands), rounded to 6 dp.  The sufficient statistics are mergeable —
    the same five numbers combine across partitions/streams, which is why
    this formulation (and not a two-pass mean-centered one) is the
    distributed idiom.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.col("ts").cast("date").alias("d"),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(cents("value")).alias("y"),
    )
    # decimal(38,0) for the product statistics: a day's cents total is a
    # corpus-scaled value, so y·y (and the n·syy − sy·sy combination)
    # passes int64 with NORMAL data well before 100 TB.  The multiply
    # itself must be wide, not just the sum — hence the cast on the
    # operands, mirrored as HUGEINT in the DuckDB twin.
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    stats = daily.groupBy("week").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("sxx"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("syy"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = d38(F.col("n")) * F.col("sxy") - d38(F.col("sx")) * d38(F.col("sy"))
    varx = d38(F.col("n")) * F.col("sxx") - d38(F.col("sx")) * d38(F.col("sx"))
    vary = d38(F.col("n")) * F.col("syy") - d38(F.col("sy")) * d38(F.col("sy"))
    r = F.when(
        (varx > 0) & (vary > 0),
        F.round(
            num.cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double")),
            6,
        ),
    )
    return stats.select(
        "week", F.col("n").cast("bigint").alias("n_days"), r.alias("pearson_r")
    ).orderBy("week")


WEEKLY_VALUE_CORRELATION_SQL = """
WITH daily AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(ts AS DATE) AS d,
           COUNT(*) AS x,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS y
    FROM events GROUP BY 1, 2
),
stats AS (
    -- HUGEINT products (the Spark twin uses decimal(38,0)): a day's cents
    -- total is corpus-scaled, so y*y passes int64 with normal data
    SELECT week, COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM daily GROUP BY week
)
SELECT week, CAST(n AS BIGINT) AS n_days,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND n * syy - CAST(sy AS HUGEINT) * sy > 0
            THEN ROUND(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                       / SQRT(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                              * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6)
       END AS pearson_r
FROM stats
ORDER BY week
"""


def chisquare_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and weekday: is the
    activity mix the same every day of the week?  The classic categorical
    association screen.

    Cross-engine determinism: the per-cell term
    ``(o·T − r·c)² / (r·c·T)`` is computed from int64 counts, scaled to
    micro-units and ROUNDED PER CELL before the final integer sum — float
    summation order (which differs between engines' aggregation trees)
    never touches the statistic.  Contingency cells, margins and the total
    are three map-side-combinable aggregations of the same tiny relation.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    total = cells.agg(F.sum("o").alias("t"))
    # o·t and r·c are corpus-scaled count products (~1e24 at 100 TB), so
    # the DIFFERENCE is exact decimal(38,0); its SQUARE would pass even
    # int128 (~1e48), so the square happens in double AFTER the exact
    # int128→double conversion (identical IEEE rounding on both engines,
    # and the per-cell ROUND already pins the float path determinism)
    diff_d = (
        F.col("o").cast("decimal(38,0)") * F.col("t")
        - F.col("r").cast("decimal(38,0)") * F.col("c")
    ).cast("double")
    term_micro = F.round(
        diff_d * diff_d
        / (F.col("r").cast("decimal(38,0)") * F.col("c")).cast("double")
        / F.col("t").cast("double")
        * 1_000_000,
        0,
    ).cast("bigint")
    joined = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(total))
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.sum(term_micro).cast("double") / 1_000_000.0).alias("chi2"),
    ).select(
        F.col("n_cells").cast("bigint").alias("n_cells"),
        F.round("chi2", 4).alias("chi2"),
    )


CHISQUARE_SQL = """
WITH cells AS (
    SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rows_m AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cols_m AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
total AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM cells)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(CAST(ROUND(
           CAST(CAST(o AS HUGEINT) * t - CAST(r AS HUGEINT) * c AS DOUBLE)
           * CAST(CAST(o AS HUGEINT) * t - CAST(r AS HUGEINT) * c AS DOUBLE)
           / CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(t AS DOUBLE) * 1000000, 0) AS BIGINT))
           AS DOUBLE) / 1000000.0, 4) AS chi2
FROM cells
JOIN rows_m USING (event_type)
JOIN cols_m USING (dow)
CROSS JOIN total
"""


def bootstrap_mean_ci(
    spark: SparkSession, sf_dir: str, n_replicas: int = 32
) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the mean order value — the
    distributed bootstrap: instead of materializing resamples (impossible at
    scale — each replica is a full copy), every row draws an independent
    Poisson(1) weight per replica and each replica's mean is the
    weight-weighted mean.  The standard large-scale CI recipe.

    Plan shape: NO row expansion at all — the |replicas| (Σw, Σw·v) pairs
    are 2·B aggregate expressions over ONE scan (all map-side combinable);
    a replica-per-row reshape of the single wide result row feeds the
    order-statistic CI.  (A broadcast cross join with a replica table costs
    B× the fact rows through a nested-loop join — measured 4 s vs 0.6 s at
    sf0.1 for B=32.)

    Determinism: replica b reads 32-bit lane b%4 of md5(key:b//4) — one
    digest yields four uniform lanes — and the Poisson draw is inverse-CDF
    against INTEGER thresholds (floor(cdf·1e6): 367879/735759/919699/
    981012, weight capped at 4, P(>4) ≈ 0.4%), so every replicate mean (one
    division of identical int64 sums) is engine-exact.  CI = ranks 2 and
    B-1 of the replicate means (~94% at B=32).
    """
    # repartition the narrow (key, cents) projection: the eval table is one
    # parquet row group, so the 8-digests-per-row md5 load otherwise runs on
    # a single task.  Explicit count — AQE would re-coalesce a few-MB
    # by-column repartition to one partition.  No text, 16 B/row.
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", cents("o_totalprice").alias("v_c"))
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("o_orderkey")
        )
    )

    # The wide expression lists below are emitted as SQL strings parsed
    # JVM-side (selectExpr / F.expr): the Column-by-Column build is ~1.5k
    # py4j round-trips costing seconds of pure driver time per call
    # (measured build 1.9-4.7 s vs <0.1 s parse) — the parsed trees are the
    # identical expressions, so the plan and results are unchanged.
    def u_sql(b: int) -> str:
        return (
            f"(CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), "
            f"':{b // 4}')), {(b % 4) * 8 + 1}, 8), 16, 10) AS BIGINT) "
            f"% 1000000)"
        )

    # uniforms hoisted into their own projection: inside the aggregate a
    # 5-branch CASE would re-evaluate its md5 lane per branch if the wide
    # expression list falls out of whole-stage codegen (no subexpression
    # sharing in interpreted mode)
    lanes = orders.selectExpr(
        "v_c", *[f"{u_sql(b)} AS u_{b}" for b in range(n_replicas)]
    )

    def w_sql(b: int) -> str:
        # branchless inverse CDF: w = #(thresholds <= u) — boolean sums
        # codegen tighter than a 5-branch CASE chain (measured 3.5 -> 2.6 s)
        return (
            f"(CAST(u_{b} >= 367879 AS BIGINT) + CAST(u_{b} >= 735759 AS BIGINT)"
            f" + CAST(u_{b} >= 919699 AS BIGINT) + CAST(u_{b} >= 981012 AS BIGINT))"
        )

    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v_c").alias("sv"),
    ]
    for b in range(n_replicas):
        aggs.append(F.expr(f"sum({w_sql(b)})").alias(f"sw_{b}"))
        aggs.append(F.expr(f"sum({w_sql(b)} * v_c)").alias(f"swv_{b}"))
    wide = lanes.agg(*aggs)
    # A replica whose every row drew Poisson weight 0 has NO sample — its
    # mean is undefined (and the raw divide is an ANSI DIVIDE_BY_ZERO
    # crash; certain at n=1, possible for any tiny post-filter stratum).
    # Such replicas rank NULLS LAST and the CI positions come from the
    # VALID-replica count m, so degenerate inputs yield NULL bounds
    # instead of an exception; at any realistic n every replica is valid
    # (m == n_replicas) and the result is bit-identical to the plain form.
    # The rank picks are gated on m >= 4 (ADVICE r6): at m = 2 the fixed
    # rank-2 lower bound and rank-(m-1) = rank-1 upper bound INVERT, and at
    # m = 3 they collapse to the same replica — both bounds go NULL below
    # m = 4 so a degenerate interval is reported as unknown, not malformed.
    structs = ", ".join(
        f"named_struct('b', {b}, 'rep_mean', CASE WHEN sw_{b} > 0 THEN "
        f"CAST(swv_{b} AS DOUBLE) / sw_{b} / 100.0 END)"
        for b in range(n_replicas)
    )
    reps = wide.select(
        "n_rows",
        "sv",
        F.expr(f"explode(array({structs}))").alias("r"),
    ).select("n_rows", "sv", F.col("r.b").alias("b"), F.col("r.rep_mean").alias("rep_mean"))
    w_rank = Window.orderBy(F.asc_nulls_last("rep_mean"), F.asc("b"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = reps.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "m", F.count("rep_mean").over(w_all)
    )
    return (
        ranked.groupBy("n_rows", "sv")
        .agg(
            F.min(
                F.when(
                    (F.col("m") >= 4) & (F.col("rk") == 2), F.col("rep_mean")
                )
            ).alias("ci_lo"),
            F.min(
                F.when(
                    (F.col("m") >= 4) & (F.col("rk") == F.col("m") - 1),
                    F.col("rep_mean"),
                )
            ).alias("ci_hi"),
        )
        .select(
            F.round(
                F.col("sv").cast("double") / F.col("n_rows") / 100.0, 4
            ).alias("mean_value"),
            F.round("ci_lo", 4).alias("ci_lo"),
            F.round("ci_hi", 4).alias("ci_hi"),
        )
    )


def bootstrap_mean_ci_sql(n_replicas: int = 32) -> str:
    """DuckDB oracle: the same 2·B aggregate expressions generated
    textually (mirrors the Spark plan's no-expansion shape)."""
    u = (
        "CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':{g}'), "
        "{off}, 8) AS BIGINT) % 1000000"
    )
    w = (
        "(CAST({u} >= 367879 AS BIGINT) + CAST({u} >= 735759 AS BIGINT) "
        "+ CAST({u} >= 919699 AS BIGINT) + CAST({u} >= 981012 AS BIGINT))"
    )
    terms = []
    for b in range(n_replicas):
        ub = u.format(g=b // 4, off=(b % 4) * 8 + 1)
        wb = w.format(u=ub)
        terms.append(f"CAST(SUM({wb}) AS BIGINT) AS sw_{b}")
        terms.append(f"CAST(SUM(({wb}) * v_c) AS BIGINT) AS swv_{b}")
    means_rows = "\n    UNION ALL ".join(
        f"SELECT {b} AS b, CASE WHEN sw_{b} > 0 THEN "
        f"CAST(swv_{b} AS DOUBLE) / sw_{b} / 100.0 END AS rep_mean "
        "FROM wide"
        for b in range(n_replicas)
    )
    return f"""
WITH orders_c AS (
    SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v_c
    FROM orders
),
wide AS (
    SELECT COUNT(*) AS n_rows, CAST(SUM(v_c) AS BIGINT) AS sv,
           {", ".join(terms)}
    FROM orders_c
),
means AS (
    {means_rows}
),
ranked AS (
    SELECT rep_mean,
           ROW_NUMBER() OVER (ORDER BY rep_mean ASC NULLS LAST, b ASC) AS rk,
           COUNT(rep_mean) OVER () AS m
    FROM means
)
SELECT ROUND(CAST(sv AS DOUBLE) / n_rows / 100.0, 4) AS mean_value,
       ROUND((SELECT rep_mean FROM ranked WHERE rk = 2 AND m >= 4), 4) AS ci_lo,
       ROUND((SELECT rep_mean FROM ranked WHERE rk = m - 1 AND m >= 4), 4) AS ci_hi
FROM wide
"""


def table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprints for cross-environment table
    reconciliation: every row hashes to an int64 and the table fingerprint
    is the BIT_XOR (commutative, associative, never overflows — ANSI sums
    trap on int64 overflow), so two copies of a table can be compared with
    one number per side regardless of row order, partitioning, or engine —
    the cheap first gate before a row-level `compare_relations` dig.  (XOR
    cancels duplicate rows pairwise; n_rows rides along to close that
    classic hole.)

    One scan per table, map-side-combinable; hashes are md5 slices of a
    canonical `col1|col2|...` string (cast rules pinned) so DuckDB
    reproduces them bit-for-bit.
    """
    def fp(df: DataFrame, cols: list[str], name: str) -> DataFrame:
        canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        h = F.conv(F.substring(F.md5(canon.cast("binary")), 1, 15), 16, 10).cast(
            "bigint"
        )
        return df.select(h.alias("h")).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fingerprint"),
        )
    r = fp(load_table(spark, sf_dir, "region"), ["r_regionkey", "r_name"], "region")
    n = fp(
        load_table(spark, sf_dir, "nation"),
        ["n_nationkey", "n_name", "n_regionkey"],
        "nation",
    )
    c = fp(
        load_table(spark, sf_dir, "customer"),
        ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        "customer",
    )
    return r.unionByName(n).unionByName(c).orderBy("table_name")


TABLE_FINGERPRINTS_SQL = """
SELECT * FROM (
    SELECT 'region' AS table_name, COUNT(*) AS n_rows,
           CAST(BIT_XOR(CAST('0x' || substring(md5(concat_ws('|',
                CAST(r_regionkey AS VARCHAR), r_name)), 1, 15) AS BIGINT))
               AS BIGINT) AS fingerprint
    FROM region
    UNION ALL
    SELECT 'nation', COUNT(*),
           CAST(BIT_XOR(CAST('0x' || substring(md5(concat_ws('|',
                CAST(n_nationkey AS VARCHAR), n_name,
                CAST(n_regionkey AS VARCHAR))), 1, 15) AS BIGINT)) AS BIGINT)
    FROM nation
    UNION ALL
    SELECT 'customer', COUNT(*),
           CAST(BIT_XOR(CAST('0x' || substring(md5(concat_ws('|',
                CAST(c_custkey AS VARCHAR), c_name,
                CAST(c_nationkey AS VARCHAR), c_mktsegment)), 1, 15) AS BIGINT))
               AS BIGINT)
    FROM customer
) t ORDER BY table_name
"""


def wilson_ranked_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank event types by purchase-conversion rate the RIGHT way: the
    Wilson score lower bound (the "how not to sort by average rating"
    formula) penalizes small samples, so a 3/3 fluke does not outrank a
    steady 900/1000.

    p̂ = purchases/sessions-with-type approximated as purchases/events of
    the type; the bound is one fixed expression of the two int64 counts
    (z = 1.96 literal) — same operands, same operation order, engine-exact
    at 6 dp.  Tiny aggregation; the pattern matters for ranking anything
    by a proportion at scale (CTR, defect rates, acceptance rates).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("purchased", F.lit(1))
    )
    stats = (
        per_user_type.join(purchases, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("purchased", F.lit(0))).alias("pos"),
        )
    )
    z2 = 1.96 * 1.96
    p = F.col("pos").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    lower = (
        p
        + F.lit(z2) / (2.0 * nn)
        - F.lit(1.96)
        * F.sqrt((p * (1.0 - p) + F.lit(z2) / (4.0 * nn)) / nn)
    ) / (1.0 + F.lit(z2) / nn)
    return stats.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("pos").cast("bigint").alias("pos"),
        F.round(lower, 6).alias("wilson_lower"),
    ).orderBy(F.desc("wilson_lower"), "event_type")


WILSON_RANKED_SQL = """
WITH per_user_type AS (
    SELECT user_id, event_type, COUNT(*) AS n_ev
    FROM events GROUP BY user_id, event_type
),
purchasers AS (
    SELECT DISTINCT user_id, 1 AS purchased FROM events
    WHERE event_type = 'purchase'
),
stats AS (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(COALESCE(purchased, 0)) AS BIGINT) AS pos
    FROM per_user_type LEFT JOIN purchasers USING (user_id)
    GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, pos,
       ROUND((CAST(pos AS DOUBLE) / n + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
              - 1.96 * SQRT((CAST(pos AS DOUBLE) / n
                             * (1.0 - CAST(pos AS DOUBLE) / n)
                             + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                            / CAST(n AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS wilson_lower
FROM stats
ORDER BY wilson_lower DESC, event_type
"""


def session_paths(spark: SparkSession, sf_dir: str, k: int = 15) -> DataFrame:
    """Top-k 3-step behavior paths WITHIN sessions: the sequence-mining
    report behind "what do users do next" dashboards.  Builds on the
    gap-sessionization windows (session boundaries cut paths — a path never
    spans the 30-min gap), takes two LEADs per event inside
    (user, session), and counts the |types|³-bounded path space.

    Everything rides the ONE user-keyed shuffle the sessionizer already
    needs: the session numbering, both leads, and the per-path count's
    map-side partials.  Path share is exact ppm against all 3-paths.
    """
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    sessioned = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(
                gap_us.isNull() | (gap_us > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
            ).otherwise(0)
        )
        .over(order_w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    w = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    paths = (
        sessioned.select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        )
        .filter(F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    ranked = paths.withColumn(
        "share_ppm", F.expr("n * 1000000 DIV sum(n) over ()")
    ).withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "s1", "s2", "s3"))
        .cast("bigint"),
    )
    return ranked.filter(F.col("rank") <= k).select(
        "rank", "s1", "s2", "s3", "n", "share_ppm"
    )


SESSION_PATHS_SQL_TEMPLATE = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > {SESSION_GAP_MINUTES} * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
paths AS (
    SELECT s1, s2, s3, COUNT(*) AS n FROM (
        SELECT event_type AS s1,
               LEAD(event_type, 1) OVER w2 AS s2,
               LEAD(event_type, 2) OVER w2 AS s3
        FROM sessioned
        WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    ) t WHERE s3 IS NOT NULL
    GROUP BY s1, s2, s3
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, s1, s2, s3) AS BIGINT) AS rank,
       s1, s2, s3, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS share_ppm
FROM paths
QUALIFY rank <= {{k}}
"""


def conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, microseconds from first view
    to first purchase (strictly after it), summarized as exact interpolated
    percentiles — the latency-funnel health metric.

    One conditional-aggregation pass per user (same shape as the funnel),
    then percentiles over the |users|-sized lag relation.  Lags are integer
    microseconds; `percentile` interpolates between two int operands with
    the identical expression in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
    )
    buy_after = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_buy"))
    )
    lags = buy_after.select(
        F.expr("timestampdiff(MICROSECOND, t_view, t_buy)").alias("lag_us")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.round(F.expr(f"percentile(lag_us, {p})"), 1).alias(f"p{int(p * 100)}")
            for p in (0.25, 0.5, 0.9)
        ],
    ).select(
        F.col("n_users").cast("bigint").alias("n_users"), "p25", "p50", "p90"
    )


CONVERSION_LAG_SQL = """
WITH firsts AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
    FROM events GROUP BY user_id
),
buys AS (
    SELECT e.user_id, f.t_view, MIN(e.ts) AS t_buy
    FROM events e JOIN firsts f USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts >= f.t_view
    GROUP BY e.user_id, f.t_view
),
lags AS (
    SELECT date_diff('microsecond', t_view, t_buy) AS lag_us FROM buys
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(quantile_cont(lag_us, 0.25), 1) AS p25,
       ROUND(quantile_cont(lag_us, 0.5), 1) AS p50,
       ROUND(quantile_cont(lag_us, 0.9), 1) AS p90
FROM lags
"""


def ks_test_priority_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between order-price
    distributions of urgent vs low-priority orders — the classic
    distribution-equality screen (A/B shift detection, segment drift).

    Exact and order-proof: prices are int cents; pool both samples, collapse
    to per-distinct-value counts, then a bucketed two-phase cumulative sum
    (per-price-band offsets from a tiny windowed relation + within-band
    cumsum) — no partition-less global window anywhere, so the sorted scan
    the KS statistic needs never funnels through one task.  D = max |F1-F2|
    compared as integer cross-multiplied fractions (|c1·n2 - c2·n1|,
    divided once at the end).  Ties are handled CDF-correctly because the
    per-value collapse happens before the cumsum (both CDFs fully absorb a
    tied value).
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g1"),
        cents("o_totalprice").alias("v"),
    )
    # Two-phase CDF cumsum (no partition-less global window).  Phase 0:
    # collapse to per-distinct-value counts — ties absorb into one row, which
    # is also exactly the "CDF evaluated after ties" semantics; the
    # relation is localCheckpointed because three paths consume it (bucket
    # boundaries, per-bucket sums, the per-value join) and each would
    # otherwise re-scan orders.  Phase 1: bucket values by their position
    # among 31 approx-quantile boundaries (ADVICE r4 fix, landed r6: the
    # old fixed $10k bands degraded to one bucket when every price fell in
    # a single band — counting boundaries <= v is monotone in v for ANY
    # distribution and the GK sketch keeps buckets equal-count), per-bucket
    # sums, window cumsum over that tiny relation for each bucket's
    # starting offsets.  Phase 2: within-bucket cumsum partitioned by the
    # bucket key, plus the broadcast offset.  Bucketing only affects WHERE
    # rows are cumsum'd, never the exact D statistic.
    from .twophase import quantile_bucket

    per_v = base.groupBy("v").agg(
        F.sum("g1").alias("d1"), F.sum(1 - F.col("g1")).alias("d2")
    ).localCheckpoint(eager=True)
    bucketed = quantile_bucket(per_v, "v").withColumnRenamed("__tp_qb", "vb")
    per_b = bucketed.groupBy("vb").agg(
        F.sum("d1").alias("b1"), F.sum("d2").alias("b2")
    )
    # One window pass over the tiny per-bucket relation yields the bucket
    # offsets AND the grand totals n1/n2 (full-range frame) — no separate
    # totals aggregate, so the orders scan happens exactly twice (per-bucket
    # branch + the per-value join), same as the pre-fix plan.
    wc = Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("vb").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = per_b.select(
        "vb",
        (F.sum("b1").over(wc) - F.col("b1")).alias("o1"),
        (F.sum("b2").over(wc) - F.col("b2")).alias("o2"),
        F.sum("b1").over(wall).alias("n1"),
        F.sum("b2").over(wall).alias("n2"),
    )
    wv = (
        Window.partitionBy("vb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_per_v = bucketed.join(F.broadcast(offsets), "vb").select(
        "v",
        (F.col("o1") + F.sum("d1").over(wv)).alias("c1"),
        (F.col("o2") + F.sum("d2").over(wv)).alias("c2"),
        "n1",
        "n2",
    )
    # decimal(38,0) cross-products: c1/c2 are corpus-scaled cumulative
    # counts, so c1*n2 ~ n**2 passes int64 near 3e9 rows per group
    # (HUGEINT in the twin)
    d = last_per_v.select(
        F.abs(
            F.col("c1").cast("decimal(38,0)") * F.col("n2")
            - F.col("c2").cast("decimal(38,0)") * F.col("n1")
        ).alias("num"),
        "n1",
        "n2",
    )
    return d.agg(
        F.first("n1").alias("na"),
        F.first("n2").alias("nb"),
        F.max("num").alias("max_num"),
    ).select(
        F.col("na").cast("bigint").alias("n_urgent"),
        F.col("nb").cast("bigint").alias("n_low"),
        F.round(
            F.col("max_num").cast("double")
            / (F.col("na").cast("decimal(38,0)") * F.col("nb")).cast("double"),
            6,
        ).alias("ks_d"),
    )


KS_TEST_SQL = """
WITH base AS (
    SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
cum AS (
    SELECT v,
           SUM(g1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
           SUM(1 - g1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
    FROM base
),
last_per_v AS (
    SELECT v, CAST(MAX(c1) AS BIGINT) AS c1, CAST(MAX(c2) AS BIGINT) AS c2
    FROM cum GROUP BY v
),
totals AS (
    SELECT CAST(SUM(g1) AS BIGINT) AS n1,
           CAST(SUM(1 - g1) AS BIGINT) AS n2
    FROM base
)
SELECT n1 AS n_urgent, n2 AS n_low,
       ROUND(CAST(MAX(ABS(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)) AS DOUBLE)
             / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) AS ks_d
FROM last_per_v CROSS JOIN totals
GROUP BY n1, n2
"""


#: PSI band width / count: fixed $50k cents bands over the bounded TPC-H
#: price domain (~$800..$560k), capped at 12 bands — fixed-width (not
#: sampled-quantile) so the bands are LITERALS both engines share.
_PSI_BAND_CENTS = 5_000_000
_PSI_N_BANDS = 12


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX drift monitor (staged r11) — the
    standard production check that a feature's distribution hasn't
    shifted between a reference corpus snapshot and the current one
    (PSI > 0.2 conventionally blocks a model refresh; for training-data
    pipelines it flags source drift between crawls).  Reference = orders
    before 1996, current = 1996 on; feature = order value in fixed $50k
    bands;

        PSI = Σ_b (p_b - q_b) · ln(p_b / q_b)

    with Laplace-smoothed fractions p_b = (n_b + 1) / (n + B) so empty
    bands are well-defined (the standard epsilon-free guard).  Exactness
    discipline: band counts are int64; each fraction is ONE division of
    identical integers; each band's contribution rounds to int64
    micro-units before any sum (the BM25 ``ln`` precedent — both engines
    evaluate the identical expression tree on identical operands).
    Output is PER-BAND (band, counts, psi_contrib_micro) — the total is
    one SUM away, and per-band rows make the verdict attributable.
    Scale shape: one groupBy over the fact table with map-side combine;
    the band relation is B rows; no window, no driver loop."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", cents("o_totalprice").alias("c")
    )
    band = F.least(
        F.floor(F.col("c") / F.lit(_PSI_BAND_CENTS)),
        F.lit(_PSI_N_BANDS - 1),
    ).cast("bigint")
    counts = (
        o.select(
            band.alias("band"),
            (F.col("o_orderdate") < F.lit("1996-01-01")).alias("is_ref"),
        )
        .groupBy("band")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("bigint").alias("n_ref"),
            # NULL dates land in CURRENT on both engines (CASE ELSE
            # semantics — when(~is_ref) would send NULL to neither side)
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).cast("bigint").alias("n_cur"),
        )
    )
    # every band surfaces (Laplace smoothing needs absent bands too)
    bands = spark.range(_PSI_N_BANDS).select(F.col("id").alias("band"))
    full = bands.join(counts, "band", "left").select(
        "band",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = full.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = full.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref") + 1).cast("double") / (
        F.col("t_ref") + _PSI_N_BANDS
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.col("t_cur") + _PSI_N_BANDS
    ).cast("double")
    contrib = F.round((p - q) * F.log(p / q) * 1_000_000, 0).cast("bigint")
    return j.select(
        "band", "n_ref", "n_cur", contrib.alias("psi_contrib_micro")
    ).orderBy("band")


PSI_DRIFT_SQL = f"""
WITH o AS (
    SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c, o_orderdate
    FROM orders
),
counts AS (
    SELECT LEAST(CAST(FLOOR(c / {_PSI_BAND_CENTS}) AS BIGINT),
                 {_PSI_N_BANDS - 1}) AS band,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
    FROM o GROUP BY 1
),
full_bands AS (
    SELECT b.band, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
    FROM (SELECT unnest(range(0, {_PSI_N_BANDS})) AS band) b
    LEFT JOIN counts USING (band)
),
tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM full_bands)
SELECT band, n_ref, n_cur,
       CAST(ROUND(
           (CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + {_PSI_N_BANDS} AS DOUBLE)
            - CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {_PSI_N_BANDS} AS DOUBLE))
           * LN((CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + {_PSI_N_BANDS} AS DOUBLE))
                / (CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {_PSI_N_BANDS} AS DOUBLE)))
           * 1000000, 0) AS BIGINT) AS psi_contrib_micro
FROM full_bands CROSS JOIN tot
ORDER BY band
"""


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    anomalous-bookkeeping screen: natural multi-magnitude amounts follow
    P(d) = log10(1 + 1/d); heavy deviation flags synthetic or constrained
    data (this synthetic corpus SHOULD deviate — the audit quantifies how).

    One scan, digit from the string form (no float log tricks), observed
    ppm by exact integer division, expected ppm from the closed form with
    one log10 per digit literal, deviation in ppm.
    """
    orders = load_table(spark, sf_dir, "orders")
    # first SIGNIFICANT digit: abs() first — a negative amount's string
    # form leads with '-', which is an ANSI cast error (and Benford is
    # defined on magnitudes); zero amounts give digit 0 and drop at the
    # d >= 1 filter
    digit = F.substring(
        F.abs(F.col("o_totalprice")).cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("bigint")
    counts = (
        orders.select(digit.alias("d"))
        .filter(F.col("d") >= 1)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    expected = F.round(
        F.expr("log10(1.0 + 1.0 / cast(d as double))") * 1_000_000, 0
    ).cast("bigint")
    return (
        counts.withColumn("observed_ppm", F.expr("n * 1000000 DIV sum(n) over ()"))
        .withColumn("expected_ppm", expected)
        .select(
            "d",
            "n",
            "observed_ppm",
            "expected_ppm",
            (F.col("observed_ppm") - F.col("expected_ppm")).alias("deviation_ppm"),
        )
        .orderBy("d")
    )


BENFORD_AUDIT_SQL = """
WITH counts AS (
    SELECT CAST(substring(CAST(CAST(ABS(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
                          1, 1) AS BIGINT) AS d,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1
    HAVING CAST(substring(CAST(CAST(ABS(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
                          1, 1) AS BIGINT) >= 1
)
SELECT d, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS observed_ppm,
       CAST(ROUND(LOG10(1.0 + 1.0 / CAST(d AS DOUBLE)) * 1000000, 0) AS BIGINT)
           AS expected_ppm,
       CAST(n * 1000000 // SUM(n) OVER ()
            - CAST(ROUND(LOG10(1.0 + 1.0 / CAST(d AS DOUBLE)) * 1000000, 0)
                   AS BIGINT) AS BIGINT) AS deviation_ppm
FROM counts
ORDER BY d
"""


STREAM_DRIFT_SQL = """
WITH cells AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
ref AS (SELECT event_type, COUNT(*) AS rn FROM events GROUP BY 1),
ref_total AS (SELECT CAST(SUM(rn) AS BIGINT) AS rt FROM ref),
day_total AS (SELECT d, CAST(SUM(n) AS BIGINT) AS dn FROM cells GROUP BY d)
SELECT d, dn AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(
           (CAST(n AS DOUBLE) / CAST(dn AS DOUBLE))
           * LN((CAST(n AS DOUBLE) / CAST(dn AS DOUBLE))
                / (CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE)))
           * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS kl_nats
FROM cells
JOIN ref USING (event_type)
JOIN day_total USING (d)
CROSS JOIN ref_total
GROUP BY d, dn
ORDER BY d
"""


def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume: the MEDIAN of all
    pairwise slopes — up to ~29% contaminated days cannot move it, unlike
    the least-squares slope a single outage day drags around.  The robust
    sibling of the Pearson operator.

    Daily counts are tiny post-aggregate data, so the O(days²) pairwise
    slope relation is small at any corpus scale (the statistic is over
    DAYS, not events); slopes are one identical division of int64
    differences, the median picks the lower-middle order statistic (exact,
    no float interpolation).
    """
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint the tiny per-day relation (calendar-bounded): the
    # pairwise-slope plan consumes it on three paths (per-bucket counts,
    # boundary-bucket rank, quantile boundaries) and each would otherwise
    # re-scan + re-aggregate the full events table.
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    a = daily.select(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).alias("x1"),
        F.col("n").alias("y1"),
    )
    b = daily.select(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).alias("x2"),
        F.col("n").alias("y2"),
    )
    slopes = (
        a.crossJoin(b)
        .filter(F.col("x1") < F.col("x2"))
        .select(
            # try_divide, not `/`: codegen can evaluate the downstream
            # aggregate's grouping expression inside the join's consume path
            # BEFORE the x1<x2 condition prunes the row, and ANSI mode turns
            # the x1==x2 diagonal into a hard DIVIDE_BY_ZERO.  The filter
            # still removes those rows; try_divide just keeps the transient
            # evaluation exception-free.
            F.try_divide(
                (F.col("y2") - F.col("y1")).cast("double"),
                (F.col("x2") - F.col("x1")).cast("double"),
            ).alias("slope")
        )
    )
    # Two-phase median rank (no partition-less global window — that funnels
    # all O(days²) slopes through ONE task).  Phase 1: bucket slopes by a
    # distribution-adaptive quantizer, aggregate per-bucket counts (tiny
    # relation), window cumsum over THAT to find each bucket's starting
    # offset and the single bucket containing the median rank.  Phase 2:
    # rank within only that boundary bucket, partitioned by its (constant)
    # bucket key.  Same shape as token_budget_select's
    # offsets-plus-boundary-group cumsum.
    #
    # The bucket key is the slope's position among 31 approx-quantile
    # boundaries (ADVICE r4 fix, landed r6): a fixed-width quantizer
    # (floor(slope*4096)) degraded to ONE bucket whenever the trend was
    # near-flat (all slopes within 1/4096).  Counting boundaries <= slope
    # is monotone in slope whatever the distribution, and the GK sketch
    # spreads buckets equal-count, so even a degenerate distribution
    # distributes across ~32 tasks.  The boundaries are embedded as
    # literals by quantile_bucket (ADVICE r6 — one bounded driver collect
    # off the checkpointed daily relation pins every branch to identical
    # buckets); the bucket choice only affects WHERE rows are ranked,
    # never the exact median.
    from .twophase import quantile_bucket

    bucketed = quantile_bucket(slopes, "slope").withColumnRenamed(
        "__tp_qb", "bk"
    )
    per_b = bucketed.groupBy("bk").agg(F.count(F.lit(1)).alias("c"))
    # One window pass over the tiny per-bucket relation yields BOTH the
    # running offsets and the grand total m (full-range frame) — no separate
    # stats aggregate, so the O(days²) upstream is evaluated exactly twice
    # (per_b branch + the boundary join), same as the pre-fix plan.
    wc = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    boundary = (
        per_b.select(
            "bk",
            (F.sum("c").over(wc) - F.col("c")).alias("cum_before"),
            F.sum("c").over(wc).alias("cum_through"),
            F.sum("c").over(wall).alias("m"),
        )
        .withColumn(
            "target_rk", F.floor((F.col("m") + 1) / 2).cast("bigint")
        )
        .filter(
            (F.col("cum_before") < F.col("target_rk"))
            & (F.col("target_rk") <= F.col("cum_through"))
        )
    )
    wb = Window.partitionBy("bk").orderBy("slope")
    med = (
        bucketed.join(F.broadcast(boundary), "bk")
        .withColumn("rk", F.col("cum_before") + F.row_number().over(wb))
        .filter(F.col("rk") == F.col("target_rk"))
        .select(F.round("slope", 6).alias("theil_sen_slope"), "m")
    )
    return med.select(
        F.col("m").cast("bigint").alias("n_pairs"), "theil_sen_slope"
    )


THEILSEN_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
),
pts AS (
    SELECT date_diff('day', DATE '2024-01-01', d) AS x, CAST(n AS BIGINT) AS y
    FROM daily
),
slopes AS (
    SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
    FROM pts a JOIN pts b ON a.x < b.x
),
ranked AS (
    SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rk,
           COUNT(*) OVER () AS m
    FROM slopes
)
SELECT CAST(m AS BIGINT) AS n_pairs, ROUND(slope, 6) AS theil_sen_slope
FROM ranked WHERE rk = CAST(FLOOR((m + 1) / 2) AS BIGINT)
"""


def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality indices: each weekday's average daily volume
    relative to the overall daily average (ppm) — the multiplicative
    seasonal profile a forecast divides out before trend fitting.

    Two tiny aggregations over the daily relation; the index is exact
    integer cross-multiplication (``dow_sum · n_days_total · 1e6 div
    (total · n_days_dow)``), so no float ratio drifts.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # portable weekday id: days since a known Sunday mod 7 (0=Sun..6=Sat) —
    # Spark's dayofweek is 1-7 Sun-first, DuckDB's 0-6; anchoring on a date
    # removes the disagreement
    dow_id = F.pmod(F.datediff(F.col("d"), F.lit("2024-01-07").cast("date")), 7)
    dows = daily.groupBy(dow_id.cast("bigint").alias("dow")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
    )
    tot = dows.agg(
        F.sum("k").alias("kt"),
        F.sum("s").alias("st"),
    )
    return (
        dows.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            F.col("k").cast("bigint").alias("n_days"),
            F.col("s").cast("bigint").alias("n_events"),
            F.expr(
                "CAST(CAST(s AS DECIMAL(38,0)) * kt * 1000000 DIV (CAST(st AS DECIMAL(38,0)) * k) AS BIGINT)"
            ).alias("index_ppm"),
        )
        .orderBy("dow")
    )


SEASONALITY_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
),
dows AS (
    SELECT CAST(((date_diff('day', DATE '2024-01-07', d)) % 7 + 7) % 7 AS BIGINT)
               AS dow,
           COUNT(*) AS k,
           CAST(SUM(n) AS BIGINT) AS s
    FROM daily GROUP BY 1
),
tot AS (SELECT CAST(SUM(k) AS BIGINT) AS kt, CAST(SUM(s) AS BIGINT) AS st FROM dows)
SELECT dow, CAST(k AS BIGINT) AS n_days, s AS n_events,
       CAST(CAST(s AS HUGEINT) * kt * 1000000 // (CAST(st AS HUGEINT) * k) AS BIGINT) AS index_ppm
FROM dows CROSS JOIN tot
ORDER BY dow
"""


def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: weekend vs weekday purchase share of events —
    the A/B-test significance readout.  z is computed by ONE fixed
    expression of the four int64 counts (pooled-variance form), rounded to
    4 dp; the significance flag compares against the 1.96 literal.  All
    operands identical cross-engine, so even the test statistic
    hash-matches — the pattern for serving experiment dashboards off the
    warehouse.
    """
    ev = load_table(spark, sf_dir, "events")
    dow_id = F.pmod(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-07").cast("date")), 7
    )
    grp = dow_id.isin(0, 6).cast("int").alias("is_weekend")
    conv = (F.col("event_type") == "purchase").cast("bigint")
    counts = ev.select(grp, conv.alias("c")).groupBy("is_weekend").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("x")
    )
    wide = counts.agg(
        F.sum(F.when(F.col("is_weekend") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("is_weekend") == 1, F.col("x"))).alias("x1"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("n"))).alias("n2"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("x"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("x1").cast("bigint").alias("x_weekend"),
        F.col("n2").cast("bigint").alias("n_weekday"),
        F.col("x2").cast("bigint").alias("x_weekday"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


AB_ZTEST_SQL = """
WITH counts AS (
    SELECT CASE WHEN ((date_diff('day', DATE '2024-01-07', CAST(ts AS DATE)))
                       % 7 + 7) % 7 IN (0, 6)
                THEN 1 ELSE 0 END AS is_weekend,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS x
    FROM events GROUP BY 1
),
wide AS (
    SELECT CAST(SUM(CASE WHEN is_weekend = 1 THEN n END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN is_weekend = 1 THEN x END) AS BIGINT) AS x1,
           CAST(SUM(CASE WHEN is_weekend = 0 THEN n END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN is_weekend = 0 THEN x END) AS BIGINT) AS x2
    FROM counts
)
SELECT n1 AS n_weekend, x1 AS x_weekend, n2 AS n_weekday, x2 AS x_weekday,
       ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
             / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 4) AS z,
       ABS((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
           / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                  * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                  * (1.0 / n1 + 1.0 / n2))) > 1.96 AS significant
FROM wide
"""


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type baskets:
    support / confidence / lift for every ordered type pair — "users who
    did A also did B", the classic co-occurrence mining readout.

    Baskets are per-user DISTINCT types (bounded by |types|), so the
    within-user pair fan-out is |types|² per user — never |events|².  All
    three metrics are exact ppm integer arithmetic (lift's ratio of ratios
    cross-multiplies to one integer division), joins on the tiny per-type
    support relation broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.select("user_id", "event_type").distinct()
    n_users_rel = baskets.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("nu")
    )
    type_support = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("s")
    )
    a = baskets.select("user_id", F.col("event_type").alias("ante"))
    b = baskets.select("user_id", F.col("event_type").alias("cons"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("both"))
    )
    sa = type_support.select(F.col("event_type").alias("ante"), F.col("s").alias("s_a"))
    sc = type_support.select(F.col("event_type").alias("cons"), F.col("s").alias("s_c"))
    return (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(n_users_rel))
        .select(
            "ante",
            "cons",
            F.col("both").cast("bigint").alias("n_both"),
            F.expr("both * 1000000 DIV nu").alias("support_ppm"),
            F.expr("both * 1000000 DIV s_a").alias("confidence_ppm"),
            # both·nu·1e6 is a triple count product — decimal(38,0)
            # (HUGEINT in the twin): user counts are corpus-scaled
            F.expr(
                "CAST(CAST(both AS DECIMAL(38,0)) * nu * 1000000 "
                "DIV (CAST(s_a AS DECIMAL(38,0)) * s_c) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "ante", "cons")
    )


ASSOCIATION_RULES_SQL = """
WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM baskets),
support AS (SELECT event_type, COUNT(*) AS s FROM baskets GROUP BY event_type),
pairs AS (
    SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS nb
    FROM baskets a JOIN baskets b
      ON a.user_id = b.user_id AND a.event_type != b.event_type
    GROUP BY 1, 2
)
SELECT ante, cons, CAST(nb AS BIGINT) AS n_both,
       CAST(nb * 1000000 // nu AS BIGINT) AS support_ppm,
       CAST(nb * 1000000 // sa.s AS BIGINT) AS confidence_ppm,
       CAST(CAST(nb AS HUGEINT) * nu * 1000000
            // (CAST(sa.s AS HUGEINT) * sc.s) AS BIGINT) AS lift_ppm
FROM pairs
JOIN support sa ON sa.event_type = ante
JOIN support sc ON sc.event_type = cons
CROSS JOIN nu
ORDER BY lift_ppm DESC, ante, cons
"""


def decimal_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented decimal(38) escape hatch exercised end-to-end: yearly
    revenue summed as DECIMAL(38, 4) — the arbitrary-precision path for
    when int64 scaled-cents would overflow (past ~9·10^16 cents).  Decimal
    addition is exact and engine-portable at any magnitude; the cost is
    ~2-4x the int64 fast path, which is why cents stay the default.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(38,4)")
        * (F.lit(1).cast("decimal(38,4)") - F.col("l_discount").cast("decimal(38,4)"))
    )
    return (
        li.groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(
            F.sum(rev).cast("decimal(38,4)").cast("string").alias("revenue_dec"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("ship_year")
    )


DECIMAL_REVENUE_SQL = """
SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))
                     * (CAST(1 AS DECIMAL(38,4))
                        - CAST(l_discount AS DECIMAL(38,4))))
                 AS DECIMAL(38,4)) AS VARCHAR) AS revenue_dec,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY YEAR(l_shipdate)
ORDER BY ship_year
"""


def mannwhitney_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do urgent and low-priority
    orders draw their totals from the same distribution?  The
    non-parametric companion to ``q_ab_ztest`` and the location-shift twin
    of ``q_ks_test``'s shape test.

    Exactness: U counts pairs, so instead of mid-ranks the statistic is
    built pairwise —  U = #{x > y} + #{ties}/2 — from the per-distinct-value
    relation: for each value v, ``t1(v)`` urgent rows beat every low row
    strictly below v (windowed cumsum) and half-win the ``t2(v)`` ties.
    Doubling removes the halves, so ``u_x2 = Σ t1·(2·c2_below + t2)`` is an
    exact int64.  The tie-corrected normal z is ONE fixed float expression
    of five int64s (identical operand order cross-engine).

    Scale: the below-cumsum is two-phase (``bucketed_cumsum`` over the
    same approx-quantile price buckets as the KS scan — equal-count
    whatever the price distribution, see ``quantile_bucket``) — the
    per-distinct-cents relation is bounded by the price RANGE, not rows,
    but that range is ~10⁷ distinct values, too wide for a partition-less
    window; the exclusive below-count is the inclusive bucketed cumsum
    minus the row's own ties.
    """
    from .twophase import bucketed_cumsum, quantile_bucket

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g1"),
        cents("o_totalprice").alias("v"),
    )
    # per_v is an orders-wide aggregate consumed by the quantile-boundary
    # pass plus both two-phase passes: checkpoint once rather than paying
    # the orders scan three times
    per_v = base.groupBy("v").agg(
        F.sum("g1").alias("t1"), F.sum(1 - F.col("g1")).alias("t2")
    ).localCheckpoint(eager=True)
    cum = bucketed_cumsum(
        quantile_bucket(per_v, "v"),
        F.col("__tp_qb"),
        [F.asc("v")],
        F.col("t2"),
        "c2i",
    ).select("t1", "t2", (F.col("c2i") - F.col("t2")).alias("c2b"))
    # decimal(38,0) U-statistic sums: c2b is a corpus-scaled cumulative
    # count (so t1·c2b ~ n²), the tie cube (t1+t2)³ explodes on heavy
    # ties, and U itself ~ n1·n2 passes int64 near 3e9 rows per group —
    # all int128 here and HUGEINT in the twin.  The u_x2 REPORT column
    # stays BIGINT by contract (width limit documented in SCALE.md).
    tt = (F.col("t1") + F.col("t2")).cast("decimal(38,0)")
    stats = cum.agg(
        F.sum("t1").alias("n1"),
        F.sum("t2").alias("n2"),
        F.sum(
            F.col("t1").cast("decimal(38,0)") * (2 * F.col("c2b") + F.col("t2"))
        ).alias("u2"),
        F.sum(tt * tt * tt - tt).alias("tsum"),
    )
    z_expr = (
        "(CAST(u2 - CAST(n1 AS DECIMAL(38,0)) * n2 AS DOUBLE)) / "
        "(2.0 * SQRT((CAST(n1 AS DOUBLE) * n2) * "
        "((CAST(n1 + n2 AS DOUBLE) + 1.0) - "
        "CAST(tsum AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * "
        "(CAST(n1 + n2 AS DOUBLE) - 1.0))) / 12.0))"
    )
    return stats.select(
        F.col("n1").cast("bigint").alias("n_urgent"),
        F.col("n2").cast("bigint").alias("n_low"),
        F.col("u2").cast("bigint").alias("u_x2"),
        F.expr(f"ROUND({z_expr}, 4)").alias("z"),
        F.expr(f"ABS({z_expr}) > 1.96").alias("significant"),
    )


MANNWHITNEY_SQL = """
WITH base AS (
    SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
per_v AS (
    SELECT v, CAST(SUM(g1) AS BIGINT) AS t1, CAST(SUM(1 - g1) AS BIGINT) AS t2
    FROM base GROUP BY v
),
cum AS (
    SELECT t1, t2,
           CAST(COALESCE(SUM(t2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS c2b
    FROM per_v
),
stats AS (
    -- HUGEINT U sums (Spark twin: decimal(38,0)): c2b is corpus-scaled,
    -- the tie cube explodes on heavy ties, U ~ n1*n2
    SELECT CAST(SUM(t1) AS BIGINT) AS n1,
           CAST(SUM(t2) AS BIGINT) AS n2,
           SUM(CAST(t1 AS HUGEINT) * (2 * c2b + t2)) AS u2,
           SUM(CAST(t1 + t2 AS HUGEINT) * (t1 + t2) * (t1 + t2) - (t1 + t2))
               AS tsum
    FROM cum
)
SELECT n1 AS n_urgent, n2 AS n_low, CAST(u2 AS BIGINT) AS u_x2,
       ROUND((CAST(u2 - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) /
             (2.0 * SQRT((CAST(n1 AS DOUBLE) * n2) *
              ((CAST(n1 + n2 AS DOUBLE) + 1.0) -
               CAST(tsum AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) *
               (CAST(n1 + n2 AS DOUBLE) - 1.0))) / 12.0)), 4) AS z,
       ABS((CAST(u2 - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) /
           (2.0 * SQRT((CAST(n1 AS DOUBLE) * n2) *
            ((CAST(n1 + n2 AS DOUBLE) + 1.0) -
             CAST(tsum AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) *
             (CAST(n1 + n2 AS DOUBLE) - 1.0))) / 12.0))) > 1.96 AS significant
FROM stats
"""


def ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ordinary-least-squares trend of daily volume:
    slope/intercept/R² of daily counts against the day index — the
    parametric fit next to ``q_theilsen_trend``'s robust one.

    All sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact int64
    map-side-combinable sums over the tiny daily relation; the closed-form
    normal-equation solutions divide ONCE per output in double (operands
    < 2⁵³ so the casts are exact, single IEEE division is deterministic
    cross-engine).  One shuffle keyed by event_type at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    xy = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.col("y").cast("bigint").alias("y"),
    )
    # decimal(38,0) products/sums: y is a corpus-scaled daily count, so
    # y*y (and its sum) passes int64 with normal data before 100 TB;
    # the DuckDB twin widens the same way via HUGEINT
    xd38 = F.col("x").cast("decimal(38,0)")
    yd38 = F.col("y").cast("decimal(38,0)")
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(yd38).alias("sy"),
        F.sum(xd38 * yd38).alias("sxy"),
        F.sum(xd38 * xd38).alias("sxx"),
        F.sum(yd38 * yd38).alias("syy"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / nullif(n * sxx - sx * sx, 0), 6)"
        ).alias("slope"),
        F.expr(
            "ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE) / nullif(n * sxx - sx * sx, 0), 6)"
        ).alias("intercept"),
        F.expr(
            "ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy) / "
            "nullif(CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy), 0.0), 6)"
        ).alias("r2"),
    ).orderBy("event_type")


OLS_TREND_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS y
    FROM events GROUP BY 1, 2
),
xy AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT) AS x,
           CAST(y AS BIGINT) AS y
    FROM daily
),
s AS (
    -- HUGEINT y-products (Spark twin: decimal(38,0)): y is a corpus-scaled
    -- daily count, so y*y sums pass int64 with normal data at 100 TB
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           SUM(CAST(y AS HUGEINT)) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM xy GROUP BY event_type
)
SELECT event_type, n AS n_days,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6) AS slope,
       ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE) / (n * sxx - sx * sx), 6)
           AS intercept,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy) /
             (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM s
ORDER BY event_type
"""


def autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    seasonality/persistence diagnostic read before fitting any forecast
    (pairs with ``q_seasonality``'s fixed weekly profile).

    The series collapses to one row per day FIRST, so the lag join is a
    self-join of a calendar-bounded relation (broadcast both sides at any
    corpus scale); Pearson r per lag comes from exact int64 sufficient
    sums with one sqrt+division at the end (int64→double casts exact,
    deterministic single IEEE ops).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    lead = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    paired = (
        daily.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(lead),
            F.col("d2") == F.expr("date_add(d, CAST(lag AS INT))"),
        )
        .select("lag", F.col("y").alias("x"), F.col("y2").alias("y"))
    )
    # decimal(38,0) products/sums: x and y are corpus-scaled daily counts
    # (see ols_daily_trend); the DuckDB twin widens the same way (HUGEINT)
    pxd = F.col("x").cast("decimal(38,0)")
    pyd = F.col("y").cast("decimal(38,0)")
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pxd).alias("sx"),
        F.sum(pyd).alias("sy"),
        F.sum(pxd * pyd).alias("sxy"),
        F.sum(pxd * pxd).alias("sxx"),
        F.sum(pyd * pyd).alias("syy"),
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            "ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / "
            "nullif(SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 6)"
        ).alias("r"),
    ).orderBy("lag")


AUTOCORR_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
lags AS (SELECT CAST(UNNEST([1, 2, 3, 4, 5, 6, 7]) AS BIGINT) AS lag),
paired AS (
    SELECT l.lag, a.y AS x, b.y AS y
    FROM daily a CROSS JOIN lags l
    JOIN daily b ON b.d = a.d + CAST(l.lag AS INT)
),
s AS (
    SELECT lag,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(x AS HUGEINT)) AS sx,
           SUM(CAST(y AS HUGEINT)) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM paired GROUP BY lag
)
SELECT lag, n AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           AS r
FROM s
ORDER BY lag
"""


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the day where the
    cumulative deviation of daily volume from its mean peaks — the
    level-shift locator that complements ``q_weekly_anomalies``'s
    point-outlier screen.

    The mean never materializes: the deviation of prefix i is
    ``|n·S_i − i·S_n|`` (cross-multiplied to int64, division-free), so
    the argmax is fully integer and the tie-break (earliest day) is
    total.  One window keyed by event_type over the daily relation; the
    per-type totals broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.row_number().over(wo).cast("bigint").alias("i"),
        F.sum("y").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("s"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("y").alias("st"), F.count(F.lit(1)).alias("n")
    )
    dev = cum.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        "n",
        "st",
        F.abs(F.col("n") * F.col("s") - F.col("i") * F.col("st")).alias("dev"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("dev"), F.asc("d"))
    return (
        dev.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("d").alias("change_day"),
            F.col("dev").cast("bigint").alias("dev_num"),
            F.col("n").cast("bigint").alias("n_days"),
            F.expr(
                "ROUND(CAST(dev AS DOUBLE) / (CAST(n AS DOUBLE) * st), 6)"
            ).alias("dev_rel"),
        )
        .orderBy("event_type")
    )


CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT event_type, d,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
               AS i,
           CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
    FROM daily
),
tot AS (
    SELECT event_type, CAST(SUM(y) AS BIGINT) AS st,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM daily GROUP BY event_type
),
dev AS (
    SELECT c.event_type, c.d, t.n, t.st,
           ABS(t.n * c.s - c.i * t.st) AS dev
    FROM cum c JOIN tot t ON c.event_type = t.event_type
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY dev DESC, d ASC) AS rn
    FROM dev
)
SELECT event_type, d AS change_day, CAST(dev AS BIGINT) AS dev_num,
       n AS n_days,
       ROUND(CAST(dev AS DOUBLE) / (CAST(n AS DOUBLE) * st), 6) AS dev_rel
FROM ranked WHERE rn = 1
ORDER BY event_type
"""


def gini_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event value — the inequality readout
    (how concentrated is engagement/revenue across users).  Computed from
    the sorted-rank identity G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with exact
    integer cents and a total order (value, user_id): the numerator is
    pure int64; the single final division is the only float op.

    The rank is two-phase (``bucketed_rank`` over $1000 value bands), so
    the per-user relation never crosses a partition-less window — each
    task ranks one band, offsets ride a broadcast of the tiny per-band
    relation; the same posture as the KS/Theil-Sen statistics.
    """
    from .twophase import bucketed_rank

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum(cents("value")).alias("x"))
    ranked = bucketed_rank(
        per_user,
        F.expr("x DIV 100000"),
        [F.asc("x"), F.asc("user_id")],
        out="i",
        # per_user is an events-wide aggregate: checkpoint it once rather
        # than paying the events scan for each two-phase pass
        materialize=True,
    ).select("x", "i")
    # decimal(38,0) rank-weighted sum: i is a corpus-scaled rank, so
    # Σ i·x (and (n+1)·Σx in the identity) passes int64 with normal data
    # before 100 TB; DuckDB widens the same way via HUGEINT
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("sx").cast("bigint").alias("total_cents"),
        F.expr(
            "ROUND(CAST(2 * six - (CAST(n AS DECIMAL(38,0)) + 1) * sx AS DOUBLE) / "
            "(CAST(n AS DOUBLE) * sx), 6)"
        ).alias("gini"),
    )


GINI_SQL = """
WITH per_user AS (
    SELECT user_id, CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS i
    FROM per_user
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
           SUM(CAST(i AS HUGEINT) * x) AS six
    FROM ranked
)
SELECT n AS n_users, sx AS total_cents,
       ROUND(CAST(2 * six - (CAST(n AS HUGEINT) + 1) * sx AS DOUBLE) /
             (CAST(n AS DOUBLE) * sx), 6) AS gini
FROM s
"""


def weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: the share of each week's active users absent the next
    week — the retention dashboard's inverse.  Activity dedups to
    (user, week) FIRST (one shuffle of 16-byte pairs), the next-week
    probe is a left anti-style join of that relation with itself shifted
    by 7 days, and the last week (no successor) is excluded.  Exact ppm.
    """
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    nxt = act.select(
        "user_id", F.date_sub(F.col("week"), 7).alias("week"),
        F.lit(1).alias("ret"),
    )
    last_week = act.agg(F.max("week").alias("mw"))
    joined = (
        act.join(nxt, ["user_id", "week"], "left")
        .join(F.broadcast(last_week), F.col("week") < F.col("mw"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("ret").isNull(), 1).otherwise(0)).alias("n_churned"),
        )
    )
    return joined.select(
        "week",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_churned").cast("bigint").alias("n_churned"),
        F.expr("n_churned * 1000000 DIV n_active").alias("churn_ppm"),
    ).orderBy("week")


WEEKLY_CHURN_SQL = """
WITH act AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
lastw AS (SELECT MAX(week) AS mw FROM act),
joined AS (
    SELECT a.week,
           COUNT(*) AS n_active,
           CAST(SUM(CASE WHEN n.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_churned
    FROM act a
    CROSS JOIN lastw
    LEFT JOIN act n
      ON n.user_id = a.user_id AND n.week = a.week + 7
    WHERE a.week < lastw.mw
    GROUP BY a.week
)
SELECT week, CAST(n_active AS BIGINT) AS n_active, n_churned,
       n_churned * 1000000 // n_active AS churn_ppm
FROM joined
ORDER BY week
"""


def ltv_cohort_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation: per signup-week cohort, cumulative value
    per cohort member by week-age — the curve a growth team reads
    ("when does a cohort pay back").  Cohort = each user's first active
    week (one aggregate), ages from exact date arithmetic, cumulative
    sums via a window over the tiny (cohort × age) grid.  Value rides as
    int cents end-to-end; the per-member normalization is exact milli.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        cents("value").alias("v"),
    )
    cohorts = base.groupBy("user_id").agg(F.min("week").alias("cohort"))
    sized = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_n"))
    aged = (
        base.join(cohorts, "user_id")
        .groupBy(
            "cohort",
            ((F.datediff(F.col("week"), F.col("cohort"))) / 7)
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.sum("v").alias("wv"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        aged.withColumn("cum_cents", F.sum("wv").over(w))
        .join(F.broadcast(sized), "cohort")
        .select(
            "cohort",
            "age_weeks",
            F.col("cohort_n").cast("bigint").alias("cohort_n"),
            F.col("cum_cents").cast("bigint").alias("cum_cents"),
            F.expr("cum_cents * 10 DIV cohort_n").alias("ltv_milli_per_user"),
        )
        .orderBy("cohort", "age_weeks")
    )


LTV_COHORT_SQL = """
WITH base AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS v
    FROM events
),
cohorts AS (SELECT user_id, MIN(week) AS cohort FROM base GROUP BY user_id),
sized AS (SELECT cohort, COUNT(*) AS cohort_n FROM cohorts GROUP BY cohort),
aged AS (
    SELECT c.cohort,
           CAST(date_diff('day', c.cohort, b.week) // 7 AS BIGINT) AS age_weeks,
           CAST(SUM(b.v) AS BIGINT) AS wv
    FROM base b JOIN cohorts c ON b.user_id = c.user_id
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort, age_weeks,
           CAST(SUM(wv) OVER (PARTITION BY cohort ORDER BY age_weeks
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
    FROM aged
)
SELECT cum.cohort, cum.age_weeks, CAST(s.cohort_n AS BIGINT) AS cohort_n,
       cum.cum_cents,
       cum.cum_cents * 10 // s.cohort_n AS ltv_milli_per_user
FROM cum JOIN sized s ON cum.cohort = s.cohort
ORDER BY cum.cohort, cum.age_weeks
"""


# Holt fold state packing: (level+OFF, trend+OFF) in one int64, K = 2^30.
# All intermediate halvings operate on non-negative ints, so Spark's
# truncating `div` and DuckDB's flooring `//` agree at every step.
_HOLT_K = 1 << 30
_HOLT_OFF = 1 << 29


def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α = β = ½) of each event type's
    daily volume, with a 7-day-ahead linear forecast — the level+trend
    upgrade of the EWMA fold (a per-key recurrence NO window expresses).

    Same sort-into-array + left-fold shape as ``q_user_ewma``, but with
    TWO state components packed into one int64 (level+OFF)·K + (trend+OFF)
    because DuckDB's ``list_reduce`` folds scalar state only.  The offset
    keeps every halving non-negative, where truncating and flooring
    integer division coincide — so the whole recurrence is bit-exact
    cross-engine.  Per-type arrays are calendar-bounded (|days| elements).
    """
    K, OFF = _HOLT_K, _HOLT_OFF
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    arrs = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("d"), F.col("y")))),
            lambda s: s.y,
        ).alias("ys")
    )
    # fold: u' = (x + u + w) div 2 ; w' = (u' - u + w + OFF) div 2
    fold = F.expr(
        f"aggregate(slice(ys, 2, size(ys) - 1), "
        f"(ys[0] + {OFF}) * CAST({K} AS BIGINT) + {OFF}, "
        f"(acc, x) -> ((x + acc DIV {K} + acc % {K}) DIV 2) * CAST({K} AS BIGINT) "
        f"+ (((x + acc DIV {K} + acc % {K}) DIV 2) - acc DIV {K} + acc % {K} + {OFF}) DIV 2)"
    )
    return (
        arrs.withColumn("packed", fold)
        .select(
            "event_type",
            F.size("ys").cast("bigint").alias("n_days"),
            F.expr(f"packed DIV {K} - {OFF}").cast("bigint").alias("level"),
            F.expr(f"packed % {K} - {OFF}").cast("bigint").alias("trend"),
            F.expr(
                f"(packed DIV {K} - {OFF}) + 7 * (packed % {K} - {OFF})"
            ).cast("bigint").alias("forecast_7d"),
        )
        .orderBy("event_type")
    )


HOLT_FORECAST_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
arrs AS (
    SELECT event_type, list(y ORDER BY d) AS ys
    FROM daily GROUP BY event_type
),
folded AS (
    SELECT event_type, ys,
           list_reduce(
               list_prepend((ys[1] + {_HOLT_OFF}) * CAST({_HOLT_K} AS BIGINT)
                                + {_HOLT_OFF},
                            list_slice(ys, 2, LEN(ys))),
               (acc, x) -> ((x + acc // {_HOLT_K} + acc % {_HOLT_K}) // 2)
                               * CAST({_HOLT_K} AS BIGINT)
                           + (((x + acc // {_HOLT_K} + acc % {_HOLT_K}) // 2)
                              - acc // {_HOLT_K} + acc % {_HOLT_K} + {_HOLT_OFF}) // 2
           ) AS packed
    FROM arrs
)
SELECT event_type, CAST(LEN(ys) AS BIGINT) AS n_days,
       CAST(packed // {_HOLT_K} - {_HOLT_OFF} AS BIGINT) AS level,
       CAST(packed % {_HOLT_K} - {_HOLT_OFF} AS BIGINT) AS trend,
       CAST((packed // {_HOLT_K} - {_HOLT_OFF})
            + 7 * (packed % {_HOLT_K} - {_HOLT_OFF}) AS BIGINT) AS forecast_7d
FROM folded
ORDER BY event_type
"""


def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of view→purchase conversion time: the
    censoring-correct estimate of "how long until a viewer converts"
    (users who never purchase are right-censored at the study end, not
    dropped — the mistake the naive conversion-lag histogram makes).

    Per user: first view, first purchase (one conditional aggregate).
    Risk sets come from one window cumsum over the tiny distinct-day
    relation; each step's hazard term ln((n−d)/n) is ONE division + ln on
    identical int64 operands, rounded to micro-nats BEFORE the cumulative
    sum (the LM-family determinism recipe), so the log-survival column is
    exact int64 and the unlogged curve is one exp, 6 dp.  Curve rows are
    emitted at death times only (KM steps); a risk set fully extinguished
    by deaths floors the log at −30 (S ≈ 0).
    """
    ev = load_table(spark, sf_dir, "events")
    study_end = F.lit("2024-01-30").cast("date")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts").cast("date"))
            ).alias("first_view"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
            ).alias("first_purchase"),
        )
        .filter(F.col("first_view").isNotNull())
    )
    subj = per_user.select(
        F.when(
            F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") >= F.col("first_view")),
            F.datediff(F.col("first_purchase"), F.col("first_view")),
        )
        .otherwise(F.datediff(study_end, F.col("first_view")))
        .cast("bigint")
        .alias("t"),
        (
            F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") >= F.col("first_view"))
        )
        .cast("bigint")
        .alias("death"),
    )
    per_t = subj.groupBy("t").agg(
        F.sum("death").alias("d"),
        F.sum(1 - F.col("death")).alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = subj.agg(F.count(F.lit(1)).alias("n_total"))
    risk = per_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n"),
    )
    term = F.expr(
        "CASE WHEN n > d THEN CAST(ROUND(LN(CAST(n - d AS DOUBLE) / n) * 1000000, 0)"
        " AS BIGINT) ELSE -30000000 END"
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = risk.withColumn("lg", term).withColumn(
        "cum_log_micro", F.sum("lg").over(w_cum)
    )
    return (
        stepped.filter(F.col("d") > 0)
        .select(
            F.col("t").alias("t_days"),
            F.col("n").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("n_deaths"),
            F.col("c").cast("bigint").alias("n_censored"),
            F.col("cum_log_micro").cast("bigint").alias("cum_log_micro"),
            F.expr(
                "ROUND(EXP(CAST(cum_log_micro AS DOUBLE) / 1000000.0), 6)"
            ).alias("survival"),
        )
        .orderBy("t_days")
    )


KAPLAN_MEIER_SQL = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS DATE) END)
               AS first_view,
           MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
               AS first_purchase
    FROM events WHERE event_type IN ('view', 'purchase')
    GROUP BY user_id
),
subj AS (
    SELECT CAST(CASE WHEN first_purchase IS NOT NULL
                      AND first_purchase >= first_view
                THEN date_diff('day', first_view, first_purchase)
                ELSE date_diff('day', first_view, DATE '2024-01-30')
           END AS BIGINT) AS t,
           CAST(CASE WHEN first_purchase IS NOT NULL
                      AND first_purchase >= first_view
                THEN 1 ELSE 0 END AS BIGINT) AS death
    FROM per_user WHERE first_view IS NOT NULL
),
per_t AS (
    SELECT t, CAST(SUM(death) AS BIGINT) AS d,
           CAST(SUM(1 - death) AS BIGINT) AS c
    FROM subj GROUP BY t
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM subj),
risk AS (
    SELECT t, d, c,
           n_total - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n
    FROM per_t CROSS JOIN tot
),
stepped AS (
    SELECT t, d, c, n,
           CAST(SUM(CASE WHEN n > d
                         THEN CAST(ROUND(LN(CAST(n - d AS DOUBLE) / n) * 1000000,
                                         0) AS BIGINT)
                         ELSE -30000000 END)
                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_log_micro
    FROM risk
)
SELECT t AS t_days, n AS n_risk, d AS n_deaths, c AS n_censored,
       cum_log_micro,
       ROUND(EXP(CAST(cum_log_micro AS DOUBLE) / 1000000.0), 6) AS survival
FROM stepped WHERE d > 0
ORDER BY t_days
"""


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every user scored into recency/frequency/monetary
    quartiles (NTILE over total orders — ties broken by user_id so the
    quartile assignment is deterministic cross-engine), segments reported
    as the classic 3-digit code with member counts and exact mean value.

    One user-keyed aggregate, then three two-phase NTILEs of the
    |users|-row relation (``bucketed_ntile`` — no partition-less window:
    recency/frequency bucket on their own bounded-domain int keys, monetary
    on $1000 bands), so the segmentation layer never funnels the user
    relation through one task at any event volume.  Quartile 4 is best on
    every axis.
    """
    from .twophase import bucketed_ntile

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-01-30").cast("date"), F.max(F.col("ts").cast("date"))
        )
        .cast("bigint")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents("value")).alias("monetary_cents"),
    )
    # materialize each stage: the chain embeds windows inside windows, so
    # without the checkpoints ntile3's two phases re-run ntile2 which
    # re-runs ntile1 which re-runs the events aggregate — up to 8 scans of
    # events for a 3-axis segmentation.  Three slim |users|-row checkpoints
    # cap it at one events scan.
    tiled = bucketed_ntile(
        per_user,
        F.expr("-recency_days"),
        [F.desc("recency_days"), F.asc("user_id")],
        4,
        "r",
        materialize=True,
    )
    tiled = bucketed_ntile(
        tiled,
        F.col("frequency"),
        [F.asc("frequency"), F.asc("user_id")],
        4,
        "f",
        materialize=True,
    )
    tiled = bucketed_ntile(
        tiled,
        F.expr("monetary_cents DIV 100000"),
        [F.asc("monetary_cents"), F.asc("user_id")],
        4,
        "m",
        materialize=True,
    )
    scored = tiled.select(
        "user_id",
        "monetary_cents",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("bigint")
        .alias("rfm_segment"),
    )
    return (
        scored.groupBy("rfm_segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("monetary_cents").alias("sm"),
        )
        .select(
            "rfm_segment",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.expr("sm DIV n_users").alias("mean_monetary_cents"),
        )
        .orderBy("rfm_segment")
    )


RFM_SEGMENTS_SQL = """
WITH per_user AS (
    SELECT user_id,
           CAST(date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-01-30')
                AS BIGINT) AS recency_days,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM events GROUP BY user_id
),
scored AS (
    SELECT user_id, monetary_cents,
           NTILE(4) OVER (ORDER BY recency_days DESC, user_id ASC) * 100
           + NTILE(4) OVER (ORDER BY frequency ASC, user_id ASC) * 10
           + NTILE(4) OVER (ORDER BY monetary_cents ASC, user_id ASC)
               AS rfm_segment
    FROM per_user
)
SELECT CAST(rfm_segment AS BIGINT) AS rfm_segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(monetary_cents) // COUNT(*) AS BIGINT) AS mean_monetary_cents
FROM scored
GROUP BY rfm_segment
ORDER BY rfm_segment
"""


def markov_stationary(
    spark: SparkSession, sf_dir: str, n_iters: int = 6, n_types: int = 5
) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov chain
    (power iteration on the exact-ppm transition matrix) — "where does user
    behavior settle": the long-run share of each event type implied by the
    observed transition structure, vs the raw frequency mix.

    All arithmetic is integer: the matrix is :func:`event_transitions`'
    ppm rows, π starts uniform in ppm, and each step is
    π'(to) = (Σ π(from)·ppm(from→to)) div 10⁶ — sum-then-divide, so one
    floor per (iteration, type).  The |types|²-row matrix is the output
    of the one corpus-sized job and COLLECTS once (alphabet-bounded by
    construction — 25 rows here, corpus-size independent; EAGER — the
    corpus job runs at call time); the power
    iterations then run driver-side in exact Python integer algebra
    (unbounded ints; π·ppm sums stay far inside the engines' int64),
    bit-identical to the former per-iteration broadcast-join jobs
    (~3 jobs × n_iters of scheduler machinery over those 25 rows — the
    pca_top_component recipe).  The oracle replays identical steps as
    chained CTEs.
    """
    trans = (
        event_transitions(spark, sf_dir)
        .select("from_type", "to_type", "ppm")
        .collect()
    )
    pi = {
        t: 1_000_000 // n_types for t in {r["from_type"] for r in trans}
    }
    for _ in range(n_iters):
        acc: dict = {}
        for r in trans:
            p = pi.get(r["from_type"])
            if p is not None:  # inner-join semantics of the former plan
                acc[r["to_type"]] = acc.get(r["to_type"], 0) + p * int(r["ppm"])
        # non-negative operands: truncating DIV == Python floor division
        pi = {t: s // 1_000_000 for t, s in acc.items()}
    return values_relation(
        spark, sorted(pi.items()), "event_type string, stationary_ppm bigint"
    ).orderBy("event_type")


def markov_stationary_sql(n_iters: int = 6, n_types: int = 5) -> str:
    """DuckDB oracle for :func:`markov_stationary`: the transition CTE plus
    one power-iteration CTE per step, identical integer ops."""
    parts = [
        f"""WITH seq AS (
    SELECT user_id, event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS to_type
    FROM events
),
pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
trans AS (
    SELECT from_type, to_type,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS ppm
    FROM pairs
),
p0 AS (
    SELECT DISTINCT from_type AS event_type,
           CAST({1_000_000 // n_types} AS BIGINT) AS p
    FROM trans
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f""",
p{t} AS (
    SELECT tr.to_type AS event_type,
           CAST(SUM(pp.p * tr.ppm) // 1000000 AS BIGINT) AS p
    FROM trans tr JOIN p{t - 1} pp ON tr.from_type = pp.event_type
    GROUP BY tr.to_type
)"""
        )
    parts.append(
        f"""
SELECT event_type, p AS stationary_ppm FROM p{n_iters} ORDER BY event_type"""
    )
    return "".join(parts)


def spearman_volume_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily event volume and daily
    spend — the monotone-association screen that, unlike Pearson
    (``q_weekly_correlation``), ignores outliers and nonlinearity.

    Tie-correct and fully integer: per-distinct-value average ranks are
    held DOUBLED (``2·cum_before + t + 1``) so .5 mid-ranks stay int64,
    and ρ is Pearson over those integer rank pairs — exact sufficient
    sums, one final sqrt+division.  Everything after the daily rollup
    operates on a calendar-bounded relation.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(cents("value")).alias("y"),
    )

    def doubled_ranks(col: str, out: str) -> DataFrame:
        per_v = daily.groupBy(col).agg(F.count(F.lit(1)).alias("t"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return per_v.select(
            col,
            (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1).alias(
                out
            ),
        )

    ranked = daily.join(doubled_ranks("x", "rx"), "x").join(
        doubled_ranks("y", "ry"), "y"
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / "
            "nullif(SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)), 0.0), 6)"
        ).alias("rho"),
    )


SPEARMAN_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1
),
rxv AS (
    SELECT x, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS BIGINT) AS rx
    FROM (SELECT x, COUNT(*) AS t FROM daily GROUP BY x)
),
ryv AS (
    SELECT y, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS BIGINT) AS ry
    FROM (SELECT y, COUNT(*) AS t FROM daily GROUP BY y)
),
ranked AS (
    SELECT rx, ry FROM daily JOIN rxv USING (x) JOIN ryv USING (y)
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
           CAST(SUM(rx * ry) AS BIGINT) AS sxy,
           CAST(SUM(rx * rx) AS BIGINT) AS sxx,
           CAST(SUM(ry * ry) AS BIGINT) AS syy
    FROM ranked
)
SELECT n AS n_days,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)), 6)
           AS rho
FROM s
"""


def window_funnel(
    spark: SparkSession, sf_dir: str, window_hours: int = 24
) -> DataFrame:
    """ClickHouse-``windowFunnel`` semantics: the deepest view→click→
    purchase chain each user completes with every step inside
    ``window_hours`` of the PREVIOUS step (contrast ``q_funnel``, which
    only orders each stage's first occurrence).  Output: users by maximum
    depth reached.

    Shape: stage relations join per user with a bounded time-range
    predicate (event-time distance caps the pair fan-out — the same bound
    that makes the stream-stream interval join's state evictable);
    existence at each depth collapses to left-semi joins, so no
    chain-pair relation survives the aggregate.  µs-integer timestamps
    keep the window predicate exact.
    """
    ev = load_table(spark, sf_dir, "events")
    w_us = window_hours * 3600 * 1_000_000
    us = F.expr("timestampdiff(MICROSECOND, timestamp '2024-01-01', ts)")

    def stage(t: str, out: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select(
            "user_id", us.alias(out)
        )

    v = stage("view", "t1")
    c = stage("click", "t2")
    p = stage("purchase", "t3")
    # depth>=2: a (view, click) chain within the window
    vc = v.join(c, "user_id").filter(
        (F.col("t2") > F.col("t1")) & (F.col("t2") <= F.col("t1") + w_us)
    )
    d2_users = vc.select("user_id").distinct()
    # depth>=3: extend a chain with a purchase within window of the click
    d3_users = (
        vc.join(p, "user_id")
        .filter((F.col("t3") > F.col("t2")) & (F.col("t3") <= F.col("t2") + w_us))
        .select("user_id")
        .distinct()
    )
    d1_users = v.select("user_id").distinct()
    depth = (
        d1_users.join(d2_users.withColumn("d2", F.lit(1)), "user_id", "left")
        .join(d3_users.withColumn("d3", F.lit(1)), "user_id", "left")
        .select(
            (
                F.lit(1)
                + F.coalesce(F.col("d2"), F.lit(0))
                + F.coalesce(F.col("d3"), F.lit(0))
            ).cast("bigint").alias("depth")
        )
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("depth")
    )


WINDOW_FUNNEL_SQL_TEMPLATE = """
WITH ev AS (
    SELECT user_id, event_type,
           date_diff('microsecond', TIMESTAMP '2024-01-01', ts) AS t
    FROM events
),
v AS (SELECT user_id, t AS t1 FROM ev WHERE event_type = 'view'),
c AS (SELECT user_id, t AS t2 FROM ev WHERE event_type = 'click'),
p AS (SELECT user_id, t AS t3 FROM ev WHERE event_type = 'purchase'),
vc AS (
    SELECT DISTINCT v.user_id, t1, t2
    FROM v JOIN c ON v.user_id = c.user_id
    WHERE t2 > t1 AND t2 <= t1 + {w_us}
),
d2 AS (SELECT DISTINCT user_id FROM vc),
d3 AS (
    SELECT DISTINCT vc.user_id
    FROM vc JOIN p ON vc.user_id = p.user_id
    WHERE t3 > t2 AND t3 <= t2 + {w_us}
),
d1 AS (SELECT DISTINCT user_id FROM v),
depth AS (
    SELECT 1 + (CASE WHEN d2.user_id IS NOT NULL THEN 1 ELSE 0 END)
             + (CASE WHEN d3.user_id IS NOT NULL THEN 1 ELSE 0 END) AS depth
    FROM d1
    LEFT JOIN d2 ON d1.user_id = d2.user_id
    LEFT JOIN d3 ON d1.user_id = d3.user_id
)
SELECT CAST(depth AS BIGINT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_users
FROM depth GROUP BY depth ORDER BY depth
"""


def sequence_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-``sequenceMatch`` semantics: per-user event-type
    timelines compressed to a character string (one char per event, total
    order by ts/event_id), then matched against behavioral regexes — the
    pattern layer on top of ``q_session_paths``' fixed 3-grams: arbitrary
    gaps (``v.*c.*p``), anchors, and repetitions for free via the regex
    engine, one pass per pattern over |users| short strings.

    One user-keyed sort builds each timeline string (collect_list of
    (ts, event_id, char) structs — array_sort gives the total order);
    matching is per-row regexp, JVM-side.  Timeline length is bounded by
    per-user activity; window the timeline first for pathological keys.
    """
    ev = load_table(spark, sf_dir, "events")
    strings = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring(F.col("event_type"), 1, 1).alias("ch"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("s")), lambda s: s.ch)
            ).alias("seq")
        )
    )
    patterns = [
        ("view_then_purchase", "v.*p"),
        ("view_click_purchase", "v.*c.*p"),
        ("error_then_retry", "e.+e"),
        ("signup_first", "^s"),
    ]
    agg = strings.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.sum(F.col("seq").rlike(pat).cast("bigint")).alias(name)
            for name, pat in patterns
        ],
    )
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("pattern"),
                    F.col(name).cast("bigint").alias("n_matched"),
                )
                for name, _ in patterns
            ]
        )
    )
    return (
        agg.select("n_users", kv.alias("kv"))
        .select(
            F.col("kv.pattern").alias("pattern"),
            F.col("kv.n_matched").alias("n_matched"),
            F.col("n_users").cast("bigint").alias("n_users"),
        )
        .withColumn("match_ppm", F.expr("n_matched * 1000000 DIV n_users"))
        .orderBy("pattern")
    )


SEQUENCE_MATCH_SQL = """
WITH strings AS (
    SELECT user_id,
           string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
    FROM events GROUP BY user_id
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*p') THEN 1 ELSE 0 END)
                AS BIGINT) AS view_then_purchase,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END)
                AS BIGINT) AS view_click_purchase,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'e.+e') THEN 1 ELSE 0 END)
                AS BIGINT) AS error_then_retry,
           CAST(SUM(CASE WHEN regexp_matches(seq, '^s') THEN 1 ELSE 0 END)
                AS BIGINT) AS signup_first
    FROM strings
)
SELECT pattern, n_matched, n_users, n_matched * 1000000 // n_users AS match_ppm
FROM (
    SELECT 'view_then_purchase' AS pattern, view_then_purchase AS n_matched,
           n_users FROM agg
    UNION ALL
    SELECT 'view_click_purchase', view_click_purchase, n_users FROM agg
    UNION ALL
    SELECT 'error_then_retry', error_then_retry, n_users FROM agg
    UNION ALL
    SELECT 'signup_first', signup_first, n_users FROM agg
)
ORDER BY pattern
"""


def weekly_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU/MAU stickiness per week — the product-engagement ratio (how much
    of the monthly audience shows up in a given week).  Both actives come
    from ONE deduplicated (user, week) relation: WAU per week directly,
    MAU by joining each week to its calendar month's distinct users —
    exact ppm, no approximate distinct needed at the weekly grain."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
    ).distinct()
    wau = uw.select("user_id", "week").distinct().groupBy("week").agg(
        F.count(F.lit(1)).alias("wau")
    )
    mau = uw.select("user_id", "month").distinct().groupBy("month").agg(
        F.count(F.lit(1)).alias("mau")
    )
    wk = uw.select("week", "month").distinct()
    return (
        wau.join(wk, "week")
        .join(F.broadcast(mau), "month")
        .groupBy("week")
        .agg(
            F.max("wau").alias("wau"),
            F.max("mau").alias("mau"),
        )
        .select(
            "week",
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.expr("wau * 1000000 DIV mau").alias("stickiness_ppm"),
        )
        .orderBy("week")
    )


WEEKLY_STICKINESS_SQL = """
WITH uw AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(date_trunc('month', ts) AS DATE) AS month
    FROM events
),
wau AS (
    SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM uw GROUP BY week
),
mau AS (
    SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM uw GROUP BY month
),
wk AS (SELECT DISTINCT week, month FROM uw)
SELECT w.week, MAX(w.wau) AS wau, MAX(m.mau) AS mau,
       CAST(MAX(w.wau) * 1000000 // MAX(m.mau) AS BIGINT) AS stickiness_ppm
FROM wau w JOIN wk USING (week) JOIN mau m USING (month)
GROUP BY w.week
ORDER BY w.week
"""


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly audience decomposition into NEW (first-ever-active that week)
    vs RETURNING users — the growth-accounting counterpart of
    ``q_churn``.  One dedup to (user, week), one per-user min-week
    aggregate joined back; exact ppm new-share."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    return (
        uw.join(first, "user_id")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                (F.col("week") == F.col("first_week")).cast("bigint")
            ).alias("n_new"),
        )
        .select(
            "week",
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_new").cast("bigint").alias("n_new"),
            (F.col("n_active") - F.col("n_new")).cast("bigint").alias(
                "n_returning"
            ),
            F.expr("n_new * 1000000 DIV n_active").alias("new_share_ppm"),
        )
        .orderBy("week")
    )


NEW_VS_RETURNING_SQL = """
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
first AS (SELECT user_id, MIN(week) AS first_week FROM uw GROUP BY user_id)
SELECT uw.week,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN uw.week = f.first_week THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(COUNT(*) - SUM(CASE WHEN uw.week = f.first_week THEN 1 ELSE 0 END)
            AS BIGINT) AS n_returning,
       CAST(SUM(CASE WHEN uw.week = f.first_week THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS new_share_ppm
FROM uw JOIN first f USING (user_id)
GROUP BY uw.week
ORDER BY uw.week
"""


def cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cart-abandonment rate: sessions (30-min gaps) that CLICK but
    never PURCHASE, as a share of clicking sessions — the conversion-leak
    dashboard number.  Reuses the sessionizer's two-window shape (lag →
    running sum, user-keyed), carries event_type through, and reduces each
    session to two flags before the weekly rollup; abandonment is exact
    ppm."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap_us.isNull() | (gap_us > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("is_start").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sessioned.groupBy("user_id", "session_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("week"),
        F.max((F.col("event_type") == "click").cast("bigint")).alias("clicked"),
        F.max((F.col("event_type") == "purchase").cast("bigint")).alias("purchased"),
    )
    return (
        per_session.filter(F.col("clicked") == 1)
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_click_sessions"),
            F.sum(1 - F.col("purchased")).alias("n_abandoned"),
        )
        .select(
            "week",
            F.col("n_click_sessions").cast("bigint").alias("n_click_sessions"),
            F.col("n_abandoned").cast("bigint").alias("n_abandoned"),
            F.expr("n_abandoned * 1000000 DIV n_click_sessions").alias(
                "abandonment_ppm"
            ),
        )
        .orderBy("week")
    )


CART_ABANDONMENT_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > {SESSION_GAP_MINUTES} * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
),
per_session AS (
    SELECT user_id, session_id,
           CAST(date_trunc('week', MIN(ts)) AS DATE) AS week,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
    FROM sessioned GROUP BY user_id, session_id
)
SELECT week,
       CAST(COUNT(*) AS BIGINT) AS n_click_sessions,
       CAST(SUM(1 - purchased) AS BIGINT) AS n_abandoned,
       CAST(SUM(1 - purchased) * 1000000 // COUNT(*) AS BIGINT)
           AS abandonment_ppm
FROM per_session WHERE clicked = 1
GROUP BY week
ORDER BY week
"""


def lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of per-user event value in deciles: each decile's share
    of users vs its cumulative share of total value — the curve whose area
    gap ``q_gini`` summarizes (and the 80/20 readout product teams quote).
    One user aggregate, one two-phase NTILE (``bucketed_ntile`` over $1000
    value bands — the (value, user_id) total order without a single-task
    window), exact ppm shares."""
    from .twophase import bucketed_ntile

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum(cents("value")).alias("x"))
    # materialize: per_user is an events-wide aggregate scanned by both
    # ntile phases; the output checkpoint covers deciled's two consumers
    # (the total and the per-decile rollup) so the window runs once.
    deciled = (
        bucketed_ntile(
            per_user,
            F.expr("x DIV 100000"),
            [F.asc("x"), F.asc("user_id")],
            10,
            "decile",
            materialize=True,
        )
        .select("x", "decile")
        .localCheckpoint(eager=True)
    )
    tot = deciled.agg(F.sum("x").alias("tx"))
    per_dec = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("dx")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_dec.crossJoin(F.broadcast(tot))
        .withColumn("cum_x", F.sum("dx").over(wc))
        .select(
            "decile",
            F.col("n").cast("bigint").alias("n_users"),
            F.col("dx").cast("bigint").alias("value_cents"),
            # cents sums x 1e6 pass int64 at corpus scale: multiply-first
            # in decimal(38,0) keeps the exact same ppm values
            F.expr(
                "CAST(CAST(dx AS DECIMAL(38,0)) * 1000000 DIV tx AS BIGINT)"
            ).alias("share_ppm"),
            F.expr(
                "CAST(CAST(cum_x AS DECIMAL(38,0)) * 1000000 DIV tx AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


LORENZ_CURVE_SQL = """
WITH per_user AS (
    SELECT user_id, CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
    FROM events GROUP BY user_id
),
deciled AS (
    SELECT x, CAST(NTILE(10) OVER (ORDER BY x, user_id) AS BIGINT) AS decile
    FROM per_user
),
tot AS (SELECT CAST(SUM(x) AS BIGINT) AS tx FROM deciled),
per_dec AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS dx
    FROM deciled GROUP BY decile
)
SELECT decile, n AS n_users, dx AS value_cents,
       CAST(CAST(dx AS HUGEINT) * 1000000 // tx AS BIGINT) AS share_ppm,
       CAST(SUM(CAST(dx AS HUGEINT)) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            * 1000000 // tx AS BIGINT) AS cum_share_ppm
FROM per_dec CROSS JOIN tot
ORDER BY decile
"""


def activity_punchcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour × weekday activity punchcard — the classic engagement heatmap.
    Portable weekday ids (anchor-date modular arithmetic, the
    ``q_seasonality`` trick — Spark and DuckDB number dayofweek
    differently); one low-cardinality rollup, exact ppm of total."""
    ev = load_table(spark, sf_dir, "events")
    dow = _dow_id(F.col("ts")).cast("bigint")
    cells = ev.groupBy(
        dow.alias("dow"), F.hour("ts").cast("bigint").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("t"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            F.col("n").cast("bigint").alias("n_events"),
            F.expr("n * 1000000 DIV t").alias("share_ppm"),
        )
        .orderBy("dow", "hour")
    )


PUNCHCARD_SQL = """
WITH cells AS (
    SELECT CAST(((date_diff('day', DATE '2024-01-07', CAST(ts AS DATE))) % 7
                 + 7) % 7 AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells)
SELECT dow, hour, CAST(n AS BIGINT) AS n_events,
       CAST(n * 1000000 // t AS BIGINT) AS share_ppm
FROM cells CROSS JOIN tot
ORDER BY dow, hour
"""


def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the weekend/weekday purchase-rate
    experiment at 80% power / 95% confidence — the pre-registration
    companion to ``q_ab_ztest`` (is the experiment even big enough to see
    the effect you care about?).  MDE = (z_α/2 + z_β)·√(p(1−p)(1/n₁+1/n₂))
    with the z literals frozen; counts and the pooled rate are exact
    integers, the MDE is one fixed float expression rounded to ppm."""
    ev = load_table(spark, sf_dir, "events")
    grp = _dow_id(F.col("ts")).isin(0, 6).cast("bigint").alias("is_weekend")
    conv = (F.col("event_type") == "purchase").cast("bigint")
    wide = (
        ev.select(grp, conv.alias("c"))
        .groupBy("is_weekend")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("x"))
        .agg(
            F.sum(F.when(F.col("is_weekend") == 1, F.col("n"))).alias("n1"),
            F.sum(F.when(F.col("is_weekend") == 0, F.col("n"))).alias("n2"),
            F.sum("x").alias("xt"),
            F.sum("n").alias("nt"),
        )
    )
    mde = (
        "ROUND((1.96 + 0.8416) * SQRT((CAST(xt AS DOUBLE) / nt) "
        "* (1.0 - CAST(xt AS DOUBLE) / nt) "
        "* (1.0 / n1 + 1.0 / n2)) * 1000000, 0)"
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("n2").cast("bigint").alias("n_weekday"),
        F.expr("xt * 1000000 DIV nt").alias("pooled_rate_ppm"),
        F.expr(f"CAST({mde} AS BIGINT)").alias("mde_ppm"),
    )


AB_POWER_SQL = """
WITH counts AS (
    SELECT CASE WHEN ((date_diff('day', DATE '2024-01-07', CAST(ts AS DATE)))
                       % 7 + 7) % 7 IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM events GROUP BY 1
),
wide AS (
    SELECT CAST(SUM(CASE WHEN is_weekend = 1 THEN n END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN is_weekend = 0 THEN n END) AS BIGINT) AS n2,
           CAST(SUM(x) AS BIGINT) AS xt,
           CAST(SUM(n) AS BIGINT) AS nt
    FROM counts
)
SELECT n1 AS n_weekend, n2 AS n_weekday,
       CAST(xt * 1000000 // nt AS BIGINT) AS pooled_rate_ppm,
       CAST(ROUND((1.96 + 0.8416) * SQRT((CAST(xt AS DOUBLE) / nt)
            * (1.0 - CAST(xt AS DOUBLE) / nt)
            * (1.0 / n1 + 1.0 / n2)) * 1000000, 0) AS BIGINT) AS mde_ppm
FROM wide
"""


def iqr_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR fences on daily event volume: days outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the boxplot outlier rule, the
    quantile-based companion to ``q_weekly_anomalies``' z-screen (robust
    to the heavy tails that inflate a standard deviation).

    Quartiles are exact interpolated percentiles of int counts; fences
    are held ×4 so the 1.5·IQR arithmetic stays integer
    (4·Q1 and 4·Q3 are integers for any n) and the day test
    ``4·x < lo4 | 4·x > hi4`` never crosses a float boundary."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    q = daily.agg(
        F.expr("CAST(ROUND(percentile(y, 0.25) * 4, 0) AS BIGINT)").alias("q1_4"),
        F.expr("CAST(ROUND(percentile(y, 0.75) * 4, 0) AS BIGINT)").alias("q3_4"),
    )
    # fences ×8: lo8 = 8·Q1 − 6·IQR = 2·q1_4·4... keep ×8 integers:
    # lo8 = 8·Q1 − 6·(Q3−Q1) = 2·(4Q1) + 6·(4Q1) − 6·(4Q3) ... simpler:
    # lo8 = 2*q1_4 - 3*(q3_4 - q1_4) and hi8 = 2*q3_4 + 3*(q3_4 - q1_4),
    # where ×8 = 2×(×4); day test compares 8·y against the ×8 fences.
    return (
        daily.crossJoin(F.broadcast(q))
        .select(
            "d",
            "y",
            F.expr("2 * q1_4 - 3 * (q3_4 - q1_4)").alias("lo8"),
            F.expr("2 * q3_4 + 3 * (q3_4 - q1_4)").alias("hi8"),
        )
        .filter((8 * F.col("y") < F.col("lo8")) | (8 * F.col("y") > F.col("hi8")))
        .select(
            "d",
            "y",
            F.col("lo8").cast("bigint").alias("fence_lo_x8"),
            F.col("hi8").cast("bigint").alias("fence_hi_x8"),
        )
        .orderBy("d")
    )


IQR_OUTLIERS_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
q AS (
    SELECT CAST(ROUND(quantile_cont(y, 0.25) * 4, 0) AS BIGINT) AS q1_4,
           CAST(ROUND(quantile_cont(y, 0.75) * 4, 0) AS BIGINT) AS q3_4
    FROM daily
)
SELECT d, y,
       CAST(2 * q1_4 - 3 * (q3_4 - q1_4) AS BIGINT) AS fence_lo_x8,
       CAST(2 * q3_4 + 3 * (q3_4 - q1_4) AS BIGINT) AS fence_hi_x8
FROM daily CROSS JOIN q
WHERE 8 * y < 2 * q1_4 - 3 * (q3_4 - q1_4)
   OR 8 * y > 2 * q3_4 + 3 * (q3_4 - q1_4)
ORDER BY d
"""


def ma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-day vs 7-day moving-average crossover signals on daily volume —
    the classic trend-turn detector.  Division-free: with full windows,
    "MA3 > MA7" ⇔ ``7·S3 > 3·S7`` on integer rolling sums, so the state
    and its lag are exact and a signal fires exactly on sign flips.
    Warm-up days (fewer than 7 prior days) are excluded by row count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    w3 = Window.orderBy("d").rowsBetween(-2, 0)
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    wo = Window.orderBy("d")
    cur = daily.select(
        "d",
        "y",
        F.sum("y").over(w3).alias("s3"),
        F.sum("y").over(w7).alias("s7"),
        F.row_number().over(wo).alias("rn"),
    ).filter(F.col("rn") >= 7)
    state = F.when(7 * F.col("s3") > 3 * F.col("s7"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    sig = cur.select(
        "d",
        "y",
        "s3",
        "s7",
        state.alias("st"),
        F.lag(state).over(Window.orderBy("d")).alias("prev"),
    )
    return (
        sig.filter(F.col("prev").isNotNull() & (F.col("st") != F.col("prev")))
        .select(
            "d",
            "y",
            F.col("s3").cast("bigint").alias("sum3"),
            F.col("s7").cast("bigint").alias("sum7"),
            F.when(F.col("st") == 1, F.lit("golden"))
            .otherwise(F.lit("death"))
            .alias("signal"),
        )
        .orderBy("d")
    )


MA_CROSSOVER_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
cur AS (
    SELECT d, y,
           CAST(SUM(y) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS s3,
           CAST(SUM(y) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS s7,
           ROW_NUMBER() OVER (ORDER BY d) AS rn
    FROM daily
),
sig AS (
    SELECT d, y, s3, s7,
           CASE WHEN 7 * s3 > 3 * s7 THEN 1 ELSE -1 END AS st,
           LAG(CASE WHEN 7 * s3 > 3 * s7 THEN 1 ELSE -1 END)
               OVER (ORDER BY d) AS prev
    FROM cur WHERE rn >= 7
)
SELECT d, y, s3 AS sum3, s7 AS sum7,
       CASE WHEN st = 1 THEN 'golden' ELSE 'death' END AS signal
FROM sig
WHERE prev IS NOT NULL AND st != prev
ORDER BY d
"""


def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the signs of day-over-day volume changes
    — "is the series random or trending/mean-reverting" (too few runs =
    momentum, too many = oscillation).  Zero-change days drop out; the run
    count comes from one lag pass; E[R] and Var[R] are the closed forms
    over the two int sign counts, and z is ONE fixed float expression —
    the determinism contract of the whole statistics family."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    wo = Window.orderBy("d")
    signs = (
        daily.select("d", (F.col("y") - F.lag("y").over(wo)).alias("dy"))
        .filter(F.col("dy").isNotNull() & (F.col("dy") != 0))
        .select("d", F.when(F.col("dy") > 0, 1).otherwise(-1).alias("s"))
    )
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(Window.orderBy("d")).isNull()
            | (F.lag("s").over(Window.orderBy("d")) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    stats = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n2"),
        F.sum("new_run").alias("r"),
    )
    z = (
        "(CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) / "
        "SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / "
        "((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1.0)))"
    )
    return stats.select(
        F.col("n1").cast("bigint").alias("n_up"),
        F.col("n2").cast("bigint").alias("n_down"),
        F.col("r").cast("bigint").alias("n_runs"),
        F.expr(f"ROUND({z}, 4)").alias("z"),
        F.expr(f"ABS({z}) > 1.96").alias("significant"),
    )


RUNS_TEST_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
signs AS (
    SELECT d, CASE WHEN dy > 0 THEN 1 ELSE -1 END AS s
    FROM (SELECT d, y - LAG(y) OVER (ORDER BY d) AS dy FROM daily)
    WHERE dy IS NOT NULL AND dy != 0
),
runs AS (
    SELECT s,
           CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                  OR LAG(s) OVER (ORDER BY d) != s THEN 1 ELSE 0 END AS new_run
    FROM signs
),
stats AS (
    SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(new_run) AS BIGINT) AS r
    FROM runs
)
SELECT n1 AS n_up, n2 AS n_down, r AS n_runs,
       ROUND((CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
             SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
                  ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1.0))), 4)
           AS z,
       ABS((CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
           SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
                ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1.0)))) > 1.96
           AS significant
FROM stats
"""


def range_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling 3-day sums per event type — the window-frame
    semantics ROWS can't express: a RANGE frame covers a VALUE interval
    (calendar days), so missing days shrink the window instead of
    silently reaching further back (the bug in naive ROWS BETWEEN 2
    PRECEDING over sparse series).  Ordering key = integer day offset, so
    both engines agree on the frame edges exactly."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    keyed = daily.withColumn(
        "day_idx",
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).cast("bigint"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-2, 0)
    )
    return keyed.select(
        "event_type",
        "d",
        "y",
        F.sum("y").over(w).cast("bigint").alias("rolling_3d"),
    ).orderBy("event_type", "d")


RANGE_FRAME_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
keyed AS (
    SELECT *, CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT) AS day_idx
    FROM daily
)
SELECT event_type, d, y,
       CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day_idx
            RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_3d
FROM keyed
ORDER BY event_type, d
"""


def cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user adoption curve by day: each user counts on
    their FIRST active day (one per-user min), the curve is a window
    cumsum over the tiny daily-firsts relation — exact cumulative
    count-distinct without any per-day distinct rescan."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return firsts.select(
        "d",
        F.col("n_new").cast("bigint").alias("n_new"),
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
    ).orderBy("d")


CUMULATIVE_ADOPTION_SQL = """
WITH firsts AS (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n_new
    FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id)
    GROUP BY d
)
SELECT d, n_new,
       CAST(SUM(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumulative_users
FROM firsts
ORDER BY d
"""


def seasonally_adjusted_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally adjusted daily volume: divide each day by its day-of-week
    index (``q_seasonality``'s multiplicative profile) so weekday rhythm
    stops masking real level shifts — the series the CUSUM/anomaly screens
    SHOULD run on in production.  adj = y·10⁶ div index_ppm, exact
    integers; the index relation is 7 rows, broadcast."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    dowed = daily.withColumn("dow", _dow_id(F.col("d")).cast("bigint"))
    idx = (
        dowed.groupBy("dow")
        .agg(F.count(F.lit(1)).alias("k"), F.sum("y").alias("s"))
        .crossJoin(
            F.broadcast(
                dowed.agg(
                    F.count(F.lit(1)).alias("kt"), F.sum("y").alias("st")
                )
            )
        )
        .select(
            "dow",
            F.expr(
                "CAST(CAST(s AS DECIMAL(38,0)) * kt * 1000000 DIV (CAST(st AS DECIMAL(38,0)) * k) AS BIGINT)"
            ).alias("index_ppm"),
        )
    )
    return (
        dowed.join(F.broadcast(idx), "dow")
        .select(
            "d",
            "y",
            F.col("index_ppm").cast("bigint").alias("index_ppm"),
            F.expr("y * 1000000 DIV index_ppm").alias("adjusted"),
        )
        .orderBy("d")
    )


SEASONAL_ADJUST_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
dowed AS (
    SELECT d, y,
           CAST(((date_diff('day', DATE '2024-01-07', d)) % 7 + 7) % 7 AS BIGINT)
               AS dow
    FROM daily
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS kt, CAST(SUM(y) AS BIGINT) AS st
        FROM dowed),
idx AS (
    SELECT dow,
           CAST(SUM(CAST(y AS HUGEINT)) * MAX(tot.kt) * 1000000
                // (CAST(MAX(tot.st) AS HUGEINT) * COUNT(*)) AS BIGINT) AS index_ppm
    FROM dowed CROSS JOIN tot GROUP BY dow
)
SELECT d, y, index_ppm,
       CAST(y * 1000000 // index_ppm AS BIGINT) AS adjusted
FROM dowed JOIN idx USING (dow)
ORDER BY d
"""


def weekly_mix_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly event-type mix shares with week-over-week share deltas — the
    composition-shift dashboard (is the mix moving, not just the volume).
    Shares are exact ppm of the week's total; the delta is one lag window
    over the |weeks × types| grid."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.groupBy("week").agg(F.sum("n").alias("t"))
    shared = cells.join(tot, "week").select(
        "week",
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr("n * 1000000 DIV t").alias("share_ppm"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    return shared.withColumn(
        "share_delta_ppm",
        (F.col("share_ppm") - F.lag("share_ppm").over(w)).cast("bigint"),
    ).orderBy("week", "event_type")


WEEKLY_MIX_SHARE_SQL = """
WITH cells AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
tot AS (SELECT week, CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY week),
shared AS (
    SELECT c.week, c.event_type, c.n AS n_events,
           CAST(c.n * 1000000 // t.t AS BIGINT) AS share_ppm
    FROM cells c JOIN tot t USING (week)
)
SELECT week, event_type, n_events, share_ppm,
       CAST(share_ppm - LAG(share_ppm) OVER (PARTITION BY event_type
            ORDER BY week) AS BIGINT) AS share_delta_ppm
FROM shared
ORDER BY week, event_type
"""


def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User inter-event time distribution in power-of-two minute buckets —
    the engagement-rhythm readout that also justifies the sessionizer's
    30-minute gap (the histogram valley is where the gap belongs).
    One lag window per user (µs-integer gaps), then an unrolled integer
    log2 bucketing — ≤ ~16 output rows at any volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.expr(
                "timestampdiff(MICROSECOND, lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select(F.expr("gap_us DIV 60000000").cast("bigint").alias("gap_min"))
    )
    bucket = F.expr(
        "CAST(CASE WHEN gap_min >= 1024 THEN 11 WHEN gap_min >= 512 THEN 10 "
        "WHEN gap_min >= 256 THEN 9 WHEN gap_min >= 128 THEN 8 "
        "WHEN gap_min >= 64 THEN 7 WHEN gap_min >= 32 THEN 6 "
        "WHEN gap_min >= 16 THEN 5 WHEN gap_min >= 8 THEN 4 "
        "WHEN gap_min >= 4 THEN 3 WHEN gap_min >= 2 THEN 2 "
        "WHEN gap_min >= 1 THEN 1 ELSE 0 END AS BIGINT)"
    )
    cells = gaps.select(bucket.alias("log2_min_bucket")).groupBy(
        "log2_min_bucket"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("t"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "log2_min_bucket",
            F.col("n").cast("bigint").alias("n_gaps"),
            F.expr("n * 1000000 DIV t").alias("share_ppm"),
        )
        .orderBy("log2_min_bucket")
    )


INTERARRIVAL_SQL = """
WITH gaps AS (
    SELECT CAST(date_diff('microsecond', LAG(ts) OVER w, ts) // 60000000
               AS BIGINT) AS gap_min
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    QUALIFY LAG(ts) OVER w IS NOT NULL
),
cells AS (
    SELECT CAST(CASE WHEN gap_min >= 1024 THEN 11 WHEN gap_min >= 512 THEN 10
                WHEN gap_min >= 256 THEN 9 WHEN gap_min >= 128 THEN 8
                WHEN gap_min >= 64 THEN 7 WHEN gap_min >= 32 THEN 6
                WHEN gap_min >= 16 THEN 5 WHEN gap_min >= 8 THEN 4
                WHEN gap_min >= 4 THEN 3 WHEN gap_min >= 2 THEN 2
                WHEN gap_min >= 1 THEN 1 ELSE 0 END AS BIGINT)
               AS log2_min_bucket,
           COUNT(*) AS n
    FROM gaps GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells)
SELECT log2_min_bucket, CAST(n AS BIGINT) AS n_gaps,
       CAST(n * 1000000 // t AS BIGINT) AS share_ppm
FROM cells CROSS JOIN tot
ORDER BY log2_min_bucket
"""


def weekend_lift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend lift per event type: weekend vs weekday DAILY-RATE ratio in
    ppm (rates, not raw counts — there are 5 weekdays per 2 weekend days;
    the raw-count version of this metric is the classic dashboard bug).
    Exact integer cross-multiplication: rate ratio = (we·wd_days)·10⁶ div
    (wd·we_days)."""
    ev = load_table(spark, sf_dir, "events")
    flagged = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        _dow_id(F.col("ts")).isin(0, 6).cast("bigint").alias("is_we"),
    )
    days = flagged.select("d", "is_we").distinct().groupBy("is_we").agg(
        F.count(F.lit(1)).alias("nd")
    )
    counts = flagged.groupBy("event_type", "is_we").agg(
        F.count(F.lit(1)).alias("n")
    )
    wide = counts.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_we") == 1, F.col("n")).otherwise(0)).alias("we"),
        F.sum(F.when(F.col("is_we") == 0, F.col("n")).otherwise(0)).alias("wd"),
    )
    dwide = days.agg(
        F.sum(F.when(F.col("is_we") == 1, F.col("nd"))).alias("we_days"),
        F.sum(F.when(F.col("is_we") == 0, F.col("nd"))).alias("wd_days"),
    )
    return (
        wide.crossJoin(F.broadcast(dwide))
        .select(
            "event_type",
            F.col("we").cast("bigint").alias("weekend_events"),
            F.col("wd").cast("bigint").alias("weekday_events"),
            F.expr(
                "we * wd_days * 1000000 DIV GREATEST(1, wd * we_days)"
            ).alias("rate_lift_ppm"),
        )
        .orderBy("event_type")
    )


WEEKEND_LIFT_SQL = """
WITH flagged AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CASE WHEN ((date_diff('day', DATE '2024-01-07', CAST(ts AS DATE)))
                      % 7 + 7) % 7 IN (0, 6) THEN 1 ELSE 0 END AS is_we
    FROM events
),
days AS (
    SELECT is_we, CAST(COUNT(*) AS BIGINT) AS nd
    FROM (SELECT DISTINCT d, is_we FROM flagged) GROUP BY is_we
),
wide AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN is_we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS we,
           CAST(SUM(CASE WHEN is_we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS wd
    FROM flagged GROUP BY event_type
),
dwide AS (
    SELECT CAST(SUM(CASE WHEN is_we = 1 THEN nd END) AS BIGINT) AS we_days,
           CAST(SUM(CASE WHEN is_we = 0 THEN nd END) AS BIGINT) AS wd_days
    FROM days
)
SELECT event_type, we AS weekend_events, wd AS weekday_events,
       CAST(we * wd_days * 1000000 // GREATEST(1, wd * we_days) AS BIGINT)
           AS rate_lift_ppm
FROM wide CROSS JOIN dwide
ORDER BY event_type
"""


def weekly_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly view→click and click→purchase conversion rates — the basic
    funnel-stage ratios as exact ppm (one low-cardinality rollup; the
    denominators are stage counts, not users, so this reads as THROUGHPUT
    next to q_funnel's user-level reach)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(
        F.sum((F.col("event_type") == "view").cast("bigint")).alias("views"),
        F.sum((F.col("event_type") == "click").cast("bigint")).alias("clicks"),
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias(
            "purchases"
        ),
    )
    return cells.select(
        "week",
        F.col("views").cast("bigint").alias("views"),
        F.col("clicks").cast("bigint").alias("clicks"),
        F.col("purchases").cast("bigint").alias("purchases"),
        F.expr("clicks * 1000000 DIV GREATEST(1, views)").alias("ctr_ppm"),
        F.expr("purchases * 1000000 DIV GREATEST(1, clicks)").alias(
            "purchase_rate_ppm"
        ),
    ).orderBy("week")


WEEKLY_CTR_SQL = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS views,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS clicks,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS purchases,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1000000
            // GREATEST(1, SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END))
            AS BIGINT) AS ctr_ppm,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1000000
            // GREATEST(1, SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END))
            AS BIGINT) AS purchase_rate_ppm
FROM events
GROUP BY 1
ORDER BY week
"""
