"""Event-time queries over the `events` table: as-of join, sessionization,
time-bucket rollup (operators/sessions.py). The reference has only equi-joins
(SURVEY.md §2.4) and no streaming (§2.9); these are the canonical extensions
an event-time engine needs, each with a DuckDB oracle that mirrors the Spark
plan operation-for-operation.

Cross-engine exactness: timestamps cross the boundary as epoch microseconds
(integer), value sums go through DECIMAL(12,2) (the inputs sit on a 2-decimal
grid), raw DOUBLE passthroughs (min/max/asof value) are bit-exact, and both
engines sessionize on the same total order `(ts, event_id)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.operators import grouped, sessions, skew
from multi_source_financial_data_pipeline_spark.plans.spec import QuerySpec
from multi_source_financial_data_pipeline_spark.sources import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- as-of join: each purchase matched to the user's latest prior signup -----

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts", "value"
    )
    out = sessions.asof_join(
        left,
        right,
        key="user_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        "asof_value",
        "asof_ts",
    )


SQL_ASOF_JOIN = """
WITH u AS (
  SELECT event_id, user_id, ts, value, 1 AS side,
         NULL::DOUBLE AS r_value, NULL::BIGINT AS r_ts_us
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, ts, NULL::DOUBLE, 0,
         value, epoch_us(ts)
  FROM events WHERE event_type = 'signup'
), w AS (
  SELECT *,
    last_value(r_value IGNORE NULLS) OVER prior_r AS asof_value,
    last_value(r_ts_us IGNORE NULLS) OVER prior_r AS asof_ts
  FROM u
  WINDOW prior_r AS (PARTITION BY user_id ORDER BY ts, side, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, asof_value, asof_ts
FROM w WHERE side = 1
"""


# --- as-of join with tolerance (pandas merge_asof(tolerance=...) parity) -----

ASOF_TOL_US = 3 * 86_400 * 1_000_000  # 3 days


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`merge_asof(tolerance=3d)` semantics: the latest prior match counts
    only if it's within the tolerance horizon — stale quotes must NOT fill
    forward forever (the financial-data rule the plain as-of ignores). Same
    single union + window pass as `asof_join`; the tolerance is one
    row-local comparison afterwards, so the plan cost is identical."""
    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts", "value"
    )
    out = sessions.asof_join(
        left,
        right,
        key="user_id",
    )
    ts_us = F.unix_micros(F.col("ts"))
    in_tol = F.col("asof_ts") >= ts_us - F.lit(ASOF_TOL_US)
    return out.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        "value",
        F.when(in_tol, F.col("asof_value")).alias("asof_value"),
        F.when(in_tol, F.col("asof_ts")).alias("asof_ts"),
        F.coalesce(in_tol, F.lit(False)).alias("matched"),
    )


SQL_ASOF_TOLERANCE = f"""
WITH u AS (
  SELECT event_id, user_id, ts, value, 1 AS side,
         NULL::DOUBLE AS r_value, NULL::BIGINT AS r_ts_us
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, ts, NULL::DOUBLE, 0,
         value, epoch_us(ts)
  FROM events WHERE event_type = 'signup'
), w AS (
  SELECT *,
    last_value(r_value IGNORE NULLS) OVER prior_r AS asof_value,
    last_value(r_ts_us IGNORE NULLS) OVER prior_r AS asof_ts
  FROM u
  WINDOW prior_r AS (PARTITION BY user_id ORDER BY ts, side, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
       CASE WHEN asof_ts >= epoch_us(ts) - {ASOF_TOL_US} THEN asof_value END
         AS asof_value,
       CASE WHEN asof_ts >= epoch_us(ts) - {ASOF_TOL_US} THEN asof_ts END
         AS asof_ts,
       coalesce(asof_ts >= epoch_us(ts) - {ASOF_TOL_US}, FALSE) AS matched
FROM w WHERE side = 1
"""


# --- sessionization: 30-min-gap sessions per user ----------------------------

GAP_SECONDS = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions.session_stats(
        _events(spark, sf_dir),
        gap_seconds=GAP_SECONDS,
    )


SQL_SESSIONIZE = f"""
WITH s AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(epoch_us(ts)) OVER evt IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER evt > {GAP_SECONDS} * 1000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW evt AS (PARTITION BY user_id ORDER BY ts, event_id)
), s2 AS (
  SELECT *,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1
      AS session_id
  FROM s
)
SELECT user_id, session_id,
       min(epoch_us(ts)) AS session_start_us,
       max(epoch_us(ts)) AS session_end_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM s2 GROUP BY user_id, session_id
"""


# --- time-bucket rollup: hourly continuous aggregate per event type ----------

def q_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions.time_bucket_rollup(_events(spark, sf_dir))


SQL_TIME_BUCKET = """
SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY 1, 2
"""


# --- skew-safe rollup: salted two-phase aggregation --------------------------

def q_skewed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy on the 5-value event_type key via salted two-phase agg — the
    hot-key-safe plan. Decomposable aggregates (decimal-exact sum) make the
    result identical to the direct groupBy, which is exactly what the oracle
    runs."""
    return skew.salted_agg(
        _events(spark, sf_dir),
        {
            "n_events": ("count", F.lit(1)),
            "sum_value": ("sum", F.col("value").cast("decimal(12,2)")),
            "min_value": ("min", F.col("value")),
            "max_value": ("max", F.col("value")),
        },
        num_salts=16,
    ).withColumn("sum_value", F.col("sum_value").cast("double"))


SQL_SKEWED_ROLLUP = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY event_type
"""


# --- EWMA per user (applyInPandas grouped-map recursion) ---------------------

EWMA_ALPHA = 0.3
_EWMA_B = 1.0 - EWMA_ALPHA


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = grouped.ewma_last(
        _events(spark, sf_dir),
        ts_col="ts",
        tiebreak="event_id",
        value_col="value",
        alpha=EWMA_ALPHA,
    )
    return out.select(F.col("key").alias("user_id"), "n_rows", "ewma")


# list_reduce replays the UDF's fold bit-for-bit: same (ts, event_id) order,
# same repr'd double literals for α and 1-α, same y·b + a·x operation order
SQL_EWMA = f"""
WITH g AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vs) AS BIGINT) AS n_rows,
       list_reduce(vs, (acc, x) -> acc * {_EWMA_B!r} + {EWMA_ALPHA!r} * x) AS ewma
FROM g
"""


# --- range join: purchases within ±2 h of each error, same user -------------

RANGE_TOL_US = 7200 * 1_000_000


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (see operators/sessions.bucketed_range_join): every
    (error, purchase) pair of the same user within ±2 hours, rolled up per
    error event. The oracle runs the naive inequality join — same pairs, but
    the Spark plan is an equi join that scales."""
    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    pairs = sessions.bucketed_range_join(
        errors,
        purchases,
        key="user_id",
        tolerance_us=RANGE_TOL_US,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_nearby"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_nearby"),
    )


SQL_RANGE_JOIN = f"""
SELECT a.event_id, a.user_id,
       count(*) AS n_nearby,
       CAST(sum(CAST(b.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_nearby
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'purchase'
 AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= {RANGE_TOL_US}
GROUP BY a.event_id, a.user_id
"""


# --- hierarchical rollup: (event_type, day) grouping sets --------------------

def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(event_type, day): per-type-per-day, per-type, and grand-total
    rows in one pass — Spark expands the grouping sets into a single
    partial-aggregated shuffle (no re-scan per level). grouping_id
    disambiguates subtotal rows from genuine nulls."""
    ev = _events(spark, sf_dir)
    day_us = F.unix_micros(F.date_trunc("day", F.col("ts")))
    return (
        ev.select("event_type", day_us.alias("day_us"), "value")
        .rollup("event_type", "day_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


SQL_EVENT_ROLLUP = """
SELECT event_type,
       epoch_us(date_trunc('day', ts)) AS day_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(grouping(event_type) * 2 + grouping(date_trunc('day', ts)) AS BIGINT) AS gid
FROM events
GROUP BY ROLLUP(event_type, date_trunc('day', ts))
"""


# --- cohort retention: first-activity week × weeks-since matrix --------------

def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-activity week
    (the cohort), counted distinct in each subsequent week offset. Shape:
    one groupBy for cohort assignment, one equi join back on user_id
    (cohort side is |users| rows — AQE broadcasts while it fits, shuffles
    beyond), one (cohort, offset) count-distinct. The week offset is exact
    integer day arithmetic on DATE — no timestamp truncation ambiguity
    across engines."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ev.join(cohort, ["user_id"])
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_d")).cast("date").alias("cohort_week"),
            (
                F.datediff(
                    F.date_trunc("week", F.col("d")).cast("date"),
                    F.date_trunc("week", F.col("first_d")).cast("date"),
                )
                / 7
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


SQL_COHORT_RETENTION = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events
), cohort AS (
  SELECT user_id, min(d) AS first_d FROM ev GROUP BY user_id
)
SELECT CAST(date_trunc('week', first_d) AS DATE) AS cohort_week,
       CAST(date_diff('day', date_trunc('week', first_d), date_trunc('week', d)) / 7 AS BIGINT) AS week_offset,
       count(DISTINCT ev.user_id) AS n_active
FROM ev JOIN cohort ON ev.user_id = cohort.user_id
GROUP BY 1, 2
"""


# --- set operations: INTERSECT / EXCEPT / UNION DISTINCT ---------------------

def q_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra over user ids: purchasers ∩ erroring users, each
    side's exclusive set, and the distinct union.

    Set-op operators exist and compile right (`intersect` → left-semi,
    `subtract` → left-anti over pre-distincted sides; pinned in
    tests/test_scale_ops.py::test_set_ops_compile_to_semi_anti_joins), but
    when both sides derive from the SAME fact table the literal formulation
    scans it once per leg — 8 scans for these four counts. The engine
    computes the identical algebra in ONE scan: per-user membership flags
    (`max(type = x)`) then four conditional counts in a single-row agg. The
    DuckDB oracle deliberately keeps the literal INTERSECT/EXCEPT/UNION SQL,
    so the hash-match PROVES the rewrite is equivalent."""
    ev = _events(spark, sf_dir)
    flags = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("has_p"),
            F.max((F.col("event_type") == "error").cast("int")).alias("has_e"),
        )
    )
    both = (F.col("has_p") == 1) & (F.col("has_e") == 1)
    return flags.agg(
        F.count(F.when(both, 1)).alias("n_both"),
        F.count(F.when((F.col("has_p") == 1) & (F.col("has_e") == 0), 1)).alias(
            "n_purchase_only"
        ),
        F.count(F.when((F.col("has_p") == 0) & (F.col("has_e") == 1), 1)).alias(
            "n_error_only"
        ),
        F.count(F.lit(1)).alias("n_either"),
    )


SQL_USER_SETOPS = """
WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT
  (SELECT count(*) FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)) AS n_both,
  (SELECT count(*) FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)) AS n_purchase_only,
  (SELECT count(*) FROM (SELECT user_id FROM e EXCEPT SELECT user_id FROM p)) AS n_error_only,
  (SELECT count(*) FROM (SELECT user_id FROM p UNION SELECT user_id FROM e)) AS n_either
"""


# --- cube: all 2^2 grouping sets over (event_type, day) ----------------------

def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event_type, day): the full 2^k grouping-set lattice — per-cell,
    per-type, per-day, and grand total in ONE pass. Like ROLLUP, Spark
    compiles this to a single Expand (each input row emitted once per
    grouping set) feeding one partially-aggregated shuffle — 4× the agg input
    rows, but never a re-scan of the fact table per level. grouping_id
    separates subtotal rows from genuine nulls."""
    ev = _events(spark, sf_dir)
    day_us = F.unix_micros(F.date_trunc("day", F.col("ts")))
    return (
        ev.select("event_type", day_us.alias("day_us"), "value")
        .cube("event_type", "day_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


SQL_EVENT_CUBE = """
SELECT event_type,
       epoch_us(date_trunc('day', ts)) AS day_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(grouping(event_type) * 2 + grouping(date_trunc('day', ts)) AS BIGINT) AS gid
FROM events
GROUP BY CUBE(event_type, date_trunc('day', ts))
"""


# --- funnel: signup → purchase conversion per user ---------------------------

def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user with a signup: first signup time and how many purchases
    followed it. Two filtered scans, one broadcast-size left join, one
    conditional-count agg — the sequential-pattern query shape."""
    ev = _events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("first_signup_us"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us"
    )
    return (
        signups.join(purchases, ["user_id"], "left")
        .groupBy("user_id", "first_signup_us")
        .agg(
            F.sum(
                F.when(F.col("ts_us") >= F.col("first_signup_us"), 1).otherwise(0)
            ).alias("n_purchases_after")
        )
    )


SQL_FUNNEL = """
WITH s AS (
  SELECT user_id, min(epoch_us(ts)) AS first_signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT s.user_id, s.first_signup_us,
       CAST(count(CASE WHEN p.ts_us >= s.first_signup_us THEN 1 END) AS BIGINT)
         AS n_purchases_after
FROM s LEFT JOIN p ON s.user_id = p.user_id
GROUP BY s.user_id, s.first_signup_us
"""


# --- semi-structured: typed JSON extraction from the props column ------------

def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the JSON `props` column: `from_json` with an
    explicit struct schema (stays inside codegen, prunes to the one field —
    the route for semi-structured event payloads at scale; the stringly
    `get_json_object` re-parses per call and resists pruning), then a
    grouped rollup of the extracted value. Malformed/null JSON yields null
    and is counted, not dropped."""
    ev = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


SQL_JSON_PROPS_STATS = """
SELECT event_type,
       count(*) AS n_events,
       count(json_extract(props, '$.k')) AS n_with_k,
       min(json_extract(props, '$.k')::INT) AS min_k,
       max(json_extract(props, '$.k')::INT) AS max_k,
       CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


# --- pivot: per-user activity profile (wide conditional aggregation) ---------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pivot` with an EXPLICIT value list: per-user event counts as wide
    columns. The explicit list matters at scale — without it Spark runs an
    eager distinct-collect job to discover the pivot values before it can
    even plan; with it the whole thing compiles to ONE hash aggregate of
    conditional counts (same plan as hand-written CASE sums, which is what
    the oracle spells out). Null cells (user never produced that type)
    are coalesced to 0 on both sides."""
    ev = _events(spark, sf_dir)
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


SQL_EVENT_PIVOT = f"""
SELECT user_id,
       {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}" for t in EVENT_TYPES)}
FROM events GROUP BY user_id
"""


# --- market-basket co-occurrence: event-type pairs per user ------------------

def q_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event types co-occur in the same user's history, with support —
    the market-basket pair count (A-priori's first pass). Pairs are
    generated INSIDE each user's sorted distinct-type set (collect_set +
    posexplode × ordered-suffix explode — the same one-pass bucket idiom as
    LSH pair generation), so the pair space is Σ C(|types_u|, 2), bounded
    by the type vocabulary, never a fact-table self-join. Support divides
    two exact integers once; the user total reuses the set frame's shuffle
    (ReusedExchange) as a 1-row broadcast."""
    ev = _events(spark, sf_dir)
    sets = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    pairs = (
        sets.select(F.posexplode("types").alias("pos", "type_a"), F.col("types"))
        .select(
            "type_a",
            F.explode(
                F.slice("types", F.col("pos") + 2, F.size("types"))
            ).alias("type_b"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    total = sets.agg(F.count(F.lit(1)).alias("n_total_users"))
    return pairs.crossJoin(F.broadcast(total)).select(
        "type_a",
        "type_b",
        "n_users",
        (F.col("n_users").cast("double") / F.col("n_total_users").cast("double")
         ).alias("support"),
    )


SQL_TYPE_COOCCURRENCE = """
WITH sets AS (
  SELECT user_id, list_sort(list_distinct(list(event_type))) AS types
  FROM events GROUP BY user_id
),
pairs AS (
  SELECT types[i.x] AS type_a, types[j.x] AS type_b
  FROM sets,
       unnest(generate_series(1, len(types))) AS i(x),
       unnest(generate_series(1, len(types))) AS j(x)
  WHERE j.x > i.x
),
tot AS (SELECT count(*) AS n_total_users FROM sets)
SELECT type_a, type_b, count(*) AS n_users,
       CAST(count(*) AS DOUBLE) / CAST(n_total_users AS DOUBLE) AS support
FROM pairs, tot
GROUP BY type_a, type_b, n_total_users
"""


# --- winsorized per-type stats (histogram cutoffs, no per-type row sort) -----

WINSOR_LO, WINSOR_HI = 0.05, 0.95


def _value_histogram(ev: DataFrame) -> DataFrame:
    """`(event_type, value) → cnt` compressed histogram with per-type
    cumulative count and total. ONE mergeable hash aggregate over the fact
    rows (map-side partial combine), then windows run over the HISTOGRAM,
    whose size is bounded by |types| × |value grid| — `value` sits on a
    2-decimal grid with a bounded range, so the histogram does not grow with
    row count. (For a continuous domain you would quantize to a fixed grid
    first, or fall back to the GK `percentile_approx` sketch whose error
    contract is pinned in tests/test_scale_ops.py.)"""
    from pyspark.sql import Window

    hist = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    return hist.select(
        "event_type",
        "value",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )


def _quantile_cutoffs(hist: DataFrame, probs: dict[str, float]) -> DataFrame:
    """Exact `quantile_cont` (linear interpolation at 0-indexed position
    p·(n−1)) computed from the cumulative histogram: value_at(k) is the
    smallest value with cum ≥ k+1, taken as a conditional MIN inside one
    hash aggregate — never a sort over raw rows. Returns one row per type
    with a DOUBLE column per named prob; every arithmetic step is the same
    IEEE expression on both engines, so the cutoffs are bit-identical to
    DuckDB's own `quantile_cont`."""
    targets = hist.select(
        "event_type",
        "value",
        "cum",
        *[
            (F.lit(p) * (F.col("n") - F.lit(1)).cast("double")).alias(f"t_{name}")
            for name, p in probs.items()
        ],
    )
    aggs = []
    for name in probs:
        t = F.col(f"t_{name}")
        v_f = F.min(F.when(F.col("cum") >= F.floor(t) + 1, F.col("value")))
        v_c = F.min(F.when(F.col("cum") >= F.ceil(t) + 1, F.col("value")))
        aggs += [
            v_f.alias(f"vf_{name}"),
            v_c.alias(f"vc_{name}"),
            F.min(t).alias(f"tv_{name}"),  # constant per type
        ]
    cuts = targets.groupBy("event_type").agg(*aggs)
    return cuts.select(
        "event_type",
        *[
            (
                F.col(f"vf_{name}")
                + (F.col(f"tv_{name}") - F.floor(f"tv_{name}"))
                * (F.col(f"vc_{name}") - F.col(f"vf_{name}"))
            ).alias(name)
            for name in probs
        ],
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type cleaning stats: clip `value` into its type's
    [p05, p95] band and report clip counts + winsorized mean.

    Scale shape (r07 fix): the previous formulation ran `percentile OVER
    (PARTITION BY event_type)` — with a handful of types that concentrates
    EVERY row of a type in one task's buffer. Now the only pass over fact
    rows is a mergeable (type, value) hash aggregate; cutoffs come from the
    bounded histogram (`_quantile_cutoffs`, exact quantile_cont semantics);
    and because the clipped value depends only on `value`, the clip counts
    and winsorized mean are ALSO computed from the histogram (weighting by
    cnt) — one fact scan, no join back to rows, nothing downstream scales
    with row count. The mean sums round(clipped, 6)·cnt as DECIMAL
    (identical clipped doubles on both engines) and divides once."""
    ev = _events(spark, sf_dir)
    hist = _value_histogram(ev)
    cuts = _quantile_cutoffs(hist, {"p_lo": WINSOR_LO, "p_hi": WINSOR_HI})
    joined = hist.join(F.broadcast(cuts), "event_type")
    wval = F.greatest("p_lo", F.least("p_hi", F.col("value")))
    return joined.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.when(F.col("value") < F.col("p_lo"), F.col("cnt")).otherwise(0)).alias(
            "n_clipped_low"
        ),
        F.sum(F.when(F.col("value") > F.col("p_hi"), F.col("cnt")).otherwise(0)).alias(
            "n_clipped_high"
        ),
        (
            F.sum(F.round(wval, 6).cast("decimal(18,6)") * F.col("cnt")).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("winsorized_mean"),
    )


#: shared histogram+cutoff CTE prefix — mirrors _value_histogram /
#: _quantile_cutoffs step for step (same IEEE interpolation expression)
def _sql_hist_cuts(probs: dict[str, float]) -> str:
    t_cols = ",\n         ".join(
        f"{p} * CAST(n - 1 AS DOUBLE) AS t_{name}" for name, p in probs.items()
    )
    agg_cols = ",\n         ".join(
        f"min(CASE WHEN cum >= floor(t_{name}) + 1 THEN value END) AS vf_{name},\n"
        f"         min(CASE WHEN cum >= ceil(t_{name}) + 1 THEN value END) AS vc_{name},\n"
        f"         min(t_{name}) AS tv_{name}"
        for name in probs
    )
    cut_cols = ",\n         ".join(
        f"vf_{name} + (tv_{name} - floor(tv_{name})) * (vc_{name} - vf_{name}) AS {name}"
        for name in probs
    )
    return f"""
hist AS (
  SELECT event_type, value, count(*) AS cnt
  FROM events GROUP BY event_type, value
), c AS (
  SELECT event_type, value, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
), t AS (
  SELECT event_type, value, cnt, cum,
         {t_cols}
  FROM c
), a AS (
  SELECT event_type,
         {agg_cols}
  FROM t GROUP BY event_type
), cuts AS (
  SELECT event_type,
         {cut_cols}
  FROM a
)"""


SQL_WINSORIZED_STATS = f"""
WITH {_sql_hist_cuts({'p_lo': WINSOR_LO, 'p_hi': WINSOR_HI})}
SELECT h.event_type, CAST(sum(cnt) AS BIGINT) AS n,
       CAST(sum(CASE WHEN value < p_lo THEN cnt ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN value > p_hi THEN cnt ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       CAST(sum(CAST(round(greatest(p_lo, least(p_hi, value)), 6)
                     AS DECIMAL(18,6)) * cnt) AS DOUBLE)
         / CAST(sum(cnt) AS DOUBLE)
         AS winsorized_mean
FROM hist h JOIN cuts USING (event_type)
GROUP BY h.event_type
"""


# --- KMV distinct-count sketch with measured accuracy ------------------------

KMV_K = 32
#: 2^32 — the md5-prefix hash space (operators/sampling.hash_uniform)
_KMV_SPACE = float(1 << 32)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event type, with the
    exact count alongside as measured ground truth (Bar-Yossef et al. 2002:
    with h uniform on [0, M), E[(k-1)·M / h_(k)] ≈ n_distinct). Unlike HLL
    the estimate is a DETERMINISTIC function of the input set given the
    hash, so it cross-engine hash-matches — the sketch operator you can
    actually put behind a correctness gate.

    Scale shape: ONE distinct exchange on (type, h) — md5-prefix hashing is
    row-local, the groupBy combines map-side — then the rank-k filter
    compiles to WindowGroupLimit (pinned), so only k rows per type survive
    each map partition before the window exchange. The exact-count branch
    re-aggregates the same distinct frame (it exists for accuracy
    measurement; a production sketch pass drops it and with it any
    full-cardinality state)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    distinct = (
        ev.select("event_type", h.alias("h")).groupBy("event_type", "h").agg(
            F.count(F.lit(1)).alias("_n")
        ).drop("_n")
    )
    exact = distinct.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    kmin = (
        distinct.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth"))
    )
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1))
        * F.lit(_KMV_SPACE)
        / F.nullif(F.col("kth").cast("double"), F.lit(0.0))
    )
    return (
        exact.join(kmin, "event_type")
        .select(
            "event_type",
            "n_exact",
            est.alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )


SQL_KMV_DISTINCT = f"""
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
), exact AS (
  SELECT event_type, count(*) AS n_exact FROM d GROUP BY event_type
), kmin AS (
  SELECT event_type, count(*) AS n_kept, max(h) AS kth
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rk
        FROM d)
  WHERE rk <= {KMV_K} GROUP BY event_type
), j AS (
  SELECT e.event_type, n_exact,
         CASE WHEN n_kept < {KMV_K} THEN CAST(n_exact AS DOUBLE)
              ELSE {float(KMV_K - 1)!r} * {_KMV_SPACE!r}
                   / nullif(CAST(kth AS DOUBLE), 0.0) END AS kmv_estimate
  FROM exact e JOIN kmin k ON e.event_type = k.event_type
)
SELECT event_type, n_exact, kmv_estimate,
       round(abs(kmv_estimate - CAST(n_exact AS DOUBLE))
             / CAST(n_exact AS DOUBLE), 6) AS rel_err
FROM j
"""


# --- MACD: coupled EWMA recursions per user ---------------------------------

MACD_FAST, MACD_SLOW, MACD_SIGNAL = 12, 26, 9
_MACD_AF = 2.0 / (MACD_FAST + 1)
_MACD_BF = 1.0 - _MACD_AF
_MACD_AS = 2.0 / (MACD_SLOW + 1)
_MACD_BS = 1.0 - _MACD_AS
_MACD_AG = 2.0 / (MACD_SIGNAL + 1)
_MACD_BG = 1.0 - _MACD_AG


def q_macd_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = grouped.macd_last(
        _events(spark, sf_dir),
        ts_col="ts",
        tiebreak="event_id",
        value_col="value",
        fast=MACD_FAST,
        slow=MACD_SLOW,
        signal=MACD_SIGNAL,
    )
    return out.select(
        F.col("key").alias("user_id"),
        "n_rows",
        "macd_line",
        "signal_line",
        "histogram",
    )


#: The signal EMA consumes the macd SERIES, so the oracle materializes it as
#: prefix folds: macd(t) = fastEMA(prefix t) − slowEMA(prefix t), each prefix
#: fold replaying the UDF's incremental left fold bit-for-bit (O(n²) list
#: ops — oracle-side cost only). All (a, 1−a) doubles are repr'd from the
#: SAME Python floats the UDF closes over — as STRING-cast double literals:
#: DuckDB types a bare 17-digit literal DECIMAL(17,17) and converts via
#: integer/10^17 division (double-rounded, 1 ulp off the correctly-rounded
#: parse for 2/13-style constants), while '…'::DOUBLE takes the same
#: correctly-rounded string→double path as Python's repr round-trip.
_MACD_LITS = {
    n: f"'{v!r}'::DOUBLE"
    for n, v in [
        ("af", _MACD_AF), ("bf", _MACD_BF),
        ("as", _MACD_AS), ("bs", _MACD_BS),
        ("ag", _MACD_AG), ("bg", _MACD_BG),
    ]
}

SQL_MACD_LAST = f"""
WITH g AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
), m AS (
  SELECT user_id, CAST(len(vs) AS BIGINT) AS n_rows,
         list_transform(generate_series(1, len(vs)), t ->
           list_reduce(list_slice(vs, 1, t),
                       (acc, x) -> acc * {_MACD_LITS['bf']} + {_MACD_LITS['af']} * x)
           - list_reduce(list_slice(vs, 1, t),
                         (acc, x) -> acc * {_MACD_LITS['bs']} + {_MACD_LITS['as']} * x)
         ) AS ms
  FROM g
)
SELECT user_id, n_rows,
       ms[len(ms)] AS macd_line,
       list_reduce(ms, (acc, x) -> acc * {_MACD_LITS['bg']} + {_MACD_LITS['ag']} * x)
         AS signal_line,
       ms[len(ms)]
       - list_reduce(ms, (acc, x) -> acc * {_MACD_LITS['bg']} + {_MACD_LITS['ag']} * x)
         AS histogram
FROM m
"""


# --- equi-depth histogram (optimizer statistics primitive) -------------------

N_BINS = 10


def q_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth value histogram per event type — the statistics object a
    cost-based optimizer keeps per column (selectivity estimation needs
    equal-COUNT bins, not equal-width).

    Scale shape (r07 fix): the previous formulation ntile'd EVERY row of a
    type through one task's sort. Now the only pass over fact rows is the
    mergeable (type, value) hash aggregate of `_value_histogram`; a distinct
    value with cum_before rows strictly below it lands in bin
    1 + (cum_before·10) div n (exact integer arithmetic — the bin ntile
    would give its FIRST row), ties share a bin (the distinct-value
    boundary semantics a real optimizer histogram has), and the per-bin
    n/lo/hi/sum are computed from the histogram weighted by cnt — one fact
    scan, nothing downstream scales with row count. Bin depth deviates from
    n/10 only by the tie mass at bin boundaries. The exact row-level ntile
    twin stays registered as `equi_depth_bins_ntile` (small-data oracle,
    same exact/approx pairing `value_percentiles_by_type` documents)."""
    ev = _events(spark, sf_dir)
    hist = _value_histogram(ev)
    binned = hist.select(
        "event_type",
        "value",
        "cnt",
        (F.lit(1) + F.expr(f"((cum - cnt) * {N_BINS}) div n")).alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.sum("cnt").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.sum(F.col("value").cast("decimal(12,2)") * F.col("cnt"))
        .cast("double")
        .alias("sum_value"),
    )


SQL_EQUI_DEPTH_BINS = f"""
WITH hist AS (
  SELECT event_type, value, count(*) AS cnt
  FROM events GROUP BY event_type, value
), c AS (
  SELECT event_type, value, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
), b AS (
  SELECT event_type, value, cnt,
         CAST(1 + ((cum - cnt) * {N_BINS}) // n AS BIGINT) AS bin
  FROM c
)
SELECT event_type, bin, CAST(sum(cnt) AS BIGINT) AS n,
       min(value) AS lo, max(value) AS hi,
       CAST(sum(CAST(value AS DECIMAL(12,2)) * cnt) AS DOUBLE) AS sum_value
FROM b GROUP BY event_type, bin
"""


def q_equi_depth_bins_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact row-level equi-depth twin of `equi_depth_bins`: ntile(10) over
    the total order (value, event_id), so every bin holds exactly n/10 rows
    (±1) and ties straddling a boundary are SPLIT by event_id. This is the
    small-data oracle formulation ONLY — the per-type sort concentrates all
    of a type's rows in one task (the r07 weak shape); at scale, run the
    histogram-based primary. Both engines cut identical bins (deterministic
    tiebreak)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    binned = ev.select(
        "event_type", "value", F.ntile(N_BINS).over(w).alias("bin")
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


SQL_EQUI_DEPTH_BINS_NTILE = f"""
WITH b AS (
  SELECT event_type, value,
         ntile({N_BINS}) OVER (PARTITION BY event_type
                               ORDER BY value ASC, event_id ASC) AS bin
  FROM events
)
SELECT event_type, bin, count(*) AS n,
       min(value) AS lo, max(value) AS hi,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM b GROUP BY event_type, bin
"""


# --- Z-order layout: Morton-key locality audit -------------------------------

Z_BITS = 12
#: bucket = zkey >> 16: the top 4 interleaved bit-pairs → each bucket is an
#: ALIGNED 2^8 × 2^8 tile in (user, day) space
Z_TILE_SHIFT = 16


def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes Z-ordered layout prune on TWO dimensions at
    once, computed as data: Morton-interleave (user_id, day-index) into one
    key (operators/layout.zorder_key — pure codegen bit arithmetic), bucket
    by the key's high bits, and report each bucket's row count + per-dim
    span. Because high Morton bits fix the high bits of BOTH dims, every
    bucket is a tight aligned 2^8×2^8 tile — span ≤ 255 on each axis, the
    min/max statistics a file written per bucket would carry, and exactly
    why a 2-D box predicate skips every non-intersecting file (see
    tests/test_scale_ops.py for the measured file-pruning comparison vs a
    1-D sorted layout)."""
    from multi_source_financial_data_pipeline_spark.operators import layout

    ev = _events(spark, sf_dir)
    m = F.lit(1 << Z_BITS)
    a = F.pmod(F.col("user_id"), m)
    b = F.pmod(
        F.datediff(F.col("ts").cast("date"), F.to_date(F.lit("2024-01-01"))), m
    )
    keyed = ev.select(
        a.alias("ua"),
        b.alias("di"),
        layout.zorder_key(a, b, bits=Z_BITS).alias("z"),
    )
    return (
        keyed.select(
            F.shiftright("z", Z_TILE_SHIFT).alias("bucket"), "ua", "di"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ua").alias("min_user"),
            F.max("ua").alias("max_user"),
            F.min("di").alias("min_day"),
            F.max("di").alias("max_day"),
        )
    )


SQL_ZORDER_LOCALITY = f"""
WITH d AS (
  SELECT ((user_id % {1 << Z_BITS}) + {1 << Z_BITS}) % {1 << Z_BITS} AS ua,
         ((date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
           % {1 << Z_BITS}) + {1 << Z_BITS}) % {1 << Z_BITS} AS di
  FROM events
), k AS (
  SELECT ua, di,
         {{zkey}} AS z
  FROM d
)
SELECT CAST(z >> {Z_TILE_SHIFT} AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(min(ua) AS BIGINT) AS min_user, CAST(max(ua) AS BIGINT) AS max_user,
       CAST(min(di) AS BIGINT) AS min_day, CAST(max(di) AS BIGINT) AS max_day
FROM k GROUP BY 1
"""


def _sql_zorder_locality() -> str:
    from multi_source_financial_data_pipeline_spark.operators.layout import zorder_key_sql

    return SQL_ZORDER_LOCALITY.replace("{zkey}", zorder_key_sql(bits=Z_BITS))


# --- SCD2: type-2 slowly-changing-dimension intervals from the event log ----

def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history from the event stream — the warehouse
    pattern that turns a change log into validity intervals: per user,
    collapse consecutive identical states (event_type as the tracked
    attribute), then each surviving change opens an interval
    [valid_from, valid_to) closed by the NEXT change (NULL = current).
    Two stacked windows (lag for change detection, lead for interval
    close) ride ONE user-hash exchange; user_id is high-cardinality, so
    per-group work is bounded and groups parallelize. `is_current` makes
    the latest-version filter an ordinary predicate. Timestamps cross the
    oracle boundary as epoch microseconds (module convention)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev_state = F.lag("event_type").over(w)
    changes = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        prev_state.alias("__prev"),
    ).filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("event_type")))
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    valid_to = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(valid_to).alias("valid_to_us"),
        valid_to.isNull().alias("is_current"),
    )


SQL_SCD2_INTERVALS = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), c AS (
  SELECT user_id, ts, event_id, event_type
  FROM o WHERE prev IS NULL OR prev != event_type
)
SELECT user_id, event_type AS state,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       lead(ts) OVER w IS NULL AS is_current
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


# --- CUSUM drift detection per user ------------------------------------------

def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final one-sided CUSUM statistics per user (Page 1954) — r09
    reformulated from the grouped-map Python fold onto PURE JVM WINDOWS
    via the prefix-sum (drawdown) identity:

        c+_t = max(0, c+_{t-1} + d_t)  =  S_t - min_{0<=j<=t} S_j
        c-_t = max(0, c-_{t-1} - d_t)  =  max_{0<=j<=t} S_j - S_t

    with S_t = sum_{i<=t} (x_i - mu) = P_t - t*mu, where P_t is the
    DECIMAL-exact ordered prefix sum of the 2-decimal-grid values. Every
    float op is a single exact-input op (decimal->double cast, t*mu
    product, one subtraction, min/max), so the DuckDB oracle replays it
    bit-for-bit — unlike the sequential clamp fold, whose float op ORDER
    was the contract (grouped.cusum_last keeps that operator for API
    parity; its docstring explains why EMAs cannot be rewritten this
    way). Scale win: no Python boundary, no per-key history bound — the
    30x probe read the fold at 13.5 s; windows spill gracefully and stay
    JVM-side."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    dec = F.col("value").cast("decimal(38,2)")
    pre = ev.select(
        "user_id",
        F.row_number().over(w).alias("j"),
        F.sum(dec)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pfx"),
        F.sum(dec)
        .over(Window.partitionBy("user_id"))
        .alias("tot"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n"),
    )
    mu = F.col("tot").cast("double") / F.col("n")
    srow = pre.select(
        "user_id",
        F.col("n"),
        F.col("j"),
        mu.alias("mu"),
        (F.col("pfx").cast("double") - F.col("j") * mu).alias("s"),
    )
    return srow.groupBy("user_id").agg(
        F.max("n").alias("n_rows"),
        F.max("mu").alias("mean_value"),
        (
            F.max(F.struct("j", "s"))["s"]
            - F.least(F.min("s"), F.lit(0.0))
        ).alias("cusum_pos"),
        (
            F.greatest(F.max("s"), F.lit(0.0))
            - F.max(F.struct("j", "s"))["s"]
        ).alias("cusum_neg"),
    )


#: replays the prefix-sum identity exactly: DECIMAL-exact ordered prefix
#: P_j, S_j = P_j - j*mu with mu = exact-total/n, then pure min/max — every
#: float op a single exact-input op, identical in both engines
SQL_CUSUM_DRIFT = """
WITH p AS (
  SELECT user_id,
         row_number() OVER w AS j,
         CAST(sum(CAST(value AS DECIMAL(38,2))) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS pfx,
         CAST(sum(CAST(value AS DECIMAL(38,2))) OVER (PARTITION BY user_id) AS DOUBLE) AS tot,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, n, j, tot / n AS mu, pfx - j * (tot / n) AS s
  FROM p
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_rows, max(mu) AS mean_value,
       max_by(s, j) - least(0.0, min(s)) AS cusum_pos,
       greatest(0.0, max(s)) - max_by(s, j) AS cusum_neg
FROM s
GROUP BY user_id
"""


SPECS = {
    "json_props_stats": QuerySpec(
        q_json_props_stats,
        SQL_JSON_PROPS_STATS,
        "typed from_json extraction + grouped rollup (schema-on-read)",
        ("events", "agg"),
    ),
    "event_pivot": QuerySpec(
        q_event_pivot,
        SQL_EVENT_PIVOT,
        "pivot with explicit values: one hash agg, no discovery job",
        ("events", "agg"),
    ),
    "asof_tolerance": QuerySpec(
        q_asof_tolerance,
        SQL_ASOF_TOLERANCE,
        "merge_asof(tolerance): stale matches nulled, same one-pass plan",
        ("events", "window"),
    ),
    "type_cooccurrence": QuerySpec(
        q_type_cooccurrence,
        SQL_TYPE_COOCCURRENCE,
        "market-basket pairs inside per-user type sets + support",
        ("events", "agg"),
    ),
    "winsorized_stats": QuerySpec(
        q_winsorized_stats,
        SQL_WINSORIZED_STATS,
        "winsorized clip stats from histogram quantile_cont cutoffs — "
        "one fact scan, no per-type row sort/percentile window",
        ("events", "window", "agg"),
    ),
    "asof_join": QuerySpec(
        q_asof_join,
        SQL_ASOF_JOIN,
        "as-of join (latest prior signup per purchase) via union+window",
        ("events", "join"),
    ),
    "sessionize": QuerySpec(
        q_sessionize,
        SQL_SESSIONIZE,
        "30-min-gap sessionization + per-session aggregates",
        ("events", "window"),
    ),
    "time_bucket_hourly": QuerySpec(
        q_time_bucket,
        SQL_TIME_BUCKET,
        "hourly time-bucket rollup per event type (continuous aggregate)",
        ("events", "agg"),
    ),
    "skewed_event_rollup": QuerySpec(
        q_skewed_rollup,
        SQL_SKEWED_ROLLUP,
        "salted two-phase aggregation over a hot 5-value key",
        ("events", "agg", "skew"),
    ),
    "ewma_last": QuerySpec(
        q_ewma,
        SQL_EWMA,
        "per-key EWMA recursion via applyInPandas grouped-map",
        ("events", "udf"),
    ),
    "funnel_conversion": QuerySpec(
        q_funnel,
        SQL_FUNNEL,
        "signup→purchase funnel: first signup + subsequent purchase count",
        ("events", "join", "agg"),
    ),
    "range_join_nearby": QuerySpec(
        q_range_join,
        SQL_RANGE_JOIN,
        "±2-h same-user range join as a bucketed equi join",
        ("events", "join", "bench"),
    ),
    "event_rollup_day": QuerySpec(
        q_event_rollup,
        SQL_EVENT_ROLLUP,
        "ROLLUP(event_type, day) grouping sets in one shuffle",
        ("events", "agg"),
    ),
    "event_cube": QuerySpec(
        q_event_cube,
        SQL_EVENT_CUBE,
        "CUBE(event_type, day): full grouping-set lattice in one Expand+shuffle",
        ("events", "agg"),
    ),
    "cohort_retention": QuerySpec(
        q_cohort_retention,
        SQL_COHORT_RETENTION,
        "first-activity-week cohort × week-offset distinct-active matrix",
        ("events", "agg", "join"),
    ),
    "user_setops": QuerySpec(
        q_user_setops,
        SQL_USER_SETOPS,
        "INTERSECT/EXCEPT/UNION-DISTINCT audience algebra as semi/anti joins",
        ("events", "join"),
    ),
    "kmv_distinct": QuerySpec(
        q_kmv_distinct,
        SQL_KMV_DISTINCT,
        "KMV k-minimum-values distinct sketch per type, deterministic and "
        "hash-matchable, with exact-count ground truth",
        ("events", "agg"),
    ),
    "equi_depth_bins": QuerySpec(
        q_equi_depth_bins,
        SQL_EQUI_DEPTH_BINS,
        "equi-depth value histogram per type (CBO statistics primitive) "
        "from a mergeable (type,value) hash agg — no per-type row sort",
        ("events", "agg"),
    ),
    "equi_depth_bins_ntile": QuerySpec(
        q_equi_depth_bins_ntile,
        SQL_EQUI_DEPTH_BINS_NTILE,
        "exact row-level ntile twin of equi_depth_bins (small-data oracle; "
        "per-type sort concentrates — do not run at scale)",
        ("events", "window", "agg"),
    ),
    "zorder_locality": QuerySpec(
        q_zorder_locality,
        _sql_zorder_locality(),
        "Morton-key tile audit: every zkey bucket is an aligned 2-D box "
        "(the min/max stats that prune 2-D scans); pure bit arithmetic",
        ("events", "agg"),
    ),
    "scd2_intervals": QuerySpec(
        q_scd2_intervals,
        SQL_SCD2_INTERVALS,
        "type-2 SCD validity intervals from the change log: collapse + "
        "lead-close on one user exchange",
        ("events", "window"),
    ),
    "cusum_drift": QuerySpec(
        q_cusum_drift,
        SQL_CUSUM_DRIFT,
        "Page's CUSUM sustained-drift statistics per user (zero-clamped "
        "fold — no window frame can express it); prefix-fold oracle",
        ("events", "window"),
    ),
    "macd_last": QuerySpec(
        q_macd_last,
        SQL_MACD_LAST,
        "MACD/signal/histogram final state per user: coupled EWMA fold "
        "(grouped-map), prefix-list_reduce oracle",
        ("events", "window"),
    ),
}
