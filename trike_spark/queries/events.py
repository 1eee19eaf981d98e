"""Event-time operators over the ``events`` table: tumbling / sliding /
session windows and deterministic dedup (SURVEY.md §2.6 "Streaming").

These are the batch-checkable faces of the streaming surface in
``trike_spark.streaming`` — identical column expressions run under
``readStream`` with watermarks; proving them against the DuckDB oracle here
proves the streaming semantics (same Catalyst plan below the source).

Scale notes: all windows key by (user_id | window), both high-cardinality
and evenly distributed; session windows shuffle once on user_id. Nothing
global, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trike_spark.io import load_table
from trike_spark.queries._util import dsum, sql_dsum
from trike_spark.registry import register


@register(
    "events_tumbling_hourly",
    f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling 1h window × event_type (streaming: window(ts,'1 hour') + watermark).",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "events_sliding_1h_30m",
    f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM events
    )
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM assigned GROUP BY window_start
    """,
    doc="Sliding window (1h size, 30m slide): each event lands in 2 windows.",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "events_sessionization",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="Session windows, 10 min gap (streaming: session_window(ts,'10 minutes')).",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's session_window merges events up to AND INCLUDING exactly
    gap apart (an event at ts == previous window end joins the session —
    verified empirically); window end = last event + gap. The oracle's
    gaps-and-islands CTE reproduces that boundary rule (> gap → new)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_dedup_first_per_key",
    """
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
    doc="Deterministic dedup: first event per (user_id, event_type) — the batch "
    "face of streaming dropDuplicates within a watermark.",
)
def events_dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "events_enrich_stream_static",
    f"""
    SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment, n.n_name,
           {sql_dsum('e.value', 4)} AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY e.event_id, e.event_type, c.c_name, c.c_mktsegment, n.n_name
    """,
    doc="Stream-static enrichment join (batch face): events joined to dimension tables.",
)
def events_enrich_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In streaming form this is readStream(events) ⋈ static customer ⋈
    static nation — stream-static joins broadcast the static side per
    micro-batch; identical column logic here."""
    from pyspark.sql.functions import broadcast

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        e.join(broadcast(c), e.user_id == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("event_id", "event_type", "c_name", "c_mktsegment", "n_name")
        .agg(dsum("value", 4).alias("sum_value"))
    )


@register(
    "events_user_activity_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
    """,
    doc="Conditional aggregation (pivot-style) per user.",
)
def events_user_activity_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True relational PIVOT: explicit value list keeps the plan a single
    pass (no extra distinct-values job) and the output schema static —
    which is also the only safe form at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    p = e.groupBy("user_id").pivot("event_type", types).count()
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "events_unpivot_user_activity",
    f"""
    WITH wide AS (
      SELECT user_id,
             {', '.join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
      FROM events GROUP BY user_id)
    {' UNION ALL '.join(f"SELECT user_id, '{t}' AS metric, n_{t} AS n FROM wide" for t in _EVENT_TYPES)}
    """,
    doc="UNPIVOT / melt: the wide per-user activity matrix back to long (metric, n) rows.",
)
def events_unpivot_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational UNPIVOT via the native ``DataFrame.unpivot`` (Expand node:
    one pass, no self-union — the n-way UNION ALL the oracle spells out
    would scan the aggregate n times)."""
    wide = events_user_activity_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["user_id"],
        values=[f"n_{t}" for t in _EVENT_TYPES],
        variableColumnName="metric",
        valueColumnName="n",
    ).withColumn("metric", F.expr("substring(metric, 3)"))  # n_click → click


@register(
    "events_interval_join_click_purchase",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL '1 hour'
    """,
    doc="Interval join: purchases within 1h after a click, per user — the batch "
    "face of a stream-stream join with a time-range condition.",
)
def events_interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream joins in Structured Streaming are exactly this shape
    (equality key + event-time range bound, the range being what lets the
    engine expire state). Batch plan: equality join on user_id carries the
    range as a join residual — one shuffle each side, no nested loop. The
    gap is emitted in exact integer microseconds (``unix_micros`` /
    ``epoch_us``) — both engines subtract the same integers, no
    date-boundary-counting semantics to disagree on."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return (
        c.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        )
    )


@register(
    "events_time_rollup",
    f"""
    SELECT CAST(ts AS DATE) AS day,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(GROUPING(CAST(ts AS DATE)) AS INT) AS g_day,
           CAST(GROUPING(CAST(EXTRACT(hour FROM ts) AS INT)) AS INT) AS g_hr,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY ROLLUP (CAST(ts AS DATE), CAST(EXTRACT(hour FROM ts) AS INT))
    """,
    doc="Hypertable rollup: day → hour time-hierarchy aggregation in one pass "
    "(ROLLUP emits hour, day, and grand-total rows; GROUPING() flags "
    "disambiguate the subtotal levels).",
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timeseries-DB 'hypertable rollup' (continuous-aggregate) shape,
    relationally: one ROLLUP over the (day, hour) hierarchy produces every
    granularity level in a single Expand+aggregate pass — one shuffle total,
    vs one scan+shuffle per level if each rollup were its own query. At
    100 TB with time-partitioned parquet (io.write_time_partitioned), the
    time predicate a refresh carries prunes to the touched partitions and
    the per-level state is bounded by distinct (day, hour) buckets, not by
    event count — partial aggregation collapses rows map-side."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.to_date("ts").alias("day"),
            F.hour("ts").cast("int").alias("hr"),
            "value",
        )
        .rollup("day", "hr")
        .agg(
            F.grouping("day").cast("int").alias("g_day"),
            F.grouping("hr").cast("int").alias("g_hr"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select("day", "hr", "g_day", "g_hr", "n_events", "sum_value")
    )


@register(
    "events_scd2_intervals",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ), collapsed AS (
      SELECT user_id, run_id, MIN(event_type) AS event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           n_events
    FROM collapsed
    """,
    doc="SCD2 interval build: collapse each user's consecutive same-type "
    "runs into [valid_from, valid_to) rows; valid_to NULL = current.",
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build — the lakehouse pattern that
    turns an append-only event stream into an as-of-queryable dimension
    (each attribute run becomes one row with a half-open validity
    interval). Gaps-and-islands: flag type changes with lag(), prefix-sum
    the flags into run ids, collapse runs, then lead() stitches each run's
    end to the next run's start.

    Scale: ONE shuffle total (asserted in tests/test_plan_shape.py). The
    naive shape is window-on-user → groupBy(user, run) → window-on-user —
    three exchanges, two of them on a key (user, run) the data is already
    clustered by. Instead every run-level value is derived from analytic
    functions over the SAME user_id partitioning: a run start is a row
    whose type differs from its lag; its run's size is the row-number gap
    to the next run start (per-user total count for the last run); its
    validity end is the next run start's ts. Filter + three window passes
    all preserve the user_id exchange and (ts, event_id) sort, so Catalyst
    plans exactly one Exchange. State per user is bounded by the number of
    attribute CHANGES, not events — exactly why SCD2 beats snapshotting at
    100 TB. Ties broken by event_id in both engines so the hash matches.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    prev = F.lag("event_type").over(w)
    marked = e.select("user_id", "ts", "event_id", "event_type").select(
        "*",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0).alias("chg"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("user_n"),
    )
    starts = marked.filter(F.col("chg") == 1)
    nxt_rn = F.lead("rn").over(w)
    nxt_ts = F.lead("ts").over(w)
    return starts.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt_ts.alias("valid_to"),
        (F.coalesce(nxt_rn, F.col("user_n") + 1) - F.col("rn"))
        .cast("bigint")
        .alias("n_events"),
    )


@register(
    "events_cdc_upsert",
    """
    WITH latest AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
    SELECT user_id, event_type AS state, value AS state_value, ts AS state_ts
    FROM latest WHERE rk = 1 AND event_type <> 'error'
    """,
    doc="CDC MERGE/upsert: apply the post-cutoff change batch onto the "
    "pre-cutoff snapshot ('error' = tombstone delete); oracle computes the "
    "same end state directly from the full log.",
)
def events_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse MERGE INTO shape on plain DataFrames: the target
    snapshot (latest pre-cutoff state per user, tombstones already
    applied) full-outer-joins the deduped change batch (latest post-cutoff
    event per user); matched rows take the update, 'error' updates DELETE
    the row, unmatched source rows INSERT. The oracle derives the same end
    state straight from the log (latest event per user, drop tombstones) —
    the driver hash proves the merge recomposes it exactly.

    Scale: each dedup leg is one row_number window over user_id
    partitioning and the merge joins on that same key, so AQE plans
    co-partitioned exchanges — nothing fact-sized moves twice. In a real
    deployment the target is a bucketed table (io.write_bucketed) and only
    the (small) change batch shuffles; the cutoff literal stands in for
    the batch boundary a streaming foreachBatch upsert would carry.
    """
    from pyspark.sql import Window

    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", "event_type", "value", "ts")
        )

    target = latest(e.filter(F.col("ts") < cutoff)).filter(F.col("event_type") != "error")
    source = latest(e.filter(F.col("ts") >= cutoff)).select(
        F.col("user_id").alias("s_user_id"),
        F.col("event_type").alias("s_type"),
        F.col("value").alias("s_value"),
        F.col("ts").alias("s_ts"),
    )
    merged = target.join(
        source, target.user_id == source.s_user_id, "full_outer"
    )
    in_source = F.col("s_user_id").isNotNull()
    return (
        merged.filter(~in_source | (F.col("s_type") != "error"))
        .select(
            F.coalesce(F.col("user_id"), F.col("s_user_id")).alias("user_id"),
            F.when(in_source, F.col("s_type")).otherwise(F.col("event_type")).alias("state"),
            F.when(in_source, F.col("s_value")).otherwise(F.col("value")).alias("state_value"),
            F.when(in_source, F.col("s_ts")).otherwise(F.col("ts")).alias("state_ts"),
        )
    )


@register(
    "events_funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events),
    s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM s1),
    s3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM s2)
    SELECT user_id,
           MIN(t1) AS signup_ts, MIN(t2) AS click_ts, MIN(t3) AS purchase_ts,
           CAST(CASE WHEN MIN(t3) IS NOT NULL THEN 3
                     WHEN MIN(t2) IS NOT NULL THEN 2
                     WHEN MIN(t1) IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS level
    FROM s3 GROUP BY user_id
    """,
    doc="Conversion funnel: earliest signup -> later click -> later purchase "
    "per user, with the deepest level reached (0-3).",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (the product-analytics windowFunnel shape):
    stage N's timestamp is the earliest qualifying event strictly AFTER
    stage N-1's — so the funnel respects event order, not mere presence.

    Scale: each stage is a conditional MIN over the SAME unordered user_id
    window, and the final per-user collapse groups by that same key, so
    Catalyst plans ONE exchange for the whole three-stage funnel (asserted
    in test_plan_shape.py) — the chained dependency (t2 needs t1) costs
    extra window passes, never extra shuffles. Funnel state per user is
    three timestamps regardless of event volume; adding stages adds
    passes, not exchanges — the property that keeps an N-stage funnel
    viable over 100 TB of clickstream.
    """
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(wu),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
            )
        ).over(wu),
    )
    return s3.groupBy("user_id").agg(
        F.min("t1").alias("signup_ts"),
        F.min("t2").alias("click_ts"),
        F.min("t3").alias("purchase_ts"),
        F.when(F.min("t3").isNotNull(), 3)
        .when(F.min("t2").isNotNull(), 2)
        .when(F.min("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("level"),
    )


@register(
    "events_incremental_rollup_merge",
    f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Incremental view maintenance: hourly rollup recomposed by merging "
    "partial aggregates of two log segments; oracle computes the rollup "
    "directly — merge(partials) must equal aggregate(whole).",
)
def events_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate refresh property, proven by the driver
    hash: aggregate each log segment to PARTIAL state (count + UNROUNDED
    exact-decimal sum), union the partials, and fold them into the final
    rollup. Because count and decimal-sum are commutative monoids, the
    merged result is bit-identical to aggregating the whole log — which is
    exactly what lets a 100 TB materialized view refresh by folding ONLY
    the newly-arrived partition's partials into stored state instead of
    rescanning history. Rounding happens once, after the merge, mirroring
    a refresh that keeps exact accumulator state between folds.

    Scale: each partial is a map-side-combined groupBy over its segment;
    the merge shuffles one row per (segment, hour) — state-sized, not
    event-sized. The cutoff literal stands in for the stored-state /
    new-partition boundary.
    """
    from trike_spark.queries._util import dec

    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    e = load_table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(F.date_trunc("hour", "ts").alias("window_start")).agg(
            F.count(F.lit(1)).alias("pn"), F.sum(dec("value")).alias("psv")
        )

    merged = partial(e.filter(F.col("ts") < cutoff)).unionByName(
        partial(e.filter(F.col("ts") >= cutoff))
    )
    return merged.groupBy("window_start").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("psv"), 2).cast("double").alias("sum_value"),
    )


@register(
    "events_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(FLOOR(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7.0)
                  AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM active GROUP BY cohort_week, week_offset
    """,
    doc="Retention cohorts: users grouped by first-activity week, counted per week offset.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic product-analytics retention matrix. Two shuffles, both on
    user_id: (1) min-ts per user (map-side combined), (2) the
    events⋈firsts join — co-partitioned on the same key, so AQE can reuse
    the exchange. The final (cohort, offset) aggregation is over a
    DISTINCT user set whose cardinality is users × active-weeks, far
    below event count; at 100 TB the event log is reduced to per-user
    partials before anything wide happens."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = (
        e.join(firsts, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff(F.col("ts").cast("date"), F.col("cohort_week")) / 7.0)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return active.groupBy("cohort_week", "week_offset").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "events_anomaly_zscore",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS c
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    stats AS (
      SELECT event_type, hour, c,
             COUNT(c) OVER w AS n,
             SUM(c) OVER w AS s1,
             SUM(c * c) OVER w AS s2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
    scored AS (
      SELECT event_type, hour, c,
             CAST(s1 AS DOUBLE) / 24.0 AS mean,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0)
               / 23.0 AS var
      FROM stats WHERE n = 24)
    SELECT event_type, hour, c,
           ROUND(mean, 4) AS trailing_mean,
           ROUND((c - mean) / SQRT(var), 4) AS zscore
    FROM scored
    WHERE var > 0 AND ABS((c - mean) / SQRT(var)) >= 2.0
    """,
    doc=(
        "Rate-anomaly detection: hourly counts vs a trailing-24h window; "
        "flags |z| >= 2 hours (integer-exact mean/variance, no stddev agg)."
    ),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring face over the event stream: per-type hourly rates
    scored against their own trailing day. The mean/variance come from
    exact BIGINT window sums (count, sum, sum-of-squares) pushed through
    one fixed double expression tree — NOT a stddev aggregate, whose
    Welford-vs-naive implementation differences across engines would make
    the hash unverifiable. One shuffle (the hourly rollup, map-side
    combined); the trailing window rides the same event_type partitioning.
    At 100 TB the windowed pass sees hours × types rows, never events."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "event_type",
        "hour",
        "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
    )
    mean = F.col("s1").cast("double") / 24.0
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / 24.0
    ) / 23.0
    scored = stats.filter(F.col("n") == 24).select(
        "event_type", "hour", "c", mean.alias("mean"), var.alias("var")
    )
    z = (F.col("c") - F.col("mean")) / F.sqrt(F.col("var"))
    return scored.filter((F.col("var") > 0) & (F.abs(z) >= 2.0)).select(
        "event_type",
        "hour",
        "c",
        F.round("mean", 4).alias("trailing_mean"),
        F.round(z, 4).alias("zscore"),
    )


@register(
    "events_scd2_point_in_time_join",
    """
    WITH state AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type <> 'purchase'),
    ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM state
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), starts AS (
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM ordered WHERE chg = 1
    )
    SELECT p.event_id, p.user_id, p.ts,
           s.event_type AS state_type, s.valid_from AS state_since
    FROM events p
    JOIN starts s
      ON p.user_id = s.user_id
     AND s.valid_from <= p.ts
     AND (s.valid_to IS NULL OR p.ts < s.valid_to)
    WHERE p.event_type = 'purchase'
    """,
    doc=(
        "Point-in-time (temporal) join: each purchase joined to the SCD2 "
        "state interval valid at its timestamp — the as-of dimension "
        "lookup vanilla Spark has no operator for."
    ),
)
def events_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumption side of SCD2 (``events_scd2_intervals`` is the
    build side): answer "what state was this user in at the moment they
    purchased?" by joining each fact to the dimension interval containing
    its timestamp — the point-in-time join every feature-store/training-
    label pipeline needs (feature leakage = getting exactly this join
    wrong). Half-open intervals make the match unique even when a state
    change and a purchase share a timestamp.

    Scale: the range predicate rides an EQUI-join on user_id — Spark
    plans a hash join keyed on user_id with the interval condition as a
    post-join residual, so the work is proportional to purchases ×
    per-user intervals (bounded by state CHANGES, not events), never a
    nested loop over the cross product. The shape to avoid: a
    bare interval join with no equality key degrades to BNLJ — if the
    dimension has no natural key, bucket time into epochs and join on
    the epoch (the interval-join pattern in ``queries/joins.py``)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    state = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    ordered = state.select("user_id", "ts", "event_id", "event_type").select(
        "*",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    starts = (
        ordered.filter(F.col("chg") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state_type"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        p.join(
            starts,
            (p.user_id == starts.user_id)
            & (starts.valid_from <= p.ts)
            & (starts.valid_to.isNull() | (p.ts < starts.valid_to)),
        )
        .select(
            "event_id",
            p.user_id.alias("user_id"),
            "ts",
            "state_type",
            F.col("valid_from").alias("state_since"),
        )
    )


@register(
    "events_lateness_report",
    """
    WITH arr AS (
      SELECT ts,
             MAX(ts) OVER (ORDER BY md5(CAST(event_id AS VARCHAR))
                           ROWS UNBOUNDED PRECEDING) AS frontier
      FROM events),
    late AS (
      SELECT CAST(date_diff('second', ts, frontier) AS BIGINT) AS lateness_s
      FROM arr)
    SELECT CASE WHEN lateness_s = 0 THEN 0
                WHEN lateness_s <= 60 THEN 1
                WHEN lateness_s <= 300 THEN 2
                WHEN lateness_s <= 3600 THEN 3
                ELSE 4 END AS lateness_bucket,
           COUNT(*) AS n_events,
           MIN(lateness_s) AS min_lateness_s,
           MAX(lateness_s) AS max_lateness_s
    FROM late GROUP BY 1
    """,
    doc=(
        "Event-time lateness distribution (event_id = arrival order): how "
        "far behind the watermark frontier events arrive — the report "
        "that picks withWatermark's delay."
    ),
)
def events_lateness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The empirical input to every watermark decision: track the running
    event-time frontier (max ts seen so far in ARRIVAL order) and
    histogram how far behind it each event lands. The archive stores no
    ingest-sequence column and is fully time-ordered, so arrival order is
    simulated here as a deterministic md5 permutation of event_id (both
    engines reproduce it bit-for-bit); in production, order by the ingest
    sequence / Kinesis sequence number the sink records. A watermark delay below the observed
    p99 lateness silently DROPS data; far above it inflates state — this
    report is how you pick it from the data instead of folklore
    (bucket 0 = in-order, 1 = ≤1 min late, 2 = ≤5 min, 3 = ≤1 h, 4 = worse).

    Scale: there is ONE global frontier, but computing it does NOT need
    a single-partition sort. Running max decomposes over contiguous
    bands of the arrival order: band = the first two hex chars of the
    arrival key (md5 prefix ⇒ bands ARE contiguous key ranges), so
    frontier(row) = max(running max within its band, max over all
    EARLIER bands). Pass 1 computes 256 per-band maxima (map-side
    combined); pass 2 turns them into exclusive prefix maxima (a window
    over 256 rows — band STATS, not data); pass 3 broadcasts the offsets
    back and runs the heavy window partitioned BY BAND — parallelism is
    #bands, not 1, and the shape survives 100 TB unchanged (the same
    banded-rank skeleton as window_equidepth_histogram). In production
    the band is the ingest shard id and pass 2 is the per-shard
    watermark table Spark already maintains."""
    from trike_spark.operators.banded import banded_cummax

    e = load_table(spark, sf_dir, "events")
    arr0 = e.select("ts", F.md5(F.col("event_id").cast("string")).alias("k"))
    arr = banded_cummax(
        arr0, F.substring("k", 1, 2), ["k"], "ts", "frontier"
    ).select("ts", "frontier")
    lateness = F.col("frontier").cast("long") - F.col("ts").cast("long")
    late = arr.select(lateness.alias("lateness_s"))
    bucket = (
        F.when(F.col("lateness_s") == 0, 0)
        .when(F.col("lateness_s") <= 60, 1)
        .when(F.col("lateness_s") <= 300, 2)
        .when(F.col("lateness_s") <= 3600, 3)
        .otherwise(4)
    )
    return (
        late.select(bucket.alias("lateness_bucket"), "lateness_s")
        .groupBy("lateness_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("lateness_s").alias("min_lateness_s"),
            F.max("lateness_s").alias("max_lateness_s"),
        )
    )


# --- sessionization with a per-event dynamic gap ----------------------------

DYN_GAP_PURCHASE_US = 30 * 60 * 1_000_000  # purchases hold sessions open 30 min
DYN_GAP_OTHER_US = 10 * 60 * 1_000_000  # everything else: 10 min


@register(
    "events_sessionization_dynamic_gap",
    f"""
    WITH e AS (
      SELECT user_id, ts, value,
             epoch_us(ts) AS tus,
             epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                 THEN {DYN_GAP_PURCHASE_US}
                                 ELSE {DYN_GAP_OTHER_US} END AS ext
      FROM events),
    m AS (
      SELECT *, MAX(ext) OVER (PARTITION BY user_id ORDER BY tus
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_ext
      FROM e),
    flagged AS (
      SELECT *, CASE WHEN prev_ext IS NULL OR tus > prev_ext
                     THEN 1 ELSE 0 END AS new_session
      FROM m),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           make_timestamp(MAX(ext)) AS session_end,
           COUNT(*) AS n_events,
           {{dsum}} AS sum_value
    FROM numbered GROUP BY user_id, sid
    """.format(dsum=sql_dsum("value")),
    doc=(
        "Sessionization where the gap depends on the event: purchases "
        "extend the session 30 min, other events 10 min — "
        "session_window(ts, CASE...) with a gaps-and-islands oracle."
    ),
)
def events_sessionization_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows — Spark's ``session_window`` accepts a
    gap EXPRESSION, so each event extends its session by its own timeout
    (the 'a purchase keeps the visit alive longer' rule every
    clickstream pipeline eventually needs). Merge semantics are
    overlap-of-[ts, ts+gap) windows; the oracle reproduces them with a
    running MAX of extensions (an event opens a new session iff its ts is
    strictly past the furthest extension so far — ts landing exactly ON a
    window end still merges, verified against session_window; and plain
    lag(ts) is WRONG here because an early long-gap event can outlive a
    later short-gap one).
    Same scale shape as the fixed-gap face: one shuffle on user_id, then
    session merging is a per-key linear pass inside Spark's
    UpdatingSessionsExec — no state explosion. The streaming leg is the
    identical expression over readStream (tests/test_streaming_dynamic_gap.py)."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_session_stats_dynamic_gap",
    f"""
    WITH e AS (
      SELECT user_id, ts,
             epoch_us(ts) AS tus,
             epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                 THEN {DYN_GAP_PURCHASE_US}
                                 ELSE {DYN_GAP_OTHER_US} END AS ext
      FROM events),
    m AS (
      SELECT *, MAX(ext) OVER (PARTITION BY user_id ORDER BY tus
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_ext
      FROM e),
    flagged AS (
      SELECT *, CASE WHEN prev_ext IS NULL OR tus > prev_ext
                     THEN 1 ELSE 0 END AS new_session
      FROM m),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (
      SELECT user_id, sid, COUNT(*) AS n_ev,
             MAX(ext) - MIN(tus) AS dur_us
      FROM numbered GROUP BY user_id, sid)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(MAX(n_ev) AS BIGINT) AS max_events,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(SUM(dur_us) AS BIGINT) AS sum_duration_us
    FROM sess
    """,
    doc=(
        "Aggregate twin of the dynamic-gap sessionization: identical "
        "session merge, O(1)-row output (session counts, max/singleton "
        "counts, exact summed duration in microseconds) — the form whose "
        "runtime measures the MERGE, not result materialization."
    ),
)
def events_session_stats_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe twin for ``events_sessionization_dynamic_gap`` (r7 verdict
    item 6): the per-session face necessarily RETURNS O(n) rows, so its
    scale-probe timing conflates the session-window merge with collecting
    an output that grows linearly by construction (the r7 alpha≈1.04 was
    adjudicated as exactly this). This face runs the identical
    ``session_window(ts, CASE ...)`` merge and reduces to ONE row of
    exact integers — total sessions, total events, the largest session,
    singleton count, and the summed session duration in microseconds
    (bigint arithmetic end-to-end: no float drift under reordered
    partial aggregation). Any change to merge semantics moves at least
    one of these, so the driver hash still certifies the operator while
    the probe measures compute curvature alone.

    Scale: one shuffle on user_id into UpdatingSessionsExec (linear
    per-key pass), then a partial-aggregated global rollup — the
    collect is 1 row regardless of sf."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    sess = (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .select(
            "n_ev",
            (F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))).alias(
                "dur_us"
            ),
        )
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.max("n_ev").alias("max_events"),
        F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0)).cast("long").alias(
            "n_singletons"
        ),
        F.sum("dur_us").alias("sum_duration_us"),
    )


# --- event-type transition matrix (first-order Markov) ----------------------


@register(
    "events_markov_transitions",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM trans
    ORDER BY prev_type, next_type
    """,
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences: counts and row-normalized probabilities for every "
        "(prev, next) event-type pair."
    ),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining's first artifact — where do users go next? — as a
    transition matrix. One lag window keyed on user (the ONLY per-user
    pass; ordering ties broken by event_id so sequences are total-ordered
    and cross-engine identical), then a |types|²-cell aggregation that
    collapses map-side, then row normalization as one window over ≤ 25
    rows. The heavy shuffle is the lag's user_id partition — the same
    exchange every sessionization face already pays; at 100 TB you'd
    compute this and the sessionization in ONE pass over the sorted
    partition. p is a pinned double of two exact counts."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    ).orderBy("prev_type", "next_type")


# --- last-touch attribution --------------------------------------------------


@register(
    "events_last_touch_attribution",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type, value,
             MAX(CASE WHEN event_type = 'click'
                      THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
      FROM events)
    SELECT event_id AS purchase_id, user_id,
           make_timestamp(last_click_us) AS attributed_click_ts,
           (epoch_us(ts) - last_click_us) AS gap_us,
           {{dval}} AS purchase_value
    FROM marked
    WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
      AND epoch_us(ts) - last_click_us <= 3600000000
    ORDER BY purchase_id
    """.format(dval="CAST(ROUND(CAST(value AS DECIMAL(38,4)), 4) AS DOUBLE)"),
    doc=(
        "Last-touch attribution: each purchase credited to the user's most "
        "recent preceding click within 1 h — running-max-over-window, no "
        "self-join."
    ),
)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution as a WINDOW, not a join: the natural
    formulation ('join each purchase to its latest prior click') is an
    as-of self-join — two shuffles and a per-pair ranking. The running
    conditional MAX over the user's time-ordered events computes the same
    answer in the sessionization family's single user_id exchange, and
    scales as O(events) with no pair blow-up regardless of how clicky a
    user is. Gap arithmetic in exact integer micros; the 1 h lookback is
    the attribution window every ads pipeline parameterizes."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    ).over(w)
    marked = e.select(
        "user_id", "ts", "event_id", "event_type", "value",
        last_click.alias("last_click_us"),
    )
    return (
        marked.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_us").isNotNull()
            & (F.unix_micros("ts") - F.col("last_click_us") <= 3_600_000_000)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.timestamp_micros("last_click_us").alias("attributed_click_ts"),
            (F.unix_micros("ts") - F.col("last_click_us")).alias("gap_us"),
            F.round(F.col("value").cast("decimal(38,4)"), 4)
            .cast("double")
            .alias("purchase_value"),
        )
        .orderBy("purchase_id")
    )


# --- incremental join-view face (IVM under the oracle gate) ------------------


@register(
    "events_incremental_join_view",
    """
    WITH purchases AS (
      SELECT event_id, user_id, value FROM events
      WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, COUNT(*) AS n_clicks FROM events
      WHERE event_type = 'click' GROUP BY user_id)
    SELECT p.user_id, COUNT(*) AS n_purchases,
           CAST(ROUND(SUM(CAST(p.value AS DECIMAL(38,4))), 4) AS DOUBLE)
             AS purchase_value,
           MAX(c.n_clicks) AS n_clicks
    FROM purchases p JOIN clicks c ON c.user_id = p.user_id
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
    doc=(
        "Materialized join view built INCREMENTALLY (two delta-join "
        "maintenance ticks over versioned snapshots) then aggregated — "
        "the oracle computes the same view from scratch, proving the "
        "delta-join identity end-to-end under the hash gate."
    ),
)
def events_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM under the driver's hash gate, not just pytest: purchases and a
    per-user click-count dim are committed to versioned tables in TWO
    increments each (split on event-id parity — deterministic), the join
    view is maintained tick by tick via the delta-join identity
    (Δ(A⋈B) = ΔA⋈B_new ∪ A_old⋈ΔB), and the face returns the final
    aggregated view. The oracle recomputes the join from scratch — any
    miss or double-count in the incremental path breaks the hash. Scale
    claim being proven: each tick's cost is delta-sized, yet the
    materialized result is indistinguishable from the full recompute."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from trike_spark import versioned
    from trike_spark.operators.incremental_join import maintain_join_view
    from trike_spark.queries._util import dsum

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    root = _os.path.join(
        _tempfile.gettempdir(),
        f"trike_ivm_{spark.sparkContext.applicationId}",
    )
    _shutil.rmtree(root, ignore_errors=True)
    pa_, pb_, pv_ = (_os.path.join(root, d) for d in ("purchases", "clicks", "view"))

    versioned.commit(purchases.filter(F.col("event_id") % 2 == 0), pa_)
    versioned.commit(clicks.filter(F.col("user_id") % 2 == 0), pb_)
    state = maintain_join_view(spark, pa_, pb_, ["user_id"], pv_)
    versioned.commit(purchases.filter(F.col("event_id") % 2 == 1), pa_)
    versioned.commit(clicks.filter(F.col("user_id") % 2 == 1), pb_)
    maintain_join_view(spark, pa_, pb_, ["user_id"], pv_, state)

    view = versioned.read_version(spark, pv_)
    return (
        view.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", 4).alias("purchase_value"),
            F.max("n_clicks").alias("n_clicks"),
        )
        .orderBy("user_id")
    )


# --- path / journey analysis --------------------------------------------------

PATH_MAX_STEPS = 5
PATH_TOPK = 10


@register(
    "events_top_paths",
    f"""
    WITH seq AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id, d,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM seq WHERE rn <= {PATH_MAX_STEPS} GROUP BY user_id, d)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_journeys
    FROM paths GROUP BY path
    ORDER BY n_journeys DESC, path LIMIT {PATH_TOPK}
    """,
    doc=(
        f"Top user journeys: ordered event-type sequence per (user, day), "
        f"first {PATH_MAX_STEPS} steps, top-{PATH_TOPK} most common paths."
    ),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The journey/top-paths report behind funnel-discovery UIs — the
    sequence-mining complement of the Markov-transition face (which sees
    edges; this sees whole prefixes).

    Determinism: step order is the (ts, event_id) total order; assembly is
    sorted-struct collect + array_join (collect_list arrival order is
    partition-dependent, sorting restores a canonical form — same rule as
    agg_string_agg_nations).

    Scale shape: ONE shuffle on (user_id, day) does both the step ranking
    and the path assembly (the window and the groupBy share partitioning;
    AQE reuses the exchange); per-group state is bounded by the step cap.
    The final top-k is TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", F.col("ts").cast("date").alias("d"), "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_MAX_STEPS)
    )
    paths = seq.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), "path")
        .limit(PATH_TOPK)
    )


# --- robust (MAD) anomaly detection ------------------------------------------

MAD_K = 1.4826  # consistency constant: MAD * k estimates sigma under normality
MAD_CUTOFF = 3.5


@register(
    "events_anomaly_mad",
    f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.value,
           ROUND((d.value - d.med) / ({MAD_K} * m2.mad), 6) AS robust_z
    FROM dev d JOIN mad m2 ON d.event_type = m2.event_type
    WHERE ABS((d.value - d.med) / ({MAD_K} * m2.mad)) > {MAD_CUTOFF}
    """,
    doc=(
        f"Robust outliers: |modified z| > {MAD_CUTOFF} where z = "
        f"(value - median) / ({MAD_K} * MAD) per event type."
    ),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust twin of ``events_anomaly_zscore``: median/MAD instead of
    mean/stddev, so the detector's own baseline is not dragged by the very
    outliers it hunts — the correct choice for long-tailed value columns
    (this corpus's value field spans ~0–500 with a far tail, where
    mean/σ under-flags).

    Determinism: exact interpolated percentile is bit-identical across
    engines (same contract as agg_percentiles); the modified-z expression
    is pinned and the >cutoff comparison runs on the same doubles both
    sides.

    Scale shape: two grouped aggregations on event_type (each output is
    |types| rows — broadcastable), each joined back onto the stream as a
    broadcast; the events scan feeds a narrow filter. Exact per-group
    median is a sort of the GROUP, not the table; at 100 TB swap in
    percentile_approx for the baseline legs and keep the same plan."""
    from pyspark.sql.functions import broadcast

    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(broadcast(med), "event_type").select(
        "event_id", "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    z = (F.col("value") - F.col("med")) / (F.lit(MAD_K) * F.col("mad"))
    return (
        dev.join(broadcast(mad), "event_type")
        .filter(F.abs(z) > MAD_CUTOFF)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("robust_z"))
    )


# --- session-level analytics --------------------------------------------------


@register(
    "events_session_stats",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS BIGINT) AS dur_us
      FROM numbered GROUP BY user_id, session_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS bounce_rate,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events,
           ROUND(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_duration_s
    FROM sessions
    """,
    doc=(
        "Session-level analytics: session count, bounce rate "
        "(single-event sessions), mean events and mean active duration."
    ),
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup a product dashboard reads off sessionization: how many
    sessions, how many one-and-done (bounce), how long and how deep the
    rest run. Duration is last-event − first-event (active span), not the
    gap-padded window end the sessionization face emits.

    Determinism: durations are exact integer microsecond differences;
    every mean is an exact BIGINT sum through one pinned division.

    Scale shape: ONE shuffle on user_id feeds both session windows (lag
    flag + running sum share the partitioning), then the session rollup
    and the global 1-row reduce; per-user state is bounded by that user's
    events. Built on the gaps-and-islands form (not session_window) so
    the whole plan stays in whole-stage codegen."""
    w = Window.partitionBy("user_id").orderBy("ts")
    e = load_table(spark, sf_dir, "events")
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 10 minutes")),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).cast("bigint").alias("dur_us"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sessions.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce.cast("double") / F.count(F.lit(1)), 6).alias("bounce_rate"),
        F.round(F.sum("n_events").cast("double") / F.count(F.lit(1)), 6).alias("avg_events"),
        F.round(
            F.sum("dur_us").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("avg_duration_s"),
    )


# --- windowed trending top-k --------------------------------------------------

TREND_TOPK = 3


@register(
    "events_windowed_topk",
    f"""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, rk FROM (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rk
      FROM hourly) WHERE rk <= {TREND_TOPK}
    """,
    doc=(
        f"Trending: top-{TREND_TOPK} event types per hourly window "
        "(windowed group-count + per-window rank)."
    ),
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'what's trending this hour' shape every activity feed runs:
    windowed count per key, then a bounded rank within each window. The
    rollup shuffles once on (window, type) with map-side combine; the
    rank window's groups are |types|-sized, so the second exchange moves
    only the rollup (|windows|·|types| rows), never events. In streaming
    form the rollup is the watermarked windowed aggregation and the rank
    runs in the foreachBatch sink — same split as the CDC twin."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        hourly.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TREND_TOPK)
        .select("window_start", "event_type", "n_events", "rk")
    )


# --- hour x day-of-week activity heatmap --------------------------------------


@register(
    "events_heatmap_hour_dow",
    """
    WITH cells AS (
      SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hour_of_day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(n_events) AS DOUBLE) AS total FROM cells)
    SELECT dow, hour_of_day, n_events,
           ROUND(CAST(n_events AS DOUBLE) / total, 6) AS share
    FROM cells CROSS JOIN tot
    """,
    doc=(
        "Activity heatmap: event counts and share per (day-of-week, "
        "hour-of-day) cell — the seasonality fingerprint."
    ),
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonality fingerprint behind capacity planning and
    anomaly-baseline stratification (a Monday-9am baseline must not be
    compared to Sunday-3am traffic). One map-side-combined rollup to at
    most 7×24 cells; the share denominator is a 1-row broadcast.
    dayofweek is 1=Sunday..7=Saturday in BOTH engines (Spark dayofweek /
    DuckDB dayofweek+1 alignment is pinned by the driver hash)."""
    from pyspark.sql.functions import broadcast

    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    tot = cells.agg(F.sum("n_events").cast("double").alias("total"))
    return cells.crossJoin(broadcast(tot)).select(
        "dow",
        "hour_of_day",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("total"), 6).alias("share"),
    )


# --- A/B experiment readout ---------------------------------------------------


@register(
    "events_ab_lift",
    f"""
    WITH assigned AS (
      SELECT CASE WHEN {{draw}} < 50 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
      FROM events),
    arms AS (
      SELECT variant,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(converted) AS DOUBLE) AS k
      FROM assigned GROUP BY variant),
    wide AS (
      SELECT MAX(CASE WHEN variant = 'A' THEN n END) AS na,
             MAX(CASE WHEN variant = 'A' THEN k END) AS ka,
             MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
             MAX(CASE WHEN variant = 'B' THEN k END) AS kb
      FROM arms)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ka AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(kb AS BIGINT) AS conv_b,
           ROUND(ka / na, 6) AS rate_a,
           ROUND(kb / nb, 6) AS rate_b,
           ROUND((kb / nb) - (ka / na), 6) AS abs_lift,
           ROUND(((kb / nb) - (ka / na)) /
                 SQRT(((ka + kb) / (na + nb)) * (1.0 - (ka + kb) / (na + nb))
                      * (1.0 / na + 1.0 / nb)), 6) AS z_stat
    FROM wide
    """.replace("{draw}", "(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100)"),
    doc=(
        "A/B readout: md5-draw variant assignment per user, per-event "
        "purchase share per arm, absolute lift, two-proportion z statistic."
    ),
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment readout: deterministic 50/50 assignment (md5 draw on
    user_id — the SAME mechanism a real experimentation system uses, so a
    user keeps their arm across sessions and replays), per-arm PURCHASE
    SHARE, and the pooled two-proportion z statistic. The metric is
    per-event share because per-user conversion saturates to 1.0 on this
    corpus (everyone purchases eventually), which zeroes the variance
    term; user-level correlation is the documented caveat, immaterial for
    the A/A plumbing check this face is. Assignment is orthogonal to
    behavior, so z ≈ 0 is itself the correctness signal — an A/A test
    reading null is how experiment plumbing is validated.

    Determinism: counts are exact; every rate/lift/z is one pinned double
    expression over exact counts (driver hash contract).

    Scale shape: a narrow per-row map, ONE map-side-combined |arms|-row
    aggregation, and a 1-row readout — the whole experiment readout costs
    a two-row shuffle at any scale."""
    from trike_spark.queries.dedup import _h60

    e = load_table(spark, sf_dir, "events")
    draw = _h60(F.col("user_id").cast("string")) % 100
    assigned = e.select(
        F.when(draw < 50, "A").otherwise("B").alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("converted"),
    )
    arms = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").cast("double").alias("k"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("k"))).alias("ka"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("k"))).alias("kb"),
    )
    na, ka, nb, kb = F.col("na"), F.col("ka"), F.col("nb"), F.col("kb")
    pooled = (ka + kb) / (na + nb)
    z = ((kb / nb) - (ka / na)) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return wide.select(
        na.cast("bigint").alias("n_a"),
        ka.cast("bigint").alias("conv_a"),
        nb.cast("bigint").alias("n_b"),
        kb.cast("bigint").alias("conv_b"),
        F.round(ka / na, 6).alias("rate_a"),
        F.round(kb / nb, 6).alias("rate_b"),
        F.round((kb / nb) - (ka / na), 6).alias("abs_lift"),
        F.round(z, 6).alias("z_stat"),
    )


# --- retention decay fit ------------------------------------------------------


@register(
    "events_retention_fit",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(FLOOR(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7.0)
                  AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id),
    pooled AS (
      SELECT a.week_offset,
             CAST(COUNT(*) AS DOUBLE) AS n_active,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM firsts) AS n_total
      FROM active a
      GROUP BY a.week_offset),
    pts AS (
      SELECT CAST(CAST(week_offset AS DOUBLE) AS DECIMAL(18,6)) AS x,
             CAST(ROUND(LN(n_active / n_total), 6) AS DECIMAL(18,6)) AS y
      FROM pooled WHERE week_offset >= 1),
    s2 AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM pts),
    fit AS (
      SELECT n, sx, sy, sxx, sxy,
             ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 6)
               AS decay_slope
      FROM s2)
    SELECT CAST(n AS BIGINT) AS n_offsets, decay_slope,
           ROUND((sy - decay_slope * sx) / n, 6) AS intercept,
           ROUND(-0.693147 / NULLIF(decay_slope, 0.0), 6) AS half_life_weeks
    FROM fit
    """,
    doc=(
        "Retention decay fit: OLS of ln(pooled retention rate) vs week "
        "offset — decay slope, intercept, half-life in weeks."
    ),
)
def events_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compresses the retention matrix into the two numbers a growth model
    consumes: the exponential decay rate of pooled week-over-week
    retention and its half-life. Same pinned-OLS discipline as
    text_zipf_slope (quantized points, exact DECIMAL moments, one double
    expression); ln(2) enters as the literal 0.693147 so both engines
    share the constant exactly.

    Scale shape: reuses the cohort rollup's two user_id shuffles; the
    regression runs over the WEEK-OFFSET dimension (a handful of rows) —
    the fit itself is free at any scale."""
    from pyspark.sql.functions import broadcast

    e = load_table(spark, sf_dir, "events")
    from trike_spark import cache

    # consumed by the join AND the n_total count — materialize once
    firsts = cache.checkpoint(
        e.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
        )
    )
    active = (
        e.join(firsts, on="user_id")
        .select(
            "user_id",
            F.floor(F.datediff(F.col("ts").cast("date"), F.col("cohort_week")) / 7.0)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    n_total = firsts.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    pooled = (
        active.groupBy("week_offset")
        .agg(F.count(F.lit(1)).cast("double").alias("n_active"))
        .crossJoin(broadcast(n_total))
    )
    pts = pooled.filter(F.col("week_offset") >= 1).select(
        F.col("week_offset").cast("double").cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("n_active") / F.col("n_total")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    s2 = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    # NULLIF guards: a corpus spanning <2 retained week-offsets (tiny SFs)
    # has no line to fit — slope/half-life go NULL instead of erroring.
    fit = s2.select(
        n, sx, sy, sxx, sxy,
        F.round(
            (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0)), 6
        ).alias("decay_slope"),
    )
    return fit.select(
        n.cast("bigint").alias("n_offsets"),
        F.col("decay_slope"),
        F.round((sy - F.col("decay_slope") * sx) / n, 6).alias("intercept"),
        F.round(
            F.lit(-0.693147) / F.nullif(F.col("decay_slope"), F.lit(0.0)), 6
        ).alias("half_life_weeks"),
    )


# --- activity streaks ---------------------------------------------------------


@register(
    "events_active_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    grp AS (
      SELECT user_id, d,
             CAST(d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                           AS INT) AS DATE) AS anchor
      FROM days),
    streaks AS (
      SELECT user_id, COUNT(*) AS streak_len FROM grp GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(streak_len) AS BIGINT) AS active_days
    FROM streaks GROUP BY user_id
    """,
    doc=(
        "Longest consecutive-active-day streak per user (gaps-and-islands "
        "on the calendar), plus streak count and total active days."
    ),
)
def events_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement-streak report (daily-habit metrics, anomaly ground
    truth for retention work): consecutive active days share the anchor
    date − row_number() island key — integer date arithmetic only, no
    interval/float semantics to disagree on.

    Scale shape: ONE user_id exchange carries the distinct-day set, the
    island window, and both rollups (all partition on user_id, so AQE
    reuses the exchange); per-user state is that user's active-day count,
    never their event count."""
    w = Window.partitionBy("user_id").orderBy("d")
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.sum("streak_len").cast("bigint").alias("active_days"),
    )


# --- bot / automation detection via timing regularity -------------------------

BOT_MIN_EVENTS = 20


@register(
    "events_bot_regularity",
    f"""
    WITH gaps AS (
      SELECT user_id,
             CAST(date_diff('microsecond',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                            ts) // 1000 AS BIGINT) AS gap_ms
      FROM events),
    g AS (SELECT user_id, gap_ms FROM gaps WHERE gap_ms IS NOT NULL),
    stats AS (
      SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(gap_ms) AS DOUBLE) AS s1,
             CAST(SUM(gap_ms * gap_ms) AS DOUBLE) AS s2
      FROM g GROUP BY user_id HAVING COUNT(*) >= {BOT_MIN_EVENTS})
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           ROUND(s1 / n / 1000.0, 6) AS mean_gap_s,
           ROUND(SQRT((s2 - (s1 * s1) / n) / n) / (s1 / n), 6) AS gap_cv
    FROM stats
    """,
    doc=(
        "Timing-regularity screen: per-user coefficient of variation of "
        "inter-event gaps (human traffic is bursty, CV ~ 1; automation is "
        f"metronomic, CV << 1); users with >= {BOT_MIN_EVENTS} gaps."
    ),
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The abuse/automation screen that needs no labels: humans emit
    bursty traffic (inter-event gaps near-exponential, CV ≈ 1), scripted
    clients are metronomic (CV ≪ 1) or retry-storm-shaped (CV ≫ 1). Gaps
    are exact integer microsecond differences over the (ts, event_id)
    total order; mean and CV come from the exact Σ and Σ² through one
    pinned double expression (population variance — same moment algebra
    as the rolling-correlation face).

    Scale shape: ONE user_id exchange serves the lag window and the
    moment rollup; state per user is three numbers. The screen composes
    with the MAD face: regularity flags the WHO, value outliers the
    WHAT."""
    e = load_table(spark, sf_dir, "events")
    # millisecond gaps: µs squares overflow BIGINT (hours² of µs² > 2^63);
    # integer-div to ms keeps Σ(gap²) exact in long at any realistic span.
    gaps = e.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) over "
            "(partition by user_id order by ts, event_id))) div 1000"
        ).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("gap_ms").cast("double").alias("s1"),
            F.sum(F.col("gap_ms") * F.col("gap_ms")).cast("double").alias("s2"),
        )
        .filter(F.col("n") >= BOT_MIN_EVENTS)
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return stats.select(
        "user_id",
        n.cast("bigint").alias("n_gaps"),
        F.round(s1 / n / 1000.0, 6).alias("mean_gap_s"),
        F.round(F.sqrt((s2 - (s1 * s1) / n) / n) / (s1 / n), 6).alias("gap_cv"),
    )


# --- conversion latency distribution ------------------------------------------


@register(
    "events_conversion_latency",
    """
    WITH marked AS (
      SELECT user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_us
      FROM events),
    lat AS (
      SELECT (epoch_us(ts) - last_view_us) / 1000000.0 AS latency_s
      FROM marked
      WHERE event_type = 'purchase' AND last_view_us IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(quantile_cont(latency_s, 0.5), 6) AS p50_s,
           ROUND(quantile_cont(latency_s, 0.9), 6) AS p90_s,
           ROUND(quantile_cont(latency_s, 0.99), 6) AS p99_s
    FROM lat
    """,
    doc=(
        "Conversion latency: view -> next purchase delay per conversion, "
        "summarized as exact p50/p90/p99 seconds."
    ),
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'How long from seeing to buying' — the latency distribution that
    sizes attribution windows (the 1 h cutoff in the last-touch face
    should sit in this distribution's tail, not its body). Latency uses
    the same running-conditional-MAX trick as attribution (window, not
    self-join); the integer-µs difference converts through one pinned
    division and the percentiles are the engines' shared exact
    interpolation (agg_percentiles contract).

    Scale shape: one user_id window pass, then a global exact percentile
    over CONVERSIONS (a tiny fraction of events); at 100 TB swap
    percentile_approx, same output contract."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    e = load_table(spark, sf_dir, "events")
    marked = e.select(
        "user_id",
        "ts",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).over(w).alias("last_view_us"),
    )
    lat = marked.filter(
        (F.col("event_type") == "purchase") & F.col("last_view_us").isNotNull()
    ).select(
        ((F.unix_micros("ts") - F.col("last_view_us")) / 1000000.0).alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias("p50_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias("p90_s"),
        F.round(F.percentile("latency_s", F.lit(0.99)), 6).alias("p99_s"),
    )


# --- attribution model comparison ---------------------------------------------


@register(
    "events_attribution_models",
    """
    WITH touches AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('click', 'view')),
    purch AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT p.event_id AS pid, t.event_type AS channel, t.ts AS tts,
             t.event_id AS tid
      FROM purch p JOIN touches t ON t.user_id = p.user_id
       AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL '1 hour'),
    per AS (SELECT pid, COUNT(*) AS n_touches FROM pairs GROUP BY pid),
    ranked AS (
      SELECT pairs.pid, channel,
             ROW_NUMBER() OVER (PARTITION BY pairs.pid ORDER BY tts, tid) AS rk_first,
             ROW_NUMBER() OVER (PARTITION BY pairs.pid ORDER BY tts DESC, tid DESC)
               AS rk_last,
             CAST(ROUND(1.0 / per.n_touches, 6) AS DECIMAL(18,6)) AS lin
      FROM pairs JOIN per ON per.pid = pairs.pid)
    SELECT channel,
           CAST(SUM(CASE WHEN rk_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch,
           CAST(SUM(CASE WHEN rk_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch,
           CAST(SUM(lin) AS DOUBLE) AS linear_credit
    FROM ranked GROUP BY channel
    """,
    doc=(
        "Attribution-model comparison: per channel, conversions credited "
        "under first-touch, last-touch, and linear models (1 h window)."
    ),
)
def events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report marketing actually argues over — the SAME conversions
    credited three ways, side by side, so the model choice's skew is
    visible (first-touch rewards discovery channels, last-touch closers,
    linear splits the difference). Linear credits are rounded per pair
    then summed in exact DECIMAL so the fractional 1/n shares fold
    order-independently.

    Scale shape: the purchase⨝touch pair join is an equi-join on user_id
    with a 1 h band predicate — candidates bounded by per-user touch rate
    × window, never all-pairs; both window ranks and the per-purchase
    count share the pid partitioning. The two window passes and final
    rollup reuse one exchange."""
    from pyspark.sql.functions import broadcast  # noqa: F401

    e = load_table(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    pairs = purch.join(
        touches,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
    ).select("pid", "channel", "tts", "tid")
    per = pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("n_touches"))
    w_first = Window.partitionBy("pid").orderBy("tts", "tid")
    w_last = Window.partitionBy("pid").orderBy(F.col("tts").desc(), F.col("tid").desc())
    ranked = (
        pairs.join(per, "pid")
        .withColumn("rk_first", F.row_number().over(w_first))
        .withColumn("rk_last", F.row_number().over(w_last))
        .withColumn(
            "lin", F.round(F.lit(1.0) / F.col("n_touches"), 6).cast("decimal(18,6)")
        )
    )
    return ranked.groupBy("channel").agg(
        F.sum(F.when(F.col("rk_first") == 1, 1).otherwise(0)).cast("bigint").alias(
            "first_touch"
        ),
        F.sum(F.when(F.col("rk_last") == 1, 1).otherwise(0)).cast("bigint").alias(
            "last_touch"
        ),
        F.sum("lin").cast("double").alias("linear_credit"),
    )


# --- market-basket lift --------------------------------------------------------


@register(
    "events_market_basket_lift",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events),
    nb AS (SELECT CAST(COUNT(DISTINCT (user_id, d)) AS DOUBLE) AS n_baskets
           FROM baskets),
    item AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n FROM baskets
      GROUP BY event_type),
    pair AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b,
             CAST(COUNT(*) AS DOUBLE) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.d = b.d AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
    SELECT item_a, item_b,
           CAST(n_ab AS BIGINT) AS n_cooccur,
           ROUND(n_ab / nb.n_baskets, 6) AS support,
           ROUND((n_ab / nb.n_baskets) /
                 ((ia.n / nb.n_baskets) * (ib.n / nb.n_baskets)), 6) AS lift
    FROM pair JOIN item ia ON ia.event_type = pair.item_a
              JOIN item ib ON ib.event_type = pair.item_b
              CROSS JOIN nb
    """,
    doc=(
        "Market-basket association: per event-type pair, co-occurrence "
        "support within (user, day) baskets and lift vs independence."
    ),
)
def events_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules' first rung: which behaviors co-occur in a
    basket beyond what independence predicts (lift > 1 → bundle, < 1 →
    substitution). Baskets are (user, day); items the event types — the
    same shape as product-SKU baskets at retail scale.

    Scale shape: the basket build is one distinct over (user, day, type);
    the pair join keys on the BASKET id, so candidates are per-basket
    |items|² (bounded by the type vocabulary, not events); item and
    basket totals are broadcastable dimension tables; every probability
    is exact counts through pinned doubles."""
    from pyspark.sql.functions import broadcast

    from trike_spark import cache

    e = load_table(spark, sf_dir, "events")
    # the basket table feeds FIVE consumers (both pair-join sides, the
    # basket total, and the two item-frequency legs) — without a
    # materialization barrier each one re-scans events and re-runs the
    # distinct (no CSE across references)
    baskets = cache.checkpoint(
        e.select("user_id", F.col("ts").cast("date").alias("d"), "event_type").distinct()
    )
    nb = baskets.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n_baskets")
    )
    item = cache.checkpoint(
        baskets.groupBy("event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    )  # |event-type|-sized, read by both the ia and ib legs
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"), F.col("b.event_type").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n_ab"))
    )
    ia = item.select(F.col("event_type").alias("item_a"), F.col("n").alias("na"))
    ib = item.select(F.col("event_type").alias("item_b"), F.col("n").alias("nb_"))
    out = (
        pair.join(broadcast(ia), "item_a")
        .join(broadcast(ib), "item_b")
        .crossJoin(broadcast(nb))
    )
    supp = F.col("n_ab") / F.col("n_baskets")
    lift = supp / ((F.col("na") / F.col("n_baskets")) * (F.col("nb_") / F.col("n_baskets")))
    return out.select(
        "item_a",
        "item_b",
        F.col("n_ab").cast("bigint").alias("n_cooccur"),
        F.round(supp, 6).alias("support"),
        F.round(lift, 6).alias("lift"),
    )


@register(
    "events_seasonal_naive_mape",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    fc AS (
      SELECT event_type, day, n,
             LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS fcast
      FROM daily),
    scored AS (
      SELECT event_type,
             ROUND(ABS(CAST(n AS DOUBLE) - fcast) / CAST(n AS DOUBLE), 6) AS ape,
             CAST(n AS BIGINT) - fcast AS err
      FROM fc WHERE fcast IS NOT NULL)
    SELECT event_type, COUNT(*) AS n_days_scored,
           ROUND(CAST(SUM(CAST(ape AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS mape,
           CAST(SUM(err) AS BIGINT) AS total_bias
    FROM scored GROUP BY event_type
    """,
    doc=(
        "Seasonal-naive forecast backtest: predict each day's event count "
        "with the count 7 days prior; report per-type MAPE and total bias "
        "— the baseline every forecasting model must beat."
    ),
)
def events_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecasting floor: ŷ(d) = y(d−7) (same weekday last week), then
    MAPE and signed bias over the backtest range. Any model that can't
    beat seasonal-naive isn't learning the seasonality it claims to — at
    100 TB this is the per-stream health check behind capacity forecasts.

    Determinism: daily counts are exact; each APE is one pinned double
    division rounded to 6, then DECIMAL-summed (order-independent);
    bias folds as exact BIGINTs. Scale shape: one (type, day) rollup with
    map-side combine, a LAG over the per-type CALENDAR dimension (days,
    not events), and a |types|-row result."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    fc = daily.select(
        "event_type", "n", F.lag("n", 7).over(w).alias("fcast")
    ).filter(F.col("fcast").isNotNull())
    scored = fc.select(
        "event_type",
        F.round(
            F.abs(F.col("n").cast("double") - F.col("fcast")) / F.col("n").cast("double"),
            6,
        ).alias("ape"),
        (F.col("n").cast("bigint") - F.col("fcast")).alias("err"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.round(
            F.sum(F.col("ape").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("mape"),
        F.sum("err").cast("bigint").alias("total_bias"),
    )


@register(
    "events_dau_wau_mau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    active_days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
      SELECT ud.user_id, ud.day + CAST(off AS INT) AS obs_day, off
      FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 27)) AS off)),
    rollup AS (
      SELECT obs_day AS day,
             COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
             COUNT(DISTINCT CASE WHEN off <= 6 THEN user_id END) AS wau,
             COUNT(DISTINCT user_id) AS mau
      FROM contrib GROUP BY obs_day)
    SELECT r.day, CAST(r.dau AS BIGINT) AS dau, CAST(r.wau AS BIGINT) AS wau,
           CAST(r.mau AS BIGINT) AS mau,
           ROUND(CAST(r.dau AS DOUBLE) / r.mau, 6) AS stickiness
    FROM rollup r JOIN active_days a ON a.day = r.day
    """,
    doc=(
        "DAU / trailing-7d WAU / trailing-28d MAU per day plus the DAU/MAU "
        "stickiness ratio — the product-health dashboard backbone."
    ),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-user rollups over sliding horizons without per-day rescans:
    each (user, active-day) fact is exploded once into the ≤28
    observation days it contributes to (off = 0..27), then one grouped
    pass takes conditional distincts (off=0 → DAU, off≤6 → WAU, all →
    MAU). Stickiness = DAU/MAU is the classic engagement ratio.

    Scale shape: the (user, day) dedup is the only fact-sized pass; the
    explode fans out a USER-DAY table (already collapsed) by a constant
    28, and the rollup shuffles on day with map-side combine. Early days
    carry partial trailing windows — reported as-is, the standard
    dashboard convention. Output is restricted to days with actual
    activity (the calendar dimension)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("off"),
    ).select("user_id", F.expr("date_add(day, off)").alias("obs_day"), "off")
    rollup = contrib.groupBy(F.col("obs_day").alias("day")).agg(
        F.count_distinct(
            F.when(F.col("off") == 0, F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.count_distinct(
            F.when(F.col("off") <= 6, F.col("user_id"))
        ).cast("bigint").alias("wau"),
        F.count_distinct("user_id").cast("bigint").alias("mau"),
    )
    active = ud.select("day").distinct()
    return rollup.join(active, "day").select(
        "day",
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
    )


@register(
    "events_peak_concurrency_daily",
    """
    WITH sess AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    bounds AS (
      SELECT day, s_start AS t, 1 AS delta, user_id FROM sess
      UNION ALL
      SELECT day, s_end AS t, -1 AS delta, user_id FROM sess),
    swept AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day
                              ORDER BY t, delta DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM bounds)
    SELECT day, CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
    FROM swept GROUP BY day
    """,
    doc=(
        "Peak concurrent sessions per day via the +1/-1 boundary sweep — "
        "the interval-stabbing max that sizes connection pools and "
        "stream-executor fleets."
    ),
)
def events_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-overlap of session intervals, computed the O(n log n) way:
    every session contributes a +1 at its start and a −1 at its end; the
    running sum over time-ordered boundaries is the live-session count
    and its MAX is the peak. Tie order is pinned (+1 sorts before −1 at
    the same instant, then user_id), so back-to-back sessions touching at
    one timestamp count as concurrent — deterministic in both engines.

    Scale shape: sessions collapse per (user, day) in one map-side-
    combined pass; the sweep window partitions by DAY (boundaries within
    a day, never a global timeline), so state is one running integer per
    partition. The same sweep sizes Kinesis shard fans and connection
    pools — the reference proxy's capacity question (proxy.ex supervision
    tree) answered from the event log."""
    e = load_table(spark, sf_dir, "events")
    sess = e.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    bounds = sess.select(
        "day", F.col("s_start").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        sess.select(
            "day", F.col("s_end").alias("t"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = bounds.select("day", F.sum("delta").over(w).alias("live"))
    return swept.groupBy("day").agg(
        F.max("live").cast("bigint").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_sessions"),
    )


@register(
    "events_survival_curve",
    """
    WITH life AS (
      SELECT user_id,
             date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
               AS lifetime_days
      FROM events GROUP BY user_id),
    n AS (SELECT COUNT(*) AS n_users FROM life),
    grid AS (SELECT unnest(generate_series(0, 30)) AS t)
    SELECT g.t,
           CAST(SUM(CASE WHEN l.lifetime_days >= g.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_surviving,
           ROUND(CAST(SUM(CASE WHEN l.lifetime_days >= g.t THEN 1 ELSE 0 END)
                      AS DOUBLE) / ANY_VALUE(n.n_users), 6) AS survival
    FROM grid g CROSS JOIN life l CROSS JOIN n
    GROUP BY g.t
    """,
    doc=(
        "Empirical survival curve: fraction of users whose observed "
        "lifetime (first->last activity) reaches day t, for t = 0..30 — "
        "the churn curve a retention model is fit against."
    ),
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S(t) = P[lifetime ≥ t] from observed first→last activity spans —
    the raw empirical curve (no censoring correction: the log has a hard
    end, noted; Kaplan-Meier reduces to this when everyone's window
    closed). Complements the cohort-retention matrix with a single
    per-day curve.

    Determinism: lifetimes and survivor counts are exact integers; the
    one division per grid row is pinned. Scale shape: one user_id rollup
    (map-side combined) produces a USER-sized lifetime table; the 31-row
    grid cross join fans that dimension table, never raw events."""
    e = load_table(spark, sf_dir, "events")
    life = e.groupBy("user_id").agg(
        F.datediff(F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))).alias(
            "lifetime_days"
        )
    )
    from pyspark.sql.functions import broadcast as _b

    n = life.agg(F.count(F.lit(1)).alias("n_users"))
    grid = spark.range(0, 31).select(F.col("id").cast("int").alias("t"))
    joined = life.crossJoin(_b(grid)).crossJoin(_b(n))
    return joined.groupBy("t").agg(
        F.sum(F.when(F.col("lifetime_days") >= F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_surviving"),
        F.round(
            F.sum(F.when(F.col("lifetime_days") >= F.col("t"), 1).otherwise(0)).cast(
                "double"
            )
            / F.any_value("n_users"),
            6,
        ).alias("survival"),
    )


RATE_WINDOW_S = 86400  # trailing window
RATE_LIMIT = 5  # max events allowed inside it


@register(
    "events_rate_limit_violations",
    f"""
    WITH counted AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id
                            ORDER BY CAST(epoch(ts) AS BIGINT)
                            RANGE BETWEEN {RATE_WINDOW_S} PRECEDING AND CURRENT ROW)
               AS n_in_window
      FROM events)
    SELECT user_id,
           CAST(MAX(n_in_window) AS BIGINT) AS peak_rate,
           CAST(SUM(CASE WHEN n_in_window > {RATE_LIMIT} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM counted GROUP BY user_id
    HAVING SUM(CASE WHEN n_in_window > {RATE_LIMIT} THEN 1 ELSE 0 END) > 0
    """,
    doc=(
        f"Retrospective rate-limit audit: events whose trailing-24h per-user "
        f"count exceeds {RATE_LIMIT} — the batch forensics face of "
        "rate limiting."
    ),
)
def events_rate_limit_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit query behind every abuse investigation: for each event,
    how many events did this user emit in the trailing day, and which
    events breached the limit? An online limiter enforces admission in
    flight; this face measures violations retrospectively over the
    archive — the pair every rate-limit deployment needs (enforce online,
    audit offline, tune the limit from the audit).

    Scale shape: one shuffle on user_id, then an event-time RANGE frame
    per user (frame state bounded by the window's event count, not
    history) and a per-user rollup on the SAME partitioning — AQE reuses
    the exchange. Counts are exact integers end to end."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-RATE_WINDOW_S, 0)
    )
    e = load_table(spark, sf_dir, "events")
    counted = e.select(
        "user_id", F.count(F.lit(1)).over(w).alias("n_in_window")
    )
    return (
        counted.groupBy("user_id")
        .agg(
            F.max("n_in_window").cast("bigint").alias("peak_rate"),
            F.sum(F.when(F.col("n_in_window") > RATE_LIMIT, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )
        .filter(F.col("n_violations") > 0)
    )


@register(
    "events_cohort_ltv_curve",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id),
    rev AS (
      SELECT f.cohort_week,
             CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts))
                  AS INT) AS wk,
             CAST(e.value AS DECIMAL(18,4)) AS v
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'),
    cohort_n AS (
      SELECT cohort_week, COUNT(*) AS n_users FROM first_seen GROUP BY cohort_week),
    wk_rev AS (
      SELECT cohort_week, wk, SUM(v) AS wrev
      FROM rev WHERE wk BETWEEN 0 AND 8 GROUP BY cohort_week, wk),
    cum AS (
      SELECT cohort_week, wk,
             SUM(wrev) OVER (PARTITION BY cohort_week ORDER BY wk
                             ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM wk_rev)
    SELECT CAST(c.cohort_week AS DATE) AS cohort_week, c.wk,
           CAST(n.n_users AS BIGINT) AS n_users,
           CAST(ROUND(c.cum_rev, 2) AS DOUBLE) AS cum_revenue,
           ROUND(CAST(c.cum_rev AS DOUBLE) / n.n_users, 4) AS ltv_per_user
    FROM cum c JOIN cohort_n n ON n.cohort_week = c.cohort_week
    """,
    doc=(
        "Cohort LTV curve: cumulative purchase revenue per signup-week "
        "cohort across week offsets 0-8, per-user normalized — the "
        "lifetime-value fan chart under every growth model."
    ),
)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue companion to the retention-cohort matrix: instead of
    counting active users per (cohort, week-offset) cell, accumulate
    purchase value — the curve whose plateau IS customer lifetime value,
    and whose per-cohort divergence shows product changes moving the
    economics (not just engagement).

    Determinism: revenue folds in exact DECIMAL through the grouped sum
    AND the cumulative window; the per-user division is pinned. Scale
    shape: one user_id shuffle for first-activity, one join back keyed
    the same way, a (cohort, wk) rollup, then windows over the ≤9-offset
    COHORT dimension."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week")) / 7
                )
            )
            .cast("int")
            .alias("wk"),
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
        .filter((F.col("wk") >= 0) & (F.col("wk") <= 8))
    )
    cohort_n = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    wk_rev = rev.groupBy("cohort_week", "wk").agg(F.sum("v").alias("wrev"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = wk_rev.select(
        "cohort_week", "wk", F.sum("wrev").over(w).alias("cum_rev")
    )
    from pyspark.sql.functions import broadcast

    return cum.join(broadcast(cohort_n), "cohort_week").select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "wk",
        "n_users",
        F.round(F.col("cum_rev"), 2).cast("double").alias("cum_revenue"),
        F.round(F.col("cum_rev").cast("double") / F.col("n_users"), 4).alias(
            "ltv_per_user"
        ),
    )


@register(
    "events_decile_lift_table",
    """
    WITH usr AS (
      SELECT user_id,
             SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
               AS engagement,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id),
    scored AS (
      SELECT engagement, converted,
             NTILE(10) OVER (ORDER BY engagement DESC, user_id) AS decile
      FROM usr),
    base AS (
      SELECT CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS base_rate FROM scored),
    per AS (
      SELECT decile, COUNT(*) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted,
             CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS rate
      FROM scored GROUP BY decile)
    SELECT p.decile, p.n_users, p.n_converted,
           ROUND(p.rate, 6) AS conversion_rate,
           ROUND(p.rate / b.base_rate, 4) AS lift,
           ROUND(CAST(SUM(p.n_converted) OVER (ORDER BY p.decile
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / SUM(p.n_converted) OVER (), 6) AS cum_gains
    FROM per p CROSS JOIN base b
    """,
    doc=(
        "Decile lift & gains table: users ranked by engagement score, "
        "per-decile conversion vs the base rate plus cumulative gains — "
        "the standard propensity-model evaluation report."
    ),
)
def events_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report every targeting model is judged by: rank the population
    by a score (here the view+click engagement count — swap in any model
    output), cut into deciles, and ask how concentrated conversion is at
    the top. Lift = decile rate / base rate; cumulative gains = fraction
    of all converters captured by deciles 1..d (the gains curve whose
    area IS the ranking's value). A score with no signal shows lift ≈ 1
    everywhere — making this face double as an A/A-style null check on
    synthetic data.

    Determinism: counts exact; the ntile carries a user_id tie-break;
    rates/lift are pinned divisions. Scale shape: one user_id rollup,
    then the USER-dimension decile cut runs BANDED
    (``operators/banded.banded_ntile``: band = negated engagement, so
    equal scores share a band and the heavy row_number is keyed by band,
    not global — at LLM scale the user dimension IS a fact table), a
    10-row rollup, and windows over the 10-row decile table."""
    from trike_spark.operators.banded import banded_ntile

    e = load_table(spark, sf_dir, "events")
    from trike_spark import cache

    # the events rollup feeds the banded operator's two legs — checkpoint
    # so the fact scan + user_id shuffle run once
    usr = cache.checkpoint(
        e.groupBy("user_id").agg(
            F.sum(
                F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
            ).alias("engagement"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            ),
        )
    )
    scored = banded_ntile(
        usr,
        -F.col("engagement"),
        [F.col("engagement").desc(), F.col("user_id")],
        10,
        "decile",
    ).select("engagement", "converted", "decile")
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("rate"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the base rate folds from the 10-row decile table: the per-decile
    # bigint counts sum to the same longs the full-population aggregate
    # produced, so the double division is bit-identical — no second pass
    # over the scored users
    base_rate = (
        F.sum("n_converted").over(wall).cast("double") / F.sum("n_users").over(wall)
    )
    return per.select(
        "decile",
        "n_users",
        "n_converted",
        F.round(F.col("rate"), 6).alias("conversion_rate"),
        F.round(F.col("rate") / base_rate, 4).alias("lift"),
        F.round(
            F.sum("n_converted").over(wc).cast("double")
            / F.sum("n_converted").over(wall),
            6,
        ).alias("cum_gains"),
    )


SLO_ERROR_BUDGET = 0.22  # tolerated error-event fraction


@register(
    "events_slo_burn_rate",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(*) AS n_events,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
      FROM events GROUP BY CAST(ts AS DATE))
    SELECT day, CAST(n_events AS BIGINT) AS n_events,
           CAST(n_errors AS BIGINT) AS n_errors,
           ROUND(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate,
           ROUND(CAST(n_errors AS DOUBLE) / n_events / {SLO_ERROR_BUDGET}, 4)
             AS burn_rate,
           (CAST(n_errors AS DOUBLE) / n_events / {SLO_ERROR_BUDGET} > 1.0)
             AS budget_exceeded
    FROM daily
    """,
    doc=(
        "SLO error-budget burn rate per day: error fraction over the "
        f"budget ({SLO_ERROR_BUDGET}), with exceeded-flag — the SRE "
        "alerting arithmetic over the event archive."
    ),
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google-SRE error-budget accounting: burn rate = observed error
    fraction / budgeted fraction; burn > 1 eats budget faster than the
    SLO window replenishes it (multi-window burn alerts are this number
    at two horizons). Batch face of the health aggregation the streaming
    side publishes (streaming/health.py) — alert online, account offline.

    Determinism: exact daily counts, two pinned divisions. Scale shape:
    one map-side-combined (day) rollup; output is calendar-sized."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    rate = F.col("n_errors").cast("double") / F.col("n_events")
    return daily.select(
        "day",
        "n_events",
        "n_errors",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / SLO_ERROR_BUDGET, 4).alias("burn_rate"),
        (rate / SLO_ERROR_BUDGET > 1.0).alias("budget_exceeded"),
    )


@register(
    "events_cumulative_unique_users",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    per_day AS (
      SELECT first_day AS day, COUNT(*) AS n_new
      FROM first_seen GROUP BY first_day),
    cal AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT c.day,
           CAST(COALESCE(p.n_new, 0) AS BIGINT) AS n_new_users,
           CAST(SUM(COALESCE(p.n_new, 0)) OVER (ORDER BY c.day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_unique_users
    FROM cal c LEFT JOIN per_day p ON p.day = c.day
    """,
    doc=(
        "Cumulative distinct users per day via the first-seen reduction — "
        "the expanding-window COUNT(DISTINCT) that would otherwise need a "
        "rescan per day, in one pass."
    ),
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth chart's denominator: total unique users ever seen, per
    day. A naive expanding-window COUNT(DISTINCT) re-deduplicates all of
    history for every day; the first-seen reduction observes that a user
    contributes to the cumulative count exactly once — on their first
    day — so one user_id rollup plus a running sum over the CALENDAR
    dimension computes every prefix at once. The same reduction is how
    the DAU/WAU/MAU face avoids per-day rescans.

    Determinism: exact integer counts end to end. Scale shape: one
    map-side-combined user rollup (the only fact-sized pass), a
    |days|-row join, and a running sum over the calendar."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    cal = e.select(F.col("ts").cast("date").alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined = cal.join(per_day, "day", "left").select(
        "day", F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new")
    )
    return joined.select(
        "day",
        F.col("n_new").cast("bigint").alias("n_new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_unique_users"),
    )


@register(
    "events_user_lifecycle_states",
    """
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    flagged AS (
      SELECT user_id, wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      FROM uw),
    states AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM flagged),
    churn AS (
      SELECT wk + INTERVAL 7 DAY AS wk, 'churned' AS state
      FROM (
        SELECT user_id, wk,
               LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        FROM uw)
      WHERE next_wk IS NULL OR next_wk > wk + INTERVAL 7 DAY),
    all_states AS (
      SELECT CAST(wk AS DATE) AS wk, state FROM states
      UNION ALL
      SELECT CAST(wk AS DATE), state FROM churn),
    weeks AS (SELECT DISTINCT CAST(wk AS DATE) AS wk FROM uw)
    SELECT a.wk, a.state, COUNT(*) AS n_users
    FROM all_states a JOIN weeks w ON w.wk = a.wk
    GROUP BY a.wk, a.state
    """,
    doc=(
        "Growth accounting: each week's active users decomposed into "
        "new / retained / resurrected, plus the churned count lost from "
        "the prior week — the decomposition behind every MAU narrative."
    ),
)
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-accounting identity (active_t = new_t + retained_t +
    resurrected_t; active_t − retained_{t+1} = churned_{t+1}): a flat MAU
    can hide churn exactly offset by acquisition, and this decomposition
    is how that's made visible. States from one (user, week) dedup:
    new = first-ever week; retained = also active the immediately-prior
    week; resurrected = returning after a gap; churned (attributed to
    the FOLLOWING week) = active without activity in the next week.
    Churn rows beyond the observed calendar are clipped (the last week's
    churn is unknowable yet — honest right-censoring).

    Determinism: exact integer counts; week arithmetic is calendar-exact
    in both engines. Scale shape: one user_id dedup + two windows over
    each user's WEEKS (not events), then a (week, state) rollup."""
    e = load_table(spark, sf_dir, "events")
    uw = e.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    wu = Window.partitionBy("user_id")
    wo = wu.orderBy("wk")
    flagged = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(wu).alias("first_wk"),
        F.lag("wk").over(wo).alias("prev_wk"),
    )
    states = flagged.select(
        F.col("wk").cast("date").alias("wk"),
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(
            F.col("prev_wk") == F.col("wk") - F.expr("INTERVAL 7 DAYS"), "retained"
        )
        .otherwise("resurrected")
        .alias("state"),
    )
    churn = (
        uw.select("user_id", "wk", F.lead("wk").over(wo).alias("next_wk"))
        .filter(
            F.col("next_wk").isNull()
            | (F.col("next_wk") > F.col("wk") + F.expr("INTERVAL 7 DAYS"))
        )
        .select(
            (F.col("wk") + F.expr("INTERVAL 7 DAYS")).cast("date").alias("wk"),
            F.lit("churned").alias("state"),
        )
    )
    weeks = uw.select(F.col("wk").cast("date").alias("wk")).distinct()
    all_states = states.unionByName(churn).join(weeks, "wk")
    return all_states.groupBy("wk", "state").agg(
        F.count(F.lit(1)).alias("n_users")
    )


DEBOUNCE_COOLDOWN_MIN = 30


@register(
    "events_alert_debounce",
    f"""
    WITH RECURSIVE err AS (
      SELECT user_id, ts FROM events WHERE event_type = 'error'),
    kept AS (
      SELECT user_id, MIN(ts) AS ts FROM err GROUP BY user_id
      UNION ALL
      SELECT k.user_id,
             (SELECT MIN(e.ts) FROM err e
              WHERE e.user_id = k.user_id
                AND e.ts > k.ts + INTERVAL {DEBOUNCE_COOLDOWN_MIN} MINUTE) AS ts
      FROM kept k
      WHERE (SELECT MIN(e.ts) FROM err e
             WHERE e.user_id = k.user_id
               AND e.ts > k.ts + INTERVAL {DEBOUNCE_COOLDOWN_MIN} MINUTE)
            IS NOT NULL)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_alerts,
           CAST((SELECT COUNT(*) FROM err e WHERE e.user_id = kept.user_id)
                AS BIGINT) - COUNT(*) AS n_suppressed,
           MIN(ts) AS first_alert, MAX(ts) AS last_alert
    FROM kept GROUP BY user_id
    """,
    doc=(
        f"Alert debounce: after an emitted error alert, suppress further "
        f"errors for {DEBOUNCE_COOLDOWN_MIN} minutes; per user, alerts "
        "kept vs suppressed — the pager-dedup every alerting system runs."
    ),
)
def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cooldown debouncing is the canonical NOT-window-expressible
    per-key computation: whether an event is kept depends on the kept/
    suppressed status of the previous events (greedy chain), so no frame
    or gaps-and-islands trick applies — session gaps reset on EVERY
    event, a cooldown resets only on KEPT ones. Spark side: an
    ``applyInPandas`` grouped kernel runs the O(n) greedy per user
    (groups = one user's errors, small and uniform). Oracle side: a
    recursive CTE walks the same chain — the cross-engine agreement IS
    the evidence both implement the greedy faithfully.

    Scale shape: one user_id shuffle of error events only (pre-filtered
    at the scan); per-group state is one timestamp."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select("user_id", "ts")

    cooldown = pd.Timedelta(minutes=DEBOUNCE_COOLDOWN_MIN)

    def _debounce(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("ts")
        kept = []
        last = None
        for t in pdf["ts"]:
            if last is None or t > last + cooldown:
                kept.append(t)
                last = t
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_alerts": [len(kept)],
                "n_suppressed": [len(pdf) - len(kept)],
                "first_alert": [kept[0]],
                "last_alert": [kept[-1]],
            }
        )

    return err.groupBy("user_id").applyInPandas(
        _debounce,
        schema=(
            "user_id long, n_alerts long, n_suppressed long, "
            "first_alert timestamp, last_alert timestamp"
        ),
    )


@register(
    "events_ab_power_mde",
    """
    WITH arms AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS p
      FROM arms)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(p, 6) AS base_rate,
           ROUND(2.80158 * SQRT(2.0 * p * (1.0 - p) / (n / 2.0)), 6)
             AS mde_abs,
           ROUND(2.80158 * SQRT(2.0 * p * (1.0 - p) / (n / 2.0)) / p, 4)
             AS mde_rel,
           ROUND(2.0 * 2.80158 * 2.80158 * p * (1.0 - p)
                 / (0.01 * 0.01), 0) AS n_per_arm_for_1pt
    FROM s
    """,
    doc=(
        "A/B design arithmetic: minimum detectable effect at alpha=.05 / "
        "power=.80 for a 50/50 split of the observed population, plus the "
        "per-arm sample size a 1-point absolute lift would need."
    ),
)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The question to answer BEFORE running the experiment the ab_lift
    face reads out: with this population and base conversion rate, what
    lift is even detectable? MDE = (z_{α/2}+z_β)·√(2p(1−p)/n_arm) with
    z_{.975}+z_{.80} = 1.95996 + 0.84162 = 2.80158 pinned as a literal
    (no engine normal-quantile function needed); the inverse form gives
    the n one point of absolute lift requires. An experiment whose
    expected effect is below mde_abs is theater — this face is the
    arithmetic that says so from the archive itself.

    Determinism: exact counts, one pinned expression tree. Scale shape:
    one user rollup + a 1-row reduce."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    )
    s = arms.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("conv").cast("double") / F.count(F.lit(1))).alias("p"),
    )
    n, p = F.col("n"), F.col("p")
    z = F.lit(2.80158)
    mde = z * F.sqrt(F.lit(2.0) * p * (F.lit(1.0) - p) / (n / F.lit(2.0)))
    return s.select(
        n.cast("bigint").alias("n_users"),
        F.round(p, 6).alias("base_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 4).alias("mde_rel"),
        F.round(
            F.lit(2.0) * z * z * p * (F.lit(1.0) - p) / F.lit(0.01 * 0.01), 0
        ).alias("n_per_arm_for_1pt"),
    )


@register(
    "events_ctr_wilson_bounds",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS DOUBLE) AS k
      FROM events GROUP BY event_type),
    w AS (
      SELECT event_type, n, k, k / n AS p,
             (k / n + 1.92072 / n) / (1.0 + 3.84144 / n) AS center,
             (1.95996 / (1.0 + 3.84144 / n))
               * SQRT((k / n) * (1.0 - k / n) / n + 0.96036 / (n * n)) AS hw
      FROM s)
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           ROUND(p, 6) AS rate,
           ROUND(center - hw, 6) AS wilson_lo,
           ROUND(center + hw, 6) AS wilson_hi
    FROM w
    """,
    doc=(
        "Wilson score intervals for per-type high-value rates — the "
        "small-n-safe bounds that make rate rankings honest (sort by "
        "wilson_lo, not the raw rate)."
    ),
)
def events_ctr_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval that fixes rate rankings: a 3/3 item beats a 480/520
    item on raw rate and loses on the Wilson lower bound, which is the
    correct call. Center (p + z²/2n)/(1 + z²/n) and half-width use
    z=1.95996 with z²=3.84144 and z²/4=0.96036 pinned as literals — no
    engine quantile function, one closed-form expression tree per group.
    The same bound ranks heavy-hitter candidates, A/B cells, and any
    success-rate leaderboard where exposure varies.

    Scale shape: one map-side-combined rollup, |types|-row output."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("double").alias("k"),
    )
    n, k = F.col("n"), F.col("k")
    p = k / n
    center = (p + F.lit(1.92072) / n) / (F.lit(1.0) + F.lit(3.84144) / n)
    hw = (F.lit(1.95996) / (F.lit(1.0) + F.lit(3.84144) / n)) * F.sqrt(
        p * (F.lit(1.0) - p) / n + F.lit(0.96036) / (n * n)
    )
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        k.cast("bigint").alias("k"),
        F.round(p, 6).alias("rate"),
        F.round(center - hw, 6).alias("wilson_lo"),
        F.round(center + hw, 6).alias("wilson_hi"),
    )


@register(
    "events_daily_autocorrelation",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY CAST(ts AS DATE)),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    paired AS (
      SELECT l.lag, d1.n AS x, d2.n AS y
      FROM lags l
      JOIN daily d1 ON TRUE
      JOIN daily d2 ON d2.day = d1.day - CAST(l.lag AS INT)),
    s AS (
      SELECT lag, CAST(COUNT(*) AS DOUBLE) AS m,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM paired GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, CAST(m AS BIGINT) AS n_pairs,
           ROUND((m * sxy - sx * sy)
                 / (SQRT(m * sxx - sx * sx) * SQRT(m * syy - sy * sy)), 6)
             AS autocorr
    FROM s
    """,
    doc=(
        "Autocorrelation of the daily event count at lags 1-7 — the "
        "seasonality detector that says WHICH cycle (a lag-7 peak = the "
        "weekly rhythm the heatmap face shows spatially)."
    ),
)
def events_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlogram's first week: Pearson correlation between the
    daily series and itself shifted by 1..7 days. A lag-7 peak confirms
    weekly seasonality (and justifies the seasonal-naive face's y(d−7)
    forecast); a lag-1 peak means momentum; all-flat means the volume is
    memoryless. Daily counts are exact BIGINTs, each lag's moment sums
    fold exactly, and the Pearson is one pinned expression per lag — the
    rolling-corr discipline applied across the lag dimension.

    Scale shape: the daily rollup is the only fact pass; lag pairing
    self-joins the CALENDAR table (|days|·7 rows) and reduces to 7
    rows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    from pyspark.sql.functions import broadcast

    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    d1 = daily.select(F.col("day").alias("day1"), F.col("n").alias("x"))
    d2 = daily.select(F.col("day").alias("day2"), F.col("n").alias("y"))
    paired = (
        d1.crossJoin(broadcast(lags))
        .join(d2, F.expr("day2 = date_sub(day1, lag)"))
        .select("lag", "x", "y")
    )
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        m.cast("bigint").alias("n_pairs"),
        F.round(
            (m * sxy - sx * sy)
            / (F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy)),
            6,
        ).alias("autocorr"),
    )


@register(
    "events_weekday_seasonal_index",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY CAST(ts AS DATE)),
    base AS (
      SELECT isodow(day) AS dow, n,
             CAST((SELECT SUM(n) FROM daily) AS DOUBLE)
               / (SELECT COUNT(*) FROM daily) AS grand_mean
      FROM daily)
    SELECT CAST(dow AS INT) AS dow, COUNT(*) AS n_days,
           CAST(SUM(n) AS BIGINT) AS total_events,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS dow_mean,
           ROUND((CAST(SUM(n) AS DOUBLE) / COUNT(*)) / ANY_VALUE(grand_mean), 6)
             AS seasonal_index
    FROM base GROUP BY dow
    """,
    doc=(
        "Classical weekday seasonal indices: each ISO weekday's mean "
        "daily volume over the grand mean — the multiplicative factors "
        "that deseasonalize a series before trend analysis."
    ),
)
def events_weekday_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of classical decomposition: index_d = mean volume
    on weekday d / grand mean. Deseasonalizing (divide each day by its
    index) is what makes a Monday-vs-Sunday comparison honest, turns the
    CUSUM face's drift line flat across weeks, and converts the
    autocorrelation face's lag-7 peak into explicit per-day factors a
    capacity plan can multiply by.

    Determinism: exact counts; the two divisions are pinned (grand mean
    computed once from exact sums). Scale shape: one daily rollup, a
    7-row output; weekday numbering is ISO in both engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    from pyspark.sql.functions import broadcast

    gm = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("grand_mean")
    )
    base = daily.select(
        F.dayofweek("day").alias("dow_sun1"), "n"
    ).select(
        # Spark dayofweek is 1=Sunday; convert to ISO 1=Monday..7=Sunday
        F.when(F.col("dow_sun1") == 1, 7).otherwise(F.col("dow_sun1") - 1).alias("dow"),
        "n",
    ).crossJoin(broadcast(gm))
    return base.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").cast("bigint").alias("total_events"),
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 4).alias("dow_mean"),
        F.round(
            (F.sum("n").cast("double") / F.count(F.lit(1))) / F.any_value("grand_mean"),
            6,
        ).alias("seasonal_index"),
    ).select(
        F.col("dow").cast("int").alias("dow"),
        "n_days",
        "total_events",
        "dow_mean",
        "seasonal_index",
    )


@register(
    "events_cuped_adjustment",
    """
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS split_us
      FROM events),
    per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) < b.split_us
                  THEN CAST(value AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS pre,
             CAST(SUM(CASE WHEN epoch_us(ts) >= b.split_us
                  THEN CAST(value AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS post
      FROM events CROSS JOIN bounds b
      GROUP BY user_id),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(pre AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(post AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(pre AS DECIMAL(18,4)) * CAST(pre AS DECIMAL(18,4)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(post AS DECIMAL(18,4)) * CAST(post AS DECIMAL(18,4)))
                  AS DOUBLE) AS syy,
             CAST(SUM(CAST(pre AS DECIMAL(18,4)) * CAST(post AS DECIMAL(18,4)))
                  AS DOUBLE) AS sxy
      FROM per_user),
    d AS (
      SELECT n,
             (sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n))
               AS theta,
             syy / n - (sy / n) * (sy / n) AS var_y,
             (sxy / n - (sx / n) * (sy / n))
               * ((sxy / n - (sx / n) * (sy / n))
                  / (sxx / n - (sx / n) * (sx / n))) AS reduction
      FROM m)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(theta, 6) AS theta,
           ROUND(var_y, 4) AS var_post,
           ROUND(var_y - reduction, 4) AS var_cuped,
           ROUND(reduction / var_y, 6) AS variance_reduction
    FROM d
    """,
    doc=(
        "CUPED pre-period adjustment: theta = cov(pre,post)/var(pre), the "
        "adjusted-metric variance, and the fraction of variance removed — "
        "the experiment-sensitivity multiplier computed from the archive."
    ),
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013), the cheapest sensitivity win in
    experimentation: regress the experiment-period metric on the SAME
    user's pre-period value and analyze the residual — variance drops by
    ρ², so a 0.5 pre/post correlation cuts required sample size 25 %.
    This face computes θ and the achievable reduction from the archive's
    own pre/post halves (split at the exact-microsecond time midpoint, replay-stable) —
    the number that says whether CUPED is worth wiring into YOUR
    experiment pipeline before any experiment runs.

    Determinism: per-user pre/post sums and all five moments fold in
    exact DECIMAL; θ and the reduction are one pinned expression tree.
    Scale shape: a 1-row bounds broadcast, one user_id rollup, a 1-row
    moment reduce."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.functions import broadcast

    # split at the time midpoint in EXACT integer microseconds — interval
    # halving vs second-truncated arithmetic puts borderline users on
    # different sides across engines
    bounds = e.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) div 2").alias(
            "split_us"
        )
    )
    dec = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    zero = F.lit(0).cast("decimal(18,4)")
    per_user = (
        e.crossJoin(broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.unix_micros("ts") < F.col("split_us"), dec(F.col("value"))
                ).otherwise(zero)
            )
            .cast("double")
            .alias("pre"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= F.col("split_us"), dec(F.col("value"))
                ).otherwise(zero)
            )
            .cast("double")
            .alias("post"),
        )
    )
    xd, yd = dec(F.col("pre")), dec(F.col("post"))
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov = sxy / n - (sx / n) * (sy / n)
    varx = sxx / n - (sx / n) * (sx / n)
    vary = syy / n - (sy / n) * (sy / n)
    theta = cov / varx
    reduction = cov * (cov / varx)
    return m.select(
        n.cast("bigint").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(vary, 4).alias("var_post"),
        F.round(vary - reduction, 4).alias("var_cuped"),
        F.round(reduction / vary, 6).alias("variance_reduction"),
    )


# --- difference-in-differences ---------------------------------------------------

_DID_DRAW = (
    "(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 100)"
)


@register(
    "events_did_estimator",
    f"""
    WITH b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
               FROM events),
    lab AS (
      SELECT CASE WHEN {_DID_DRAW} < 50 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN epoch_us(ts) < b.mn + (b.mx - b.mn) // 2
                  THEN 0 ELSE 1 END AS post,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events CROSS JOIN b),
    cells AS (
      SELECT variant, post,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(v) AS DOUBLE) AS sx,
             CAST(SUM(v * v) AS DOUBLE) AS sxx
      FROM lab GROUP BY variant, post),
    wide AS (
      SELECT
        MAX(CASE WHEN variant='A' AND post=0 THEN n END) AS n_a0,
        MAX(CASE WHEN variant='A' AND post=0 THEN sx END) AS sx_a0,
        MAX(CASE WHEN variant='A' AND post=0 THEN sxx END) AS sxx_a0,
        MAX(CASE WHEN variant='A' AND post=1 THEN n END) AS n_a1,
        MAX(CASE WHEN variant='A' AND post=1 THEN sx END) AS sx_a1,
        MAX(CASE WHEN variant='A' AND post=1 THEN sxx END) AS sxx_a1,
        MAX(CASE WHEN variant='B' AND post=0 THEN n END) AS n_b0,
        MAX(CASE WHEN variant='B' AND post=0 THEN sx END) AS sx_b0,
        MAX(CASE WHEN variant='B' AND post=0 THEN sxx END) AS sxx_b0,
        MAX(CASE WHEN variant='B' AND post=1 THEN n END) AS n_b1,
        MAX(CASE WHEN variant='B' AND post=1 THEN sx END) AS sx_b1,
        MAX(CASE WHEN variant='B' AND post=1 THEN sxx END) AS sxx_b1
      FROM cells)
    SELECT ROUND(sx_a0 / n_a0, 6) AS mean_a_pre,
           ROUND(sx_a1 / n_a1, 6) AS mean_a_post,
           ROUND(sx_b0 / n_b0, 6) AS mean_b_pre,
           ROUND(sx_b1 / n_b1, 6) AS mean_b_post,
           ROUND((sx_b1 / n_b1 - sx_b0 / n_b0)
                 - (sx_a1 / n_a1 - sx_a0 / n_a0), 6) AS did,
           ROUND(((sx_b1 / n_b1 - sx_b0 / n_b0)
                  - (sx_a1 / n_a1 - sx_a0 / n_a0))
                 / SQRT(((sxx_a0 - (sx_a0 / n_a0) * sx_a0) / (n_a0 - 1.0)) / n_a0
                      + ((sxx_a1 - (sx_a1 / n_a1) * sx_a1) / (n_a1 - 1.0)) / n_a1
                      + ((sxx_b0 - (sx_b0 / n_b0) * sx_b0) / (n_b0 - 1.0)) / n_b0
                      + ((sxx_b1 - (sx_b1 / n_b1) * sx_b1) / (n_b1 - 1.0)) / n_b1),
                 6) AS z_did
    FROM wide
    """,
    doc=(
        "Difference-in-differences readout: md5-assigned arms × pre/post "
        "halves of the event-time range, per-cell exact moment sums, "
        "DiD point estimate and its z statistic — the causal estimator "
        "when treatment rollout has a time component."
    ),
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiD completes the causal toolkit (A/B lift, CUPED, power/MDE,
    delta-method): when a launch lands at time T, naive post-vs-pre
    confounds the launch with seasonality, and post-only A-vs-B needs the
    randomization to be perfect — DiD differences out BOTH (any additive
    time shock common to the arms cancels). The parallel-trends
    assumption is the caveat; on this md5 A/A split the estimate ≈ 0 is
    itself the plumbing check (same argument as the lift face).

    Determinism: the pre/post boundary is the exact integer midpoint of
    the observed epoch-microsecond range (computed once, both engines use
    integer division); per-cell Σx/Σx² fold in exact DECIMAL; the
    estimate and its z are single pinned double expressions over the four
    cells' exact sums.

    Scale shape: one 1-row min/max scan broadcast into a narrow labeling
    map, ONE map-side-combined 4-row aggregation, a 1-row pivot — the
    whole estimator is one pass over the archive regardless of scale."""
    e = load_table(spark, sf_dir, "events")
    from trike_spark.queries.dedup import _h60

    b = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    draw = _h60(F.col("user_id").cast("string")) % 100
    lab = e.crossJoin(F.broadcast(b)).select(
        F.when(draw < 50, "A").otherwise("B").alias("variant"),
        F.when(
            F.unix_micros("ts")
            < F.col("mn") + F.expr("(mx - mn) div 2"),
            0,
        )
        .otherwise(1)
        .alias("post"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    cells = lab.groupBy("variant", "post").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("double").alias("sx"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("sxx"),
    )
    aggs = []
    for var, post in (("A", 0), ("A", 1), ("B", 0), ("B", 1)):
        tag = f"{var.lower()}{post}"
        cond = (F.col("variant") == var) & (F.col("post") == post)
        aggs += [
            F.max(F.when(cond, F.col("n"))).alias(f"n_{tag}"),
            F.max(F.when(cond, F.col("sx"))).alias(f"sx_{tag}"),
            F.max(F.when(cond, F.col("sxx"))).alias(f"sxx_{tag}"),
        ]
    wide = cells.agg(*aggs)

    def mean(tag: str) -> F.Column:
        return F.col(f"sx_{tag}") / F.col(f"n_{tag}")

    def seterm(tag: str) -> F.Column:
        n, sx, sxx = (F.col(f"{p}_{tag}") for p in ("n", "sx", "sxx"))
        return ((sxx - (sx / n) * sx) / (n - 1.0)) / n

    did = (mean("b1") - mean("b0")) - (mean("a1") - mean("a0"))
    se = F.sqrt(seterm("a0") + seterm("a1") + seterm("b0") + seterm("b1"))
    return wide.select(
        F.round(mean("a0"), 6).alias("mean_a_pre"),
        F.round(mean("a1"), 6).alias("mean_a_post"),
        F.round(mean("b0"), 6).alias("mean_b_pre"),
        F.round(mean("b1"), 6).alias("mean_b_post"),
        F.round(did, 6).alias("did"),
        F.round(did / se, 6).alias("z_did"),
    )


# --- Wald SPRT sequential monitor -------------------------------------------------

SPRT_DELTA = 0.02  # H1 effect size: p1 = p0 + delta
SPRT_LN_19 = 2.9444389791664403  # ln((1-0.05)/0.05), alpha = beta = 0.05


@register(
    "events_sprt_sequential",
    f"""
    WITH assigned AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CASE WHEN {_DID_DRAW} < 50 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    p0s AS (
      SELECT CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS p0
      FROM assigned WHERE variant = 'A'),
    daily AS (
      SELECT day, COUNT(*) AS n_day, SUM(conv) AS k_day
      FROM assigned WHERE variant = 'B' GROUP BY day),
    cum AS (
      SELECT day,
             CAST(SUM(n_day) OVER w AS BIGINT) AS n_cum,
             CAST(SUM(k_day) OVER w AS BIGINT) AS k_cum
      FROM daily WINDOW w AS (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    scored AS (
      SELECT day, n_cum, k_cum,
             k_cum * LN((p0 + {SPRT_DELTA}) / p0)
               + (n_cum - k_cum) * LN((1.0 - p0 - {SPRT_DELTA}) / (1.0 - p0))
               AS llr
      FROM cum CROSS JOIN p0s)
    SELECT day, n_cum, k_cum, ROUND(llr, 6) AS llr,
           CASE WHEN llr >= {SPRT_LN_19} THEN 'accept_h1'
                WHEN llr <= -{SPRT_LN_19} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM scored
    """,
    doc=(
        f"Wald SPRT sequential monitor: daily cumulative LLR of the B arm "
        f"against H0 p=p0 (A's pooled rate) vs H1 p=p0+{SPRT_DELTA}, "
        "alpha=beta=0.05 boundaries — the peeking-safe early-stopping "
        "readout."
    ),
)
def events_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequential complement to the fixed-horizon faces (lift, Welch,
    power/MDE): looking at a dashboard daily and stopping when z crosses
    1.96 inflates false positives severalfold; Wald's SPRT is the test
    DESIGNED for continuous peeking — the cumulative log-likelihood ratio
    walks until it exits [ln(β/(1−α)), ln((1−β)/α)], and the boundaries
    cap both error rates at any stopping time. On this md5 A/A split the
    trajectory staying inside the band IS the plumbing check.

    Determinism: daily n/k are exact counts; p0 is one pinned division of
    exact counts; the two LN terms evaluate once per row on identical
    doubles (same libm on this host — the ln-parity contract the logprob
    and geometric-mean faces already pin); boundaries are pinned literals.

    Scale shape: one narrow assignment map, ONE map-side-combined
    |days|-row daily rollup, a running-sum window over the DAY dimension
    (the sanctioned small-dimension window), a 1-row p0 broadcast — the
    monitor costs one pass over the archive however large the corpus,
    and in production the daily rollup is the only leg that touches new
    data (it appends through the incremental-aggregate path)."""
    from trike_spark.queries.dedup import _h60

    e = load_table(spark, sf_dir, "events")
    draw = _h60(F.col("user_id").cast("string")) % 100
    assigned = e.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.when(draw < 50, "A").otherwise("B").alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    p0s = assigned.filter(F.col("variant") == "A").agg(
        (F.sum("conv").cast("double") / F.count(F.lit(1))).alias("p0")
    )
    daily = (
        assigned.filter(F.col("variant") == "B")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_day"), F.sum("conv").alias("k_day"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n_day").over(w).cast("bigint").alias("n_cum"),
        F.sum("k_day").over(w).cast("bigint").alias("k_cum"),
    )
    p0 = F.col("p0")
    llr = F.col("k_cum") * F.log((p0 + SPRT_DELTA) / p0) + (
        F.col("n_cum") - F.col("k_cum")
    ) * F.log((1.0 - p0 - SPRT_DELTA) / (1.0 - p0))
    scored = cum.crossJoin(F.broadcast(p0s)).select(
        "day", "n_cum", "k_cum", llr.alias("llr")
    )
    return scored.select(
        "day",
        "n_cum",
        "k_cum",
        F.round("llr", 6).alias("llr"),
        F.when(F.col("llr") >= SPRT_LN_19, "accept_h1")
        .when(F.col("llr") <= -SPRT_LN_19, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# --- off-policy evaluation (IPS / SNIPS) --------------------------------------------

IPS_ALPHA = 10  # Laplace smoothing of the logged (behavior) propensities
IPS_BOOST = 0.5  # target policy: P(purchase) = 0.5, rest uniform


@register(
    "events_offpolicy_ips",
    f"""
    WITH acts AS (
      SELECT event_type AS a, COUNT(*) AS n_a,
             SUM(CAST(value AS DECIMAL(18,6))) AS sum_r
      FROM events GROUP BY event_type),
    tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS n,
                   COUNT(*) AS n_actions,
                   SUM(sum_r) AS sum_r_all
            FROM acts),
    w AS (
      SELECT a, n_a, sum_r, tot.n, tot.n_actions,
             (CASE WHEN a = 'purchase' THEN {IPS_BOOST}
                   ELSE {IPS_BOOST} / (tot.n_actions - 1.0) END)
             / ((n_a + {IPS_ALPHA}.0)
                / (tot.n + {IPS_ALPHA}.0 * tot.n_actions)) AS w_a
      FROM acts CROSS JOIN tot),
    folded AS (
      SELECT MAX(n) AS n, MAX(n_actions) AS n_actions,
             SUM(CAST(ROUND(w_a * CAST(sum_r AS DOUBLE), 6)
                      AS DECIMAL(28,6))) AS ips_num,
             SUM(CAST(ROUND(w_a * n_a, 6) AS DECIMAL(28,6))) AS sum_w,
             SUM(CAST(ROUND(w_a * w_a * n_a, 6) AS DECIMAL(28,6))) AS sum_w2,
             MAX(w_a) AS max_w
      FROM w)
    SELECT CAST(f.n AS BIGINT) AS n_events,
           CAST(f.n_actions AS BIGINT) AS n_actions,
           ROUND(CAST(t.sum_r_all AS DOUBLE) / f.n, 6) AS v_logged,
           ROUND(CAST(f.ips_num AS DOUBLE) / f.n, 6) AS v_ips,
           ROUND(CAST(f.ips_num AS DOUBLE) / CAST(f.sum_w AS DOUBLE), 6)
             AS v_snips,
           ROUND(CAST(f.sum_w AS DOUBLE) * CAST(f.sum_w AS DOUBLE)
                 / CAST(f.sum_w2 AS DOUBLE), 2) AS ess,
           ROUND(f.max_w, 6) AS max_weight
    FROM folded f CROSS JOIN tot t
    """,
    doc=(
        "Off-policy evaluation: IPS and self-normalized (SNIPS) value "
        "estimates of a purchase-boosting target policy from logged "
        "events, with effective-sample-size and max-weight diagnostics — "
        "the counterfactual 'what would the new policy earn' readout."
    ),
)
def events_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual evaluation without an experiment: importance-weight
    the logged rewards by π_target/π_behavior (Horvitz–Thompson / IPS);
    SNIPS divides by the realized weight mass instead of N, trading a
    little bias for much less variance when weights are lumpy. The two
    diagnostics every off-policy readout must ship: effective sample
    size (Σw)²/Σw² — how many 'real' samples the reweighting left — and
    the max weight, the single number that says one rare action
    dominates the estimate. Behavior propensities are Laplace-smoothed
    empirical shares (α=IPS_ALPHA=10), the standard recovery when the
    logger didn't record them.

    Determinism: per-action n/Σr are exact; weights are pinned doubles
    from exact counts; the |actions|-row folds quantize each term to
    DECIMAL(28,6) before summing (order-free), and every output is one
    pinned expression.

    Scale shape: ONE map-side-combined |actions|-row aggregation over
    the archive, then arithmetic on ≤|actions| rows — the entire
    counterfactual readout costs one pass, which is why IPS variants
    (not replayed simulations) are the 100 TB off-policy tool."""
    e = load_table(spark, sf_dir, "events")
    acts = e.groupBy(F.col("event_type").alias("a")).agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_r"),
    )
    tot = acts.agg(
        F.sum("n_a").cast("bigint").alias("n"),
        F.count(F.lit(1)).alias("n_actions"),
        F.sum("sum_r").alias("sum_r_all"),
    )
    w = acts.crossJoin(F.broadcast(tot)).withColumn(
        "w_a",
        (
            F.when(F.col("a") == "purchase", F.lit(IPS_BOOST)).otherwise(
                F.lit(IPS_BOOST) / (F.col("n_actions") - 1.0)
            )
        )
        / (
            (F.col("n_a") + float(IPS_ALPHA))
            / (F.col("n") + float(IPS_ALPHA) * F.col("n_actions"))
        ),
    )
    folded = w.agg(
        F.max("n").alias("n"),
        F.max("n_actions").alias("n_actions"),
        F.sum(
            F.round(F.col("w_a") * F.col("sum_r").cast("double"), 6).cast(
                "decimal(28,6)"
            )
        ).alias("ips_num"),
        F.sum(
            F.round(F.col("w_a") * F.col("n_a"), 6).cast("decimal(28,6)")
        ).alias("sum_w"),
        F.sum(
            F.round(F.col("w_a") * F.col("w_a") * F.col("n_a"), 6).cast(
                "decimal(28,6)"
            )
        ).alias("sum_w2"),
        F.max("w_a").alias("max_w"),
    )
    return folded.crossJoin(F.broadcast(tot.select("sum_r_all"))).select(
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_actions").cast("bigint").alias("n_actions"),
        F.round(F.col("sum_r_all").cast("double") / F.col("n"), 6).alias(
            "v_logged"
        ),
        F.round(F.col("ips_num").cast("double") / F.col("n"), 6).alias("v_ips"),
        F.round(
            F.col("ips_num").cast("double") / F.col("sum_w").cast("double"), 6
        ).alias("v_snips"),
        F.round(
            F.col("sum_w").cast("double")
            * F.col("sum_w").cast("double")
            / F.col("sum_w2").cast("double"),
            2,
        ).alias("ess"),
        F.round(F.col("max_w"), 6).alias("max_weight"),
    )


# --- Kaplan-Meier time-to-conversion with right-censoring ---------------------------

KM_HORIZON_H = 24  # fixed follow-up window (hours) per user


@register(
    "events_kaplan_meier",
    f"""
    WITH u AS (
      SELECT user_id, MIN(ts) AS enroll,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fb
      FROM events GROUP BY user_id),
    obs AS (
      SELECT user_id,
             CASE WHEN fb IS NOT NULL
                       AND date_diff('hour', enroll, fb) <= {KM_HORIZON_H}
                  THEN date_diff('hour', enroll, fb)
                  ELSE {KM_HORIZON_H} END AS t,
             CASE WHEN fb IS NOT NULL
                       AND date_diff('hour', enroll, fb) <= {KM_HORIZON_H}
                  THEN 1 ELSE 0 END AS event
      FROM u),
    times AS (
      SELECT t, COUNT(*) AS n_t, SUM(event) AS d_t
      FROM obs GROUP BY t),
    risk AS (
      SELECT t, n_t, d_t,
             (SELECT COUNT(*) FROM obs)
               - SUM(n_t) OVER (ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)
               + n_t AS n_risk
      FROM times),
    km AS (
      SELECT t, n_risk, d_t,
             EXP(SUM(LN(1.0 - CAST(d_t AS DOUBLE) / n_risk))
                 OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS s
      FROM risk WHERE d_t > 0)
    SELECT t AS hours_to_purchase,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d_t AS BIGINT) AS n_converted,
           ROUND(s, 6) AS survival
    FROM km
    """,
    doc=(
        f"Kaplan-Meier time-to-first-purchase with right-censoring at a "
        f"{KM_HORIZON_H} h follow-up horizon: non-converters stay in the "
        "risk set instead of vanishing — the unbiased conversion-latency "
        "curve the converters-only percentile face cannot give."
    ),
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_conversion_latency`` reports percentiles over users who
    DID convert — survivorship-biased low, because slow converters are
    disproportionately still unconverted when you look. Kaplan-Meier
    (1958) fixes it: each user contributes an observation (t, event)
    where non-converters are right-CENSORED at the follow-up horizon —
    they leave the risk set without registering a conversion — and
    S(t) = Π_(u≤t) (1 − d_u/n_u) over conversion times only. 1 − S(t) is
    the unbiased 'converted within t hours' curve. The fixed per-user
    horizon (administrative censoring) is the standard design when every
    user gets equal follow-up; staggered-entry censoring is the same
    code with a per-user horizon expression.

    Determinism: hour arithmetic is exact integer date math; the
    product-limit runs as exp(Σ ln(1−d/n)) over an ORDERED window
    (running aggregates accumulate in frame order in both engines — the
    running-total contract) with ln/exp on identical doubles (the
    established libm-parity contract).

    Scale shape: ONE user_id-keyed rollup (map-side combined) reduces
    the archive to one row per user; everything after runs on the
    |distinct times| ≤ horizon dimension — risk-set window, product and
    report are kilobyte-sized at any corpus scale."""
    from trike_spark import cache

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("enroll"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fb"),
    )
    # date_diff('hour', a, b) counts HOUR-BOUNDARY crossings, not elapsed
    # 3600 s floors — truncate both endpoints to the hour first.
    hdiff = (
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("fb")))
            - F.unix_timestamp(F.date_trunc("hour", F.col("enroll")))
        )
        / 3600
    ).cast("bigint")
    converted = F.col("fb").isNotNull() & (hdiff <= KM_HORIZON_H)
    obs = u.select(
        F.when(converted, hdiff).otherwise(F.lit(KM_HORIZON_H)).alias("t"),
        F.when(converted, 1).otherwise(0).alias("event"),
    )
    obs = cache.checkpoint(obs)
    times = obs.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_t"), F.sum("event").alias("d_t")
    )
    n_total = obs.agg(F.count(F.lit(1)).alias("n_users"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        times.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk", F.col("n_users") - F.sum("n_t").over(w) + F.col("n_t")
        )
        .filter(F.col("d_t") > 0)
    )
    s = F.exp(
        F.sum(F.log(1.0 - F.col("d_t").cast("double") / F.col("n_risk"))).over(w)
    )
    return risk.select(
        F.col("t").alias("hours_to_purchase"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d_t").cast("bigint").alias("n_converted"),
        F.round(s, 6).alias("survival"),
    )


# --- geofence entries (spatial stream-static containment) ---------------------------

GEO_PLANE_M = 1_000_000


def _sql_zone_boxes() -> str:
    """Five deterministic rectangular zones derived from the region keys."""
    return """
    zones AS (
      SELECT r_regionkey AS zone_id,
             r_regionkey * 150000 AS xmin,
             r_regionkey * 150000 + 120000 AS xmax,
             100000 + r_regionkey * 120000 AS ymin,
             200000 + r_regionkey * 120000 AS ymax
      FROM region)
    """


@register(
    "events_geofence_entries",
    f"""
    WITH {_sql_zone_boxes()},
    pos AS (
      SELECT user_id, ts,
             {{hx}} % {GEO_PLANE_M} AS x,
             {{hy}} % {GEO_PLANE_M} AS y
      FROM events),
    hits AS (
      SELECT p.user_id, z.zone_id, p.ts
      FROM pos p JOIN zones z
        ON p.x >= z.xmin AND p.x < z.xmax
       AND p.y >= z.ymin AND p.y < z.ymax)
    SELECT user_id, zone_id, MIN(ts) AS first_entry_ts,
           CAST(COUNT(*) AS BIGINT) AS n_pings_inside
    FROM hits GROUP BY user_id, zone_id
    """.replace(
        "{hx}",
        "CAST(('0x' || substr(md5('px' || CAST(event_id AS VARCHAR)), 1, 15))"
        " AS BIGINT)",
    ).replace(
        "{hy}",
        "CAST(('0x' || substr(md5('py' || CAST(event_id AS VARCHAR)), 1, 15))"
        " AS BIGINT)",
    ),
    doc=(
        "Geofence entry detection: event positions (synthetic meters) "
        "against five broadcast rectangular zones — first-entry timestamp "
        "and ping count per (user, zone); the transit/fleet alerting "
        "primitive."
    ),
)
def events_geofence_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofencing — 'tell me when a vehicle/user enters a zone' — is the
    canonical spatial-stream primitive of the transit domain this
    engine's reference lives in (trike proxies vehicle OCS messages; the
    obvious downstream consumer is exactly this query). The face pins
    the semantics: containment against a BROADCAST zone dimension (zones
    are always tiny next to the ping stream) and first-entry = MIN(event
    time) per (user, zone).

    Determinism: positions are md5-derived integer meters; containment
    is integer range predicates; first-entry is an exact MIN over
    timestamps.

    Scale shape: the zone table broadcasts (a real system has 10²–10⁴
    zones — still broadcast-sized); the containment join is a narrow
    broadcast-probe fused after the scan (no shuffle on the ping side);
    the only exchange is the final (user, zone)-keyed rollup with
    map-side combine."""
    from trike_spark.queries.dedup import _h60

    e = load_table(spark, sf_dir, "events")
    r = load_table(spark, sf_dir, "region")
    zones = r.select(
        F.col("r_regionkey").alias("zone_id"),
        (F.col("r_regionkey") * 150000).alias("xmin"),
        (F.col("r_regionkey") * 150000 + 120000).alias("xmax"),
        (100000 + F.col("r_regionkey") * 120000).alias("ymin"),
        (200000 + F.col("r_regionkey") * 120000).alias("ymax"),
    )
    pos = e.select(
        "user_id",
        "ts",
        (_h60(F.concat(F.lit("px"), F.col("event_id").cast("string"))) % GEO_PLANE_M).alias("x"),
        (_h60(F.concat(F.lit("py"), F.col("event_id").cast("string"))) % GEO_PLANE_M).alias("y"),
    )
    hits = pos.join(
        F.broadcast(zones),
        (pos.x >= zones.xmin)
        & (pos.x < zones.xmax)
        & (pos.y >= zones.ymin)
        & (pos.y < zones.ymax),
    )
    return hits.groupBy("user_id", "zone_id").agg(
        F.min("ts").alias("first_entry_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_pings_inside"),
    )


# --- Theil-Sen robust trend ----------------------------------------------------------


@register(
    "events_theil_sen_trend",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS c
      FROM events GROUP BY 1),
    idx AS (
      SELECT c, CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                     AS DOUBLE) AS d
      FROM daily),
    slopes AS (
      SELECT (b.c - a.c) / (b.d - a.d) AS s
      FROM idx a JOIN idx b ON b.d > a.d),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CAST(d AS DECIMAL(18,6))) AS sx,
             SUM(CAST(c AS DECIMAL(18,6))) AS sy,
             SUM(CAST(d AS DECIMAL(18,6)) * CAST(c AS DECIMAL(18,6))) AS sxy,
             SUM(CAST(d AS DECIMAL(18,6)) * CAST(d AS DECIMAL(18,6))) AS sxx
      FROM idx)
    SELECT CAST(mom.n AS BIGINT) AS n_days,
           CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
           ROUND((SELECT median(s) FROM slopes), 6) AS theil_sen_slope,
           ROUND((mom.n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (mom.n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS ols_slope
    FROM mom
    """,
    doc=(
        "Theil-Sen robust trend of daily event volume: the median of all "
        "pairwise day-slopes (breakdown point 29 %) beside the OLS slope "
        "one outage day can drag anywhere — the robust regression "
        "companion to the closed-form OLS face."
    ),
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is traffic growing? OLS answers fastest but one logging outage or
    backfill spike owns the fit; the Theil-Sen estimator — median of the
    C(n,2) pairwise slopes — ignores up to ~29 % corrupted days entirely
    (it is the default robust trend in environmental/ops statistics).
    Both slopes ship side by side: when they diverge, the DIFFERENCE is
    the anomaly alarm.

    Determinism: daily counts exact; day indices exact integers; each
    pairwise slope is one pinned double division; the median is an order
    statistic under the percentile ↔ quantile_cont parity the winsorize
    face pins; OLS comes from DECIMAL-exact moment sums.

    Scale shape: the corpus reduces to ONE map-side-combined |days|-row
    rollup; the pairwise join runs on the DAY dimension (C(30,2) = 435
    rows — at years of history C(1000,2) ≈ 500 k slope rows, still
    dimension-sized); the median runs over that slope table, never over
    events."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    mn = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        "c", F.datediff("day", "d0").cast("double").alias("d")
    )
    from trike_spark import cache

    idx = cache.checkpoint(idx)
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("b.d") > F.col("a.d")).select(
        ((F.col("b.c") - F.col("a.c")) / (F.col("b.d") - F.col("a.d"))).alias("s")
    )
    ts_agg = slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("theil_sen_slope"),
    )
    dd = F.col("d").cast("decimal(18,6)")
    cc = F.col("c").cast("decimal(18,6)")
    mom = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dd).alias("sx"),
        F.sum(cc).alias("sy"),
        F.sum(dd * cc).alias("sxy"),
        F.sum(dd * dd).alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return mom.crossJoin(F.broadcast(ts_agg)).select(
        n.cast("bigint").alias("n_days"),
        "n_pairs",
        "theil_sen_slope",
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("ols_slope"),
    )
