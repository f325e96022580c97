"""Event-analytics closure: sessionization, funnels, cohort retention,
and sequence packing (SURVEY §2.5/§2.6 window closure + the charter's
training-data-pipeline mandate).

These generalize the reference's event stream (the `spo` topic's
user/action records, `src/main.cpp:221-256`) into the product-analytics
shapes every event pipeline needs once the graph is materialized.  All
are pure DataFrame plans: one shuffle per window partition key, no UDFs,
whole-stage-codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from consume_kafka_avro_data_spark.functions.parity import dsum, o_dsum
from consume_kafka_avro_data_spark.registry import query
from consume_kafka_avro_data_spark.tables import load_table

from consume_kafka_avro_data_spark.queries.temporal import SESSION_GAP_US


@query(
    "q_sessionize",
    oracle=f"""
    WITH gapped AS (
      SELECT user_id, event_id, value,
             CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY event_id)
                      > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), tagged AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM gapped
    )
    SELECT user_id, session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           {o_dsum("value")} AS sum_value
    FROM tagged
    GROUP BY user_id, session_seq
    """,
    tags=("T6", "W2", "W3"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (T6/W2/W3): materialize one row per user session
    using the >30-min-gap rule, via lag → running sum of session-start
    flags → group.  Where ``q_session_like`` only counts sessions, this
    produces the session table itself (start/end/volume) — the input to
    retention and funnel work.  One shuffle on user_id serves the lag,
    the running sum, and the final aggregate (same partition key); the
    batch twin of a streaming ``F.session_window(ts, '30 minutes')``.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gapped = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            (epoch_us - F.lag(epoch_us).over(w)) > SESSION_GAP_US, 1
        ).otherwise(0).alias("is_new"),
    )
    tagged = gapped.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_seq"),
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("sum_value"),
    )


@query(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.t_click
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
    ) ORDER BY ord
    """,
    tags=("W2", "J3", "A2"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel (view → click → purchase): a user counts
    for a stage only if the stage event occurs at-or-after their first
    event of the previous stage.  Each stage is a filtered min-aggregate
    joined to the previous stage's per-user timestamp — per-user frames
    are one row after stage 1, so the chained joins are cheap shuffle
    hash joins on user_id and the whole funnel reuses one hash
    partitioning.  Scale note: stage tables shrink monotonically, so at
    100 TB the later joins get cheaper, never broader.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, "view")
        .unionByName(stage(c, "view>click"))
        .unionByName(stage(p, "view>click>purchase"))
    )


@query(
    "q_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id,
             CAST(date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS active_day
      FROM events
    )
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, a.active_day) AS INTEGER) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    WHERE date_diff('day', c.cohort_day, a.active_day) <= 14
    GROUP BY 1, 2
    """,
    tags=("A2", "A3", "J3", "P10"),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (A2/A3/J3/P10): users bucketed by first-
    activity day, counted on each later active day up to a 14-day
    horizon.  cohort and activity are both per-user aggregates over the
    same user_id hash partitioning, so the join adds no extra shuffle;
    the final aggregate is over ~cohorts×15 cells — tiny at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    activity = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("active_day")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("active_day", "cohort_day"))
        .filter(F.col("day_offset") <= 14)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE length(string_split_regex(trim(text), '\\s+')) END
                  AS BIGINT) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT lang,
           CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM cum
    GROUP BY lang, bin_id
    """,
    tags=("U7", "W3", "A2"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches (charter training-data op):
    docs are packed in doc_id order into ~2048-token bins per language —
    bin id = floor(preceding cumulative tokens / budget), the contiguous
    first-fit layout a dataloader uses for sample packing.  Partitioned
    by lang so the running sum is shard-parallel (the 100 TB layout packs
    within shards, never globally); token count is a whitespace split
    (JVM regex, no UDF).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.when(F.trim("text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = toks.select(
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return (
        cum.withColumn(
            "bin_id", F.expr("(cum_tokens - n_tokens) div 2048").cast("long")
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


@query(
    "q_interpolate",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             CASE WHEN event_id % 3 = 0 THEN value END AS known
      FROM events
    ), ctx AS (
      SELECT user_id, event_id, t_us, known,
             last_value(known IGNORE NULLS) OVER wp AS v_prev,
             last_value(CASE WHEN known IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER wp AS t_prev,
             first_value(known IGNORE NULLS) OVER wn AS v_next,
             first_value(CASE WHEN known IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER wn AS t_next
      FROM e
      WINDOW wp AS (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id,
           CASE WHEN known IS NOT NULL THEN known
                WHEN v_prev IS NULL THEN v_next
                WHEN v_next IS NULL THEN v_prev
                WHEN t_next = t_prev THEN v_prev
                ELSE v_prev + (v_next - v_prev)
                     * CAST(t_us - t_prev AS DOUBLE)
                     / CAST(t_next - t_prev AS DOUBLE)
           END AS v_interp,
           (known IS NULL) AS was_gap
    FROM ctx
    """,
    tags=("W2", "P10"),
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap interpolation (W2 closure): every third event is
    treated as a known sensor reading and the rest are linearly
    interpolated between the nearest known neighbors in event order —
    boundary gaps take the nearest known value.  Forward context is
    last_value IGNORE NULLS over the preceding frame, backward context
    is first_value over the following frame; both frames share ONE
    user_id shuffle.  The interpolation weight is a ratio of exact
    epoch-µs integers, so both engines produce bit-identical doubles.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.when(F.col("event_id") % 3 == 0, F.col("value")).alias("known"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t_known = F.when(F.col("known").isNotNull(), F.col("t_us"))
    ctx = e.select(
        "user_id",
        "event_id",
        "t_us",
        "known",
        F.last("known", ignorenulls=True).over(wp).alias("v_prev"),
        F.last(t_known, ignorenulls=True).over(wp).alias("t_prev"),
        F.first("known", ignorenulls=True).over(wn).alias("v_next"),
        F.first(t_known, ignorenulls=True).over(wn).alias("t_next"),
    )
    interp = (
        F.when(F.col("known").isNotNull(), F.col("known"))
        .when(F.col("v_prev").isNull(), F.col("v_next"))
        .when(F.col("v_next").isNull(), F.col("v_prev"))
        # equal-timestamp neighbors (ts ties) would divide by zero —
        # hold the previous value, matching the oracle's CASE arm
        .when(F.col("t_next") == F.col("t_prev"), F.col("v_prev"))
        .otherwise(
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * (F.col("t_us") - F.col("t_prev")).cast("double")
            / (F.col("t_next") - F.col("t_prev")).cast("double")
        )
    )
    return ctx.select(
        "user_id",
        "event_id",
        interp.alias("v_interp"),
        F.col("known").isNull().alias("was_gap"),
    )


_PATTERN = (10.0, 20.0, 40.0, 80.0, 40.0, 20.0, 10.0, 5.0)  # spike shape
_PN = len(_PATTERN)
_P_SUM = sum(_PATTERN)
_P_SUMSQ = sum(p * p for p in _PATTERN)


def _ts_pattern_oracle() -> str:
    leads = ",\n             ".join(
        f"lead(value, {i}) OVER w AS v{i}" for i in range(_PN)
    )
    s = " + ".join(f"CAST(v{i} AS DECIMAL(18,4))" for i in range(_PN))
    ssq = " + ".join(
        f"CAST(v{i} AS DECIMAL(18,4)) * CAST(v{i} AS DECIMAL(18,4))"
        for i in range(_PN)
    )
    dot = " + ".join(
        f"CAST(v{i} AS DECIMAL(18,4)) * CAST({_PATTERN[i]!r} AS DECIMAL(18,4))"
        for i in range(_PN)
    )
    return f"""
    WITH leads AS (
      SELECT user_id, event_id,
             {leads}
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ), sums AS (
      SELECT user_id, event_id,
             CAST({s} AS DOUBLE)   AS sv,
             CAST({ssq} AS DOUBLE) AS svv,
             CAST({dot} AS DOUBLE) AS svp
      FROM leads WHERE v{_PN - 1} IS NOT NULL
    )
    SELECT user_id, event_id,
           ({_PN} * svp - sv * {_P_SUM!r})
             / sqrt(({_PN} * svv - sv * sv)
                    * ({_PN} * {_P_SUMSQ!r} - {_P_SUM!r} * {_P_SUM!r}))
             AS score
    FROM sums
    WHERE {_PN} * svv - sv * sv > 0
    ORDER BY score DESC, user_id, event_id
    LIMIT 20
    """


@query("q_ts_pattern", oracle=_ts_pattern_oracle(), tags=("W2", "W5", "U6"))
def q_ts_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window pattern matching over each user's value series
    (time-series similarity search, cf. PAPERS.md EDBT 2019): the
    normalized cross-correlation of every 8-event window against a fixed
    spike template, global top-20 matches.  The window is materialized
    as 8 native lead() columns — NOT an array fold — so the whole score
    is codegen'd; the three window sums go through exact decimal
    arithmetic in fixed expression order, making the correlation (and
    the top-20 cut) bit-identical across engines.  One user_id window
    shuffle + a TakeOrdered heap; at 100 TB the template sweep stays a
    single pass over the partitioned series.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    leads = e.select(
        "user_id",
        "event_id",
        *[F.lead("value", i).over(w).alias(f"v{i}") for i in range(_PN)],
    ).where(F.col(f"v{_PN - 1}").isNotNull())

    # Exact long hundredths (r12 — the functions/parity.py r11 scheme
    # extended to this per-row chain): the decimal form paid 24
    # double→decimal casts (BigDecimal.valueOf → Double.toString) plus
    # 16 decimal multiplies PER ROW.  rint(v·100) recovers the exact
    # integer hundredths of every 2-dp value; products are exact
    # scale-4 longs; per-row sums of 8 terms stay far under 2^53, so
    # the long→double cast is exact and the single /100 (resp. /10000)
    # division is the one correctly-rounded step — the same value the
    # exact decimal sum's double cast produced (bit-compared old-vs-new
    # over all sf0.1 rows).  Pattern hundredths are Python ints, exact
    # by construction.  The DuckDB oracle keeps its decimal form.
    h = [f"CAST(RINT(v{i} * 100.0D) AS BIGINT)" for i in range(_PN)]
    ph = [round(p * 100) for p in _PATTERN]
    sums = leads.select(
        "user_id",
        "event_id",
        F.expr("CAST(" + " + ".join(h) + " AS DOUBLE) / 100.0D").alias("sv"),
        F.expr(
            "CAST("
            + " + ".join(f"{h[i]} * {h[i]}" for i in range(_PN))
            + " AS DOUBLE) / 10000.0D"
        ).alias("svv"),
        F.expr(
            "CAST("
            + " + ".join(f"{h[i]} * {ph[i]}" for i in range(_PN))
            + " AS DOUBLE) / 10000.0D"
        ).alias("svp"),
    )
    n = float(_PN)
    score = (n * F.col("svp") - F.col("sv") * _P_SUM) / F.sqrt(
        (n * F.col("svv") - F.col("sv") * F.col("sv"))
        * (n * _P_SUMSQ - _P_SUM * _P_SUM)
    )
    return (
        # constant windows have zero variance — correlation is undefined
        # and the division would abort under ANSI; drop them like the
        # oracle's WHERE does
        sums.where(n * F.col("svv") - F.col("sv") * F.col("sv") > 0)
        .select("user_id", "event_id", score.alias("score"))
        .orderBy(F.desc("score"), "user_id", "event_id")
        .limit(20)
    )
