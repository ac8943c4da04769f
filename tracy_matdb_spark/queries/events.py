"""Event-time windowing + as-of join on the events table.

The reference has no streaming engine (SURVEY.md §2.11); these are the
north-star additions. Each batch query here has a DuckDB oracle; the
genuine Structured Streaming forms (readStream + watermark) live in
tracy_matdb_spark/streaming/windows.py and are asserted equal to these
batch results in tests/test_streaming.py (the classic batch/stream
unification property of Spark).

Timestamps: the driver's testdata has shipped events.ts as both parquet
TIMESTAMP(NANOS) and plain TIMESTAMP(MICROS)/NTZ; catalog.load_events
normalizes either generation to the same fixed-order pair (`ts_ns`
BIGINT epoch nanos for exact arithmetic, `ts` micros TimestampType for
window()/session_window()), and DuckDB reads the same file natively at
micros — so both engines agree on micros either way. Window starts are
output as epoch seconds BIGINTs (portable, no session-timezone surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tracy_matdb_spark.catalog import gated_local_checkpoint, load_events
from tracy_matdb_spark.queries import register

ROUND2 = "cast(floor(v * cast(100 as double)) as bigint)"
# per-event cents over the raw `value` column; sum(CENTS) is an integer
# fold and therefore accumulation-order free across engines and across
# streaming restarts (the floor-of-float-sum it replaces was not)
CENTS = "cast(floor(value * cast(100 as double)) as bigint)"


@register(
    "events_tumbling_1h",
    headline=True,
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
           event_type,
           count(*) AS n_events,
           cast(sum(cast(floor(value * cast(100 as double)) as bigint)) as bigint)
               AS sum_value_c
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start_s, event_type
    """,
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type via native window() — at scale
    a single hash aggregation keyed by (window, type), map-side partials.
    sum_value_c quantizes each event to cents BEFORE summing (ROUND2
    pattern): the integer sum is fold-order free, so Spark's partial-agg
    merge order, DuckDB's fold order, and a restarted stream's
    state-merge order all land on the same value — floor-of-float-sum
    did not (it sat within ~1e-8 of an integer boundary on this data)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"sum({CENTS})").alias("sum_value_c"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value_c",
        )
        .orderBy("window_start_s", "event_type")
    )


@register(
    "events_sliding_1h_30m",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 1]) AS k),
    assigned AS (
        SELECT ((epoch_us(ts) - k * 1800000000) // 3600000000) * 3600000000
                   + k * 1800000000 AS ws_us,
               event_type, value
        FROM events CROSS JOIN offsets
        WHERE ((epoch_us(ts) - k * 1800000000) // 3600000000) * 3600000000
                   + k * 1800000000 <= epoch_us(ts)
    )
    SELECT ws_us // 1000000 AS window_start_s,
           event_type,
           count(*) AS n_events,
           cast(sum(cast(floor(value * cast(100 as double)) as bigint)) as bigint)
               AS sum_value_c
    FROM assigned
    GROUP BY 1, 2
    ORDER BY window_start_s, event_type
    """,
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 30m slide): each event lands in 2 windows.
    window() expands rows by length/slide — the shuffle grows by that factor,
    which is the real cost model at scale (prefer tumbling + rollup when
    downstream allows)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"sum({CENTS})").alias("sum_value_c"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value_c",
        )
        .orderBy("window_start_s", "event_type")
    )


@register(
    "events_session_10m",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, t,
               CASE WHEN prev_t IS NULL OR t - prev_t > 600000000 THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, t,
               cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           min(t) // 1000000 AS session_start_s,
           max(t) // 1000000 AS session_end_s,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (10-minute inactivity gap) via the gaps-and-islands
    window pattern — partitioned by user, so fully parallel across users;
    the streaming twin uses native session_window() (streaming/windows.py)."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).select("user_id", F.expr("ts_ns div 1000").alias("t"), "event_id")
    w_lag = Window.partitionBy("user_id").orderBy("t", "event_id")
    w_cum = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = ev.withColumn("prev_t", F.lag("t").over(w_lag)).withColumn(
        "new_session",
        F.when(F.col("prev_t").isNull() | (F.col("t") - F.col("prev_t") > 600_000_000), 1).otherwise(0),
    )
    sessions = marked.withColumn("session_id", F.sum("new_session").over(w_cum))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.expr("min(t) div 1000000").alias("session_start_s"),
            F.expr("max(t) div 1000000").alias("session_end_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "asof_join_orders_events",
    oracle="""
    SELECT o_orderkey,
           (SELECT max(epoch_us(e.ts)) FROM events e
            WHERE e.user_id = o.o_custkey % 20 AND e.ts <= TIMESTAMP '2024-01-15 00:00:00'
                  + to_microseconds((o.o_orderkey % 1000) * 60000000)) AS last_event_us
    FROM orders o
    WHERE o.o_orderkey <= 500
    ORDER BY o_orderkey
    """,
)
def asof_join_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one; SURVEY.md §2.5): for each probe
    row, the latest event at-or-before its timestamp. Implemented as a
    union-and-running-max over the merged timeline — one shuffle on the key,
    no range explosion:

        union(events as (key, t, is_event=1), probes as (key, t, is_event=0))
        -> window last_value(event_t where is_event) over (key, order t)
        -> keep probe rows.

    This is the scale-correct pattern (vs. the naive t1<=t2 theta-join,
    which is quadratic per key). Probe timestamps here are synthesized
    deterministically from orderkeys to stay within the events range."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).select(
        (F.col("user_id")).alias("k"),
        F.expr("ts_ns div 1000").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
    )
    orders = load(spark, sf_dir)
    probes = orders.selectExpr(
        "o_custkey % 20 AS k",
        # 2024-01-15 00:00:00 UTC epoch micros + orderkey-derived offset
        "cast(1705276800000000 + (o_orderkey % 1000) * 60000000 as bigint) AS t",
        "cast(0 as int) AS is_event",
        "o_orderkey",
    ).filter("o_orderkey <= 500")
    merged = ev.unionByName(probes)
    w = (
        Window.partitionBy("k")
        .orderBy("t", F.col("is_event").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # running max of event timestamps only (events sort before probes at equal t)
    last_ev = F.max(F.when(F.col("is_event") == 1, F.col("t"))).over(w)
    return (
        merged.withColumn("last_event_us", last_ev)
        .filter(F.col("is_event") == 0)
        .select("o_orderkey", "last_event_us")
        .orderBy("o_orderkey")
    )


def load(spark: SparkSession, sf_dir: str):
    from tracy_matdb_spark.catalog import load as _load

    return _load(spark, sf_dir, ("orders",))["orders"]


@register(
    "events_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           cast(sum(cast(floor(value * cast(100 as double)) as bigint)) as bigint)
               AS sum_value_c
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running totals over the finite event stream, equal to the "
    "batch aggregation (SURVEY §2.11 incremental surface)",
)
def events_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_user_totals,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_completion(
        stateful_user_totals(ev),
        "stateful_totals_q",
        mode="update",
        registry_name="events_stateful_totals",
    )
    return out.orderBy("user_id")


@register(
    "scd2_user_state",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), runs AS (
        SELECT *, sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
        FROM ordered
    ), iv AS (
        SELECT user_id, event_type, version,
               min(ts_us) AS valid_from_us,
               cast(count(*) as bigint) AS n_events
        FROM runs GROUP BY user_id, event_type, version
    )
    SELECT user_id, cast(version as bigint) AS version, event_type,
           valid_from_us,
           coalesce(lead(valid_from_us)
                    OVER (PARTITION BY user_id ORDER BY version),
                    cast(-1 as bigint)) AS valid_to_us,
           (lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
            IS NULL) AS is_current,
           n_events
    FROM iv
    ORDER BY user_id, version
    """,
    doc="SCD Type-2 dimension build: per-user event_type change history "
    "collapsed to validity intervals [valid_from, valid_to) with version "
    "numbers and an is_current flag — the classic warehouse/feature-store "
    "temporal-dimension op (gaps-and-islands: lag change flags -> running "
    "version -> interval rollup -> lead close-out; every window keyed by "
    "user_id, no global sort)",
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    # order by micros + event_id on BOTH sides: DuckDB reads the nanos
    # generation truncated to micros, so micros ordering is the shared one
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    runs = (
        ev.select(
            "user_id",
            "event_type",
            F.expr("ts_ns div 1000").alias("ts_us"),  # integer div: doubles lose epoch-nanos exactness
            "event_id",
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "version",
            F.sum("chg").over(
                Window.partitionBy("user_id")
                .orderBy("ts_us", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    iv = runs.groupBy("user_id", "event_type", "version").agg(
        F.min("ts_us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from_us").over(wv)
    return (
        iv.select(
            "user_id",
            F.col("version").cast("long").alias("version"),
            "event_type",
            "valid_from_us",
            F.coalesce(nxt, F.lit(-1).cast("long")).alias("valid_to_us"),
            nxt.isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


@register(
    "events_stateful_totals_tws",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           cast(sum(cast(floor(value * cast(100 as double)) as bigint)) as bigint)
               AS sum_value_c,
           cast(max(cast(floor(value * cast(100 as double)) as bigint)) as bigint)
               AS max_value_c
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Spark 4 typed-state streaming operator "
    "(transformWithStateInPandas + RocksDB state store, protobuf state "
    "protocol via the vendored runtime when the pip package is absent): "
    "per-user totals over the finite event stream, equal to the batch "
    "aggregation (SURVEY §2.11; successor API of events_stateful_totals)",
)
def events_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_user_totals_tws,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, sf_dir)
        out = run_to_completion(
            stateful_user_totals_tws(ev),
            "stateful_totals_tws_q",
            mode="update",
            registry_name="events_stateful_totals_tws",
        )
        # the memory-sink table survives the provider reset below; the
        # returned plan reads from it, not from the stream
        out = out.orderBy("user_id").localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    return out


@register(
    "events_typemap_tws",
    oracle="""
    SELECT user_id, cast(count(DISTINCT event_type) as bigint) AS n_types,
           cast(sum(cast(round(value * 100) as bigint)) as bigint) AS sum_cents,
           cast(count(*) as bigint) AS n_values,
           cast(max(cast(round(value * 100) as bigint)) as bigint) AS max_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="ListState + MapState typed-state coverage "
    "(transformWithStateInPandas): per-user event_type map of "
    "(count, cents) plus a cents ListState, read back through the "
    "state-server protocol for emission — every protobuf message "
    "family (value/list/map state calls) crosses the boundary; "
    "integer-cents state makes the batch oracle exact regardless of "
    "row/batch order",
)
def events_typemap_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_typemap_tws,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, sf_dir)
        out = run_to_completion(
            stateful_typemap_tws(ev),
            "typemap_tws_q",
            mode="update",
            registry_name="events_typemap_tws",
        )
        out = out.orderBy("user_id").localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    return out


@register(
    "events_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Exact distinct-count per event type. Catalyst rewrites "
    "count(DISTINCT) into the two-phase expand plan: partial dedupe on "
    "(event_type, user_id) — a high-cardinality, skew-free key — then "
    "count per type. That built-in rewrite IS the salted two-stage "
    "pattern a 100 TB distinct-count needs; the approximate path at "
    "scale is approx_count_distinct(user_id, rsd) on the same plan "
    "shape, traded off per use (exact registered here for the oracle)",
)
def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "events_salted_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Salted exact distinct-count (operators/skew.py): shard each "
    "event_type by hash(user_id) % 16, count distinct users per shard, "
    "sum the shard counts. Sharding on the distinct column itself means "
    "no user spans shards, so the shard-count sum is exact — and the "
    "widest per-task state is 1/16th of the hottest key. Oracle is the "
    "plain COUNT(DISTINCT): same answer, skew-proof plan",
)
def events_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.skew import salted_agg

    ev = load_events(spark, sf_dir)
    out = salted_agg(
        ev,
        keys=["event_type"],
        shard_on="user_id",
        stage1=[
            F.countDistinct("user_id").alias("u"),
            F.count(F.lit(1)).alias("c"),
        ],
        stage2=lambda _: [
            F.sum("u").alias("n_users"),
            F.sum("c").alias("n_events"),
        ],
        n_salts=16,
    )
    return out.orderBy("event_type")


# ---------------------------------------------------------------------------
# Bounded range join (interval join; SURVEY.md §2.5 gap in native Spark)
# ---------------------------------------------------------------------------

RANGE_US = 600_000_000  # 10 minutes in microseconds


@register(
    "events_range_join_10m",
    oracle=f"""
    SELECT e.event_id,
           cast(count(c.event_id) as bigint) AS n_clicks_10m
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id
     AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(e.ts) - {RANGE_US}
     AND epoch_us(c.ts) <  epoch_us(e.ts)
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    ORDER BY e.event_id
    """,
)
def events_range_join_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: for each error event, count the same user's
    clicks in the preceding 10 minutes. The naive form is a per-key
    theta-join (quadratic on hot users — the plan sweep forbids it); the
    scale form here buckets time into range-width bins and joins on
    (user_id, bucket) with each probe exploding into its two candidate
    buckets, so the equi-join carries the range predicate as a residual
    filter. Fan-out is exactly 2x probes, state per task is one bucket's
    events — bounded regardless of corpus size (the streaming twin is
    Spark's stream-stream interval join with watermarks)."""
    ev = load_events(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("t")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.expr("ts_ns div 1000").alias("ct")
    )
    b = F.lit(RANGE_US)
    tb = F.expr(f"t div {RANGE_US}")
    probes = err.withColumn("bkt", F.explode(F.array(tb - 1, tb))).alias("p")
    builds = clk.withColumn("bkt", F.expr(f"ct div {RANGE_US}")).alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.bkt") == F.col("c.bkt"))
        & (F.col("c.ct") >= F.col("p.t") - b)
        & (F.col("c.ct") < F.col("p.t"))
    )
    joined = probes.join(builds, cond, "left")
    return (
        joined.groupBy(F.col("p.event_id"))
        .agg(F.count("click_id").alias("n_clicks_10m"))
        .orderBy("event_id")
    )


@register(
    "events_salted_type_join",
    oracle="""
    SELECT e.event_type,
           cast(count(*) as bigint) AS n_events,
           cast(sum(cast(round(e.value * cast(100 as double)) as bigint) * w.weight_c)
                as bigint) AS weighted_c
    FROM events e
    JOIN (SELECT 'click' AS event_type, 100 AS weight_c UNION ALL
          SELECT 'view', 50 UNION ALL
          SELECT 'purchase', 1000 UNION ALL
          SELECT 'error', 0 UNION ALL
          SELECT 'scroll', 25) w
      ON e.event_type = w.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def events_salted_type_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/skew.py): event_type has ~5 values over
    the whole corpus — the definition of hot keys. Each event is salted
    by hash(event_id) % 16 and the weight dim is replicated per salt, so
    no join task ever sees more than 1/16th of a type. The oracle is the
    plain unsalted join: same result by construction (salt-invariance),
    skew-proof plan (weights held as integer cents so the sum is exact
    and order-independent). Here the dim is literal-tiny (broadcast would do);
    the operator targets the mid-size-dim regime where it can't."""
    from tracy_matdb_spark.operators.skew import salted_join

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * F.lit(100.0)).cast("bigint").alias("value_c"),
    )
    weights = spark.createDataFrame(
        [("click", 100), ("view", 50), ("purchase", 1000), ("error", 0), ("scroll", 25)],
        "event_type string, weight_c long",
    )
    j = salted_join(ev, weights, "event_type", shard_on="event_id", n_salts=16)
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value_c") * F.col("weight_c")).cast("bigint").alias("weighted_c"),
        )
        .orderBy("event_type")
    )


@register(
    "events_distinct_users_approx",
    # An HLL++ sketch is engine-specific, so value parity with DuckDB is
    # impossible by design (same stance as price_percentiles_approx);
    # the checkable contract is the error guarantee vs the exact count,
    # which the Spark side verifies itself and the oracle asserts.
    oracle="""
    SELECT event_type, true AS approx_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="approx_count_distinct (HLL++, rsd=0.01) per event type — the "
    "100 TB path for distinct-user counts: a fixed-size mergeable "
    "sketch per partition, one map-side partial per type, no expand "
    "step and no (type, user) dedupe shuffle like the exact plan. The "
    "query self-checks the sketch against the exact count and returns "
    "the guarantee verdict (|approx - exact| <= 5% of exact), which is "
    "deterministic for a fixed dataset.",
)
def events_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .select(
            "event_type",
            (F.abs(F.col("approx") - F.col("exact")) <= 0.05 * F.col("exact")).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT cast(count(*) as bigint) AS n_users,
           cast(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_signup,
           cast(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                    THEN 1 ELSE 0 END) as bigint) AS n_view_after,
           cast(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                         AND t_click > t_view THEN 1 ELSE 0 END) as bigint) AS n_click_after,
           cast(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                         AND t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END) as bigint) AS n_purchase_after
    FROM u
    """,
    doc="Ordered funnel (signup -> view -> click -> purchase by FIRST "
    "occurrence): one shuffle on user_id computes all four stage "
    "timestamps as conditional min aggregates (map-side partials), then "
    "a single-row rollup counts each ordered prefix. No self-joins — "
    "the k-stage funnel that is usually written as k-1 joins collapses "
    "into one pivoted aggregation, the shape that survives 100 TB.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    stage = lambda s: F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias("t_" + s)
    u = ev.groupBy("user_id").agg(
        stage("signup"), stage("view"), stage("click"), stage("purchase")
    )
    sgn = F.col("t_signup").isNotNull()
    vw = sgn & (F.col("t_view") > F.col("t_signup"))
    ck = vw & (F.col("t_click") > F.col("t_view"))
    pr = ck & (F.col("t_purchase") > F.col("t_click"))
    cnt = lambda c, n: F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(n)
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt(sgn, "n_signup"),
        cnt(vw, "n_view_after"),
        cnt(ck, "n_click_after"),
        cnt(pr, "n_purchase_after"),
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS sum_k,
           cast(max(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS max_k,
           cast(count(*) as bigint) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured JSON property extraction (the props column is a "
    "JSON string, the shape of real event payloads): get_json_object "
    "runs JVM-side inside the scan stage, so extraction is map-only and "
    "the only shuffle is the 5-group rollup. At 100 TB the same query "
    "reads a parsed struct column instead — from_json with an explicit "
    "schema at ingest, extraction for free at query time.",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "zorder_layout_buckets",
    oracle="""
    WITH z AS (
        SELECT ((((ux) & 1)) + ((((dy) & 1)) << 1) + (((((ux) >> 1) & 1)) << 2) + (((((dy) >> 1) & 1)) << 3) + (((((ux) >> 2) & 1)) << 4) + (((((dy) >> 2) & 1)) << 5) + (((((ux) >> 3) & 1)) << 6) + (((((dy) >> 3) & 1)) << 7) + (((((ux) >> 4) & 1)) << 8) + (((((dy) >> 4) & 1)) << 9) + (((((ux) >> 5) & 1)) << 10) + (((((dy) >> 5) & 1)) << 11) + (((((ux) >> 6) & 1)) << 12) + (((((dy) >> 6) & 1)) << 13) + (((((ux) >> 7) & 1)) << 14) + (((((dy) >> 7) & 1)) << 15)) AS zkey, value
        FROM (SELECT (user_id % 256) AS ux,
                     (cast(epoch(ts) as bigint) // 86400) % 256 AS dy,
                     value
              FROM events)
    )
    SELECT cast(zkey // 256 as bigint) AS zbucket,
           cast(count(*) as bigint) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM z
    GROUP BY zbucket
    ORDER BY zbucket
    """,
    doc="Z-order (Morton) layout audit: interleave (user_id, epoch-day) "
    "into a space-filling key and roll up per 256-key bucket — the "
    "write-side clustering that makes BOTH user- and time-range scans "
    "prune at 100 TB (repartitionByRange(zkey) + sortWithinPartitions "
    "at ingest; min/max row-group stats then cut either predicate). "
    "The interleave is pure codegen'd bit arithmetic (operators/"
    "bucketing.py zorder_expr), bit-identical in both engines.",
)
def zorder_layout_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.bucketing import zorder_expr

    ev = load_events(spark, sf_dir)
    z = zorder_expr("spark", "ux", "dy")
    return (
        ev.selectExpr(
            "(user_id % 256) AS ux",
            "(cast(unix_timestamp(ts) as bigint) div 86400) % 256 AS dy",
            "value",
        )
        .selectExpr(f"{z} AS zkey", "value")
        .selectExpr("cast(zkey div 256 as bigint) AS zbucket", "value")
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("zbucket")
    )


@register(
    "user_state_intervals",
    oracle="""
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
               AS is_current
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'error')
    ORDER BY user_id, valid_from, event_id
    """,
    doc="SCD2-style validity intervals: each state-changing event opens "
    "an interval closed by the user's next event (lead over user_id, "
    "deterministic ts+event_id ordering; NULL = current state). The "
    "window partitions on user_id, so interval construction is "
    "embarrassingly parallel — the dimension-history build that turns "
    "an event log into point-in-time joinable state at any scale.",
)
def user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("signup", "purchase", "error")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "event_id")
    )


@register(
    "cdc_latest_compaction",
    oracle="""
    SELECT user_id, event_type, ts AS latest_ts,
           round(value, 2) AS latest_value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    doc="CDC compaction: latest record per (user, event_type) — the "
    "upsert-log -> current-snapshot collapse every incremental table "
    "maintenance runs. One window keyed on the compaction key (high "
    "cardinality, map-side no; but AQE balances the single shuffle); "
    "ties broken by event_id so compaction is deterministic under "
    "replay, the exactly-once property checkpointed sinks rely on.",
)
def cdc_latest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("latest_ts"),
            F.round("value", 2).alias("latest_value"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               cast(count(*) as bigint) AS n
        FROM events GROUP BY event_type, day
    ),
    stats AS (
        SELECT *, avg(n) OVER (PARTITION BY event_type) AS mu,
                  stddev_samp(n) OVER (PARTITION BY event_type) AS sigma
        FROM daily
    )
    SELECT event_type, day, n,
           round((n - mu) / sigma, 4) AS zscore,
           (abs((n - mu) / sigma) > 2.5) AS is_anomaly
    FROM stats
    ORDER BY event_type, day
    """,
    doc="Daily volume anomaly detection: per-type day counts z-scored "
    "against that type's distribution. The expensive pass is the "
    "(type, day) rollup — map-side partials over the raw events; the "
    "mean/stddev window then runs over the tiny aggregated table "
    "(types x days rows), so the single-partition-per-type window "
    "touches rollup rows only, never raw events. The monitoring query "
    "every ingest pipeline runs after each batch.",
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return (
        daily.select(
            "event_type",
            "day",
            "n",
            F.round(z, 4).alias("zscore"),
            (F.abs(z) > 2.5).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Calendar-spine gap filling (time-series densification)
# ---------------------------------------------------------------------------


@register(
    "events_gap_fill_hourly",
    oracle="""
    WITH p AS (
        SELECT date_trunc('hour', ts) AS h, value
        FROM events WHERE event_type = 'purchase'
    ),
    b AS (SELECT min(h) AS lo, max(h) AS hi FROM p),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    c AS (
        SELECT h, count(*) AS n,
               cast(sum(cast(floor(value * cast(100 as double)) as bigint)) as bigint) AS sv
        FROM p GROUP BY 1
    )
    SELECT epoch_us(spine.h) // 1000000 AS hour_s,
           cast(coalesce(n, 0) as bigint) AS n_events,
           cast(coalesce(sv, 0) as bigint) AS sum_value_c
    FROM spine LEFT JOIN c USING (h)
    ORDER BY hour_s
    """,
    doc="Gap filling over a generated calendar spine: hourly purchase "
    "counts densified to every hour between the first and last event, "
    "zero-filled. The spine is sequence()+explode from a 1-row bounds "
    "aggregate — O(time range), independent of data size — so at "
    "100 TB the plan is one keyed agg plus a join of two "
    "O(hours)-sized sides.",
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    hours = ev.select(F.date_trunc("hour", "ts").alias("h"), "value")
    bounds = hours.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    counts = hours.groupBy("h").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({CENTS})").alias("sv"),
    )
    return (
        spine.join(counts, "h", "left")
        .select(
            F.unix_timestamp("h").alias("hour_s"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("sv", F.lit(0)).cast("bigint").alias("sum_value_c"),
        )
        .orderBy("hour_s")
    )


@register(
    "events_gap_fill_locf",
    oracle="""
    WITH p AS (
        SELECT date_trunc('hour', ts) AS h, value
        FROM events WHERE event_type = 'purchase'
    ),
    b AS (SELECT min(h) AS lo, max(h) AS hi FROM p),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    c AS (
        SELECT h, cast(floor(avg(value) * cast(100 as double)) as bigint) AS avg_c
        FROM p GROUP BY 1
    ),
    joined AS (
        SELECT spine.h, avg_c FROM spine LEFT JOIN c USING (h)
    )
    SELECT epoch_us(h) // 1000000 AS hour_s,
           avg_c IS NULL AS filled,
           coalesce(last_value(avg_c IGNORE NULLS)
                    OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    cast(-1 as bigint)) AS locf_avg_c
    FROM joined
    ORDER BY hour_s
    """,
    doc="Last-observation-carried-forward over the calendar spine: "
    "hours with no purchases inherit the most recent hourly average "
    "(-1 before the first observation). The unpartitioned window runs "
    "over the O(time range) spine — bounded by construction, "
    "independent of data size (documented windows-allowlist class); "
    "at scale the spine would be ranged into day slices like "
    "operators/rank.py does for value ranks.",
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    hours = ev.select(F.date_trunc("hour", "ts").alias("h"), "value")
    bounds = hours.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    counts = hours.groupBy("h").agg(
        F.floor(F.avg("value") * F.lit(100).cast("double")).cast("bigint").alias("avg_c")
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(counts, "h", "left")
        .select(
            F.unix_timestamp("h").alias("hour_s"),
            F.col("avg_c").isNull().alias("filled"),
            F.coalesce(
                F.last("avg_c", ignorenulls=True).over(w), F.lit(-1).cast("bigint")
            ).alias("locf_avg_c"),
        )
        .orderBy("hour_s")
    )


@register(
    "events_variant_props",
    oracle="""
    SELECT event_type,
           cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint)
               AS sum_k,
           cast(count(CASE WHEN json_extract_string(props, '$.tag') IS NOT NULL
                      THEN 1 END) as bigint) AS n_tagged,
           cast(count(*) as bigint) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured extraction through the VARIANT type (new in "
    "Spark 4): parse_json once into a variant column, then typed "
    "variant_get path access — the open-schema successor of "
    "get_json_object (binary-encoded, parsed once, shreddable to "
    "columns by the writer). Same rollup as events_json_props so both "
    "extraction stacks stay cross-checked against the one oracle; "
    "try_variant_get's null on absent paths mirrors "
    "json_extract_string.",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.select("event_type", F.parse_json("props").alias("v"))
        .selectExpr(
            "event_type",
            "variant_get(v, '$.k', 'bigint') AS k",
            "try_variant_get(v, '$.tag', 'string') AS tag",
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.count("tag").cast("long").alias("n_tagged"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


ATTR_WINDOW_S = 7 * 86400  # 7-day lookback


@register(
    "purchase_touch_attribution",
    oracle=f"""
    WITH ev AS (SELECT user_id, event_id, event_type,
                       cast(epoch(ts) as bigint) AS es,
                       cast(epoch(ts) as bigint) * 10000000 + event_id AS ek,
                       event_type IN ('click', 'view', 'signup') AS is_touch
                FROM events),
    attr AS (SELECT user_id, event_id, event_type,
                    arg_min(CASE WHEN is_touch THEN event_type END,
                            CASE WHEN is_touch THEN ek END)
                        OVER w AS first_touch,
                    arg_max(CASE WHEN is_touch THEN event_type END,
                            CASE WHEN is_touch THEN ek END)
                        OVER w AS last_touch
             FROM ev
             WINDOW w AS (PARTITION BY user_id ORDER BY es
                          RANGE BETWEEN {ATTR_WINDOW_S} PRECEDING AND CURRENT ROW))
    SELECT coalesce(first_touch, 'none') AS first_touch,
           coalesce(last_touch, 'none') AS last_touch,
           cast(count(*) as bigint) AS n_purchases
    FROM attr WHERE event_type = 'purchase'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Marketing-style conversion attribution: each purchase credits "
    "the FIRST and LAST touch (click/view/signup) in the user's "
    "preceding 7-day window, rolled up to a (first, last) matrix. "
    "min_by/arg_min over a RANGE-framed window partitioned by user_id "
    "(high-cardinality key, never a global window) with a unique "
    "(epoch, event_id) ordering key so ties cannot differ between "
    "engines; a same-second touch counts (RANGE includes the current "
    "instant). One user-keyed shuffle + a bounded-cell rollup.",
)
def purchase_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "cast(unix_timestamp(ts) as bigint) AS es",
        "cast(unix_timestamp(ts) as bigint) * 10000000 + event_id AS ek",
        "event_type IN ('click', 'view', 'signup') AS is_touch",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-ATTR_WINDOW_S, 0)
    )
    attr = ev.select(
        "user_id",
        "event_type",
        F.expr("min_by(CASE WHEN is_touch THEN event_type END, CASE WHEN is_touch THEN ek END)")
        .over(w)
        .alias("first_touch"),
        F.expr("max_by(CASE WHEN is_touch THEN event_type END, CASE WHEN is_touch THEN ek END)")
        .over(w)
        .alias("last_touch"),
    )
    return (
        attr.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
        .orderBy("first_touch", "last_touch")
    )


@register(
    "weekly_churn",
    oracle="""
    WITH uw AS (SELECT DISTINCT user_id,
                       cast(floor(epoch(ts) / 604800) as bigint) AS wk
                FROM events),
    nxt AS (SELECT user_id, wk,
                   lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
            FROM uw),
    last_wk AS (SELECT max(wk) AS mx FROM uw)
    SELECT wk,
           cast(count(*) as bigint) AS n_active,
           cast(sum(CASE WHEN next_wk IS NULL OR next_wk > wk + 1
                    THEN 1 ELSE 0 END) as bigint) AS n_churned
    FROM nxt CROSS JOIN last_wk
    WHERE wk < mx
    GROUP BY wk ORDER BY wk
    """,
    doc="Weekly churn: users active in epoch-week W with no activity in "
    "W+1 (the final observed week is excluded — churn there is "
    "right-censored). distinct (user, week) -> per-user lead() window "
    "(user-keyed, never global) -> per-week rollup. One shuffle on "
    "user_id, one bounded aggregation; the week-floor arithmetic is "
    "identical integer math in both engines.",
)
def weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    uw = ev.selectExpr(
        "user_id", "cast(floor(unix_timestamp(ts) / 604800) as bigint) AS wk"
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    nxt = uw.withColumn("next_wk", F.lead("wk").over(w))
    last_wk = uw.agg(F.max("wk").alias("mx"))
    return (
        nxt.crossJoin(F.broadcast(last_wk))
        .filter(F.col("wk") < F.col("mx"))
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(
                F.expr("CASE WHEN next_wk IS NULL OR next_wk > wk + 1 THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("n_churned"),
        )
        .orderBy("wk")
    )


@register(
    "capped_running_balance",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               list(delta ORDER BY ek) AS deltas
        FROM (SELECT user_id,
                     cast(epoch(ts) as bigint) * 10000000 + event_id AS ek,
                     CASE WHEN event_type = 'purchase'
                          THEN -cast(round(value * 100) as bigint)
                          ELSE cast(round(value * 100) as bigint) END AS delta
              FROM events) d
        GROUP BY user_id),
    folded AS (
        SELECT user_id,
               list_reduce(list_prepend(cast(0 as bigint), deltas),
                           (acc, x) -> greatest(acc + x, 0)) AS balance_c,
               len(deltas) AS n_events
        FROM ordered)
    SELECT user_id, cast(balance_c as bigint) AS balance_c,
           cast(n_events as bigint) AS n_events
    FROM folded ORDER BY user_id
    """,
    doc="Clamped running balance per user (credits accrue, purchases "
    "deduct, balance floors at zero) — the classic op a plain window "
    "CANNOT express (the clamp makes every step depend on the folded "
    "prior state, not a distributive aggregate). Done JVM-side: "
    "collect each user's deltas in (epoch, event_id) order, then "
    "aggregate()/list_reduce() folds with greatest(acc + x, 0) — "
    "integer cents, so the fold is exact in both engines. Per-user "
    "arrays are bounded by per-user activity (at 100 TB: bound the "
    "fold window by sessionizing first, or run applyInPandasWithState "
    "streaming — events_stateful_totals shows that form).",
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id",
        "cast(unix_timestamp(ts) as bigint) * 10000000 + event_id AS ek",
        "CASE WHEN event_type = 'purchase' THEN -cast(round(value * 100) as bigint) "
        "ELSE cast(round(value * 100) as bigint) END AS delta",
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.expr("sort_array(collect_list(struct(ek, delta)))").alias("ordered"),
        )
        .selectExpr(
            "user_id",
            "aggregate(ordered, cast(0 as bigint), "
            "(acc, x) -> greatest(acc + x.delta, cast(0 as bigint))) AS balance_c",
            "cast(size(ordered) as bigint) AS n_events",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Partition-skew profiler (the salting-factor advisor)
# ---------------------------------------------------------------------------


@register(
    "skew_profile_users",
    oracle="""
    WITH per_key AS (SELECT user_id, cast(count(*) as bigint) AS n_rows
                     FROM events GROUP BY user_id),
    tot AS (SELECT cast(sum(n_rows) as bigint) AS total,
                   cast(count(*) as bigint) AS n_keys
            FROM per_key)
    SELECT per_key.user_id,
           per_key.n_rows,
           (per_key.n_rows * tot.n_keys * 1000000) // tot.total AS skew_ratio_q,
           (per_key.n_rows * tot.n_keys + tot.total - 1) // tot.total AS salt_factor,
           (per_key.n_rows * tot.n_keys * 2) > (tot.total * 3) AS is_hot
    FROM per_key CROSS JOIN tot
    ORDER BY per_key.n_rows DESC, per_key.user_id
    """,
)
def skew_profile_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew profiler for a join/agg key: per-key row counts vs
    the mean, as the millionth-quantized skew ratio, the SALT FACTOR a
    salted repartition would need to level that key (ceil(count/mean) —
    feed it to operators/skew.py's salted paths), and an is_hot flag at
    1.5x mean. This is the diagnosis step BEFORE choosing salting or
    AQE skew-join: run it on the candidate key, read the top ratios.

    Shape: one keyed aggregation (map-side combined) to per-key counts
    — O(keys) rows — then a single-row totals aggregate joined back on
    a constant key as a broadcast hash join (no nested-loop stage, no
    driver collect). All arithmetic is integer, so the profile is
    bit-stable under any partitioning at any scale."""
    ev = load_events(spark, sf_dir)
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    tot = (
        per_key.agg(
            F.sum("n_rows").cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
        )
        .withColumn("__k", F.lit(1))
    )
    return (
        per_key.withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
        .selectExpr(
            "user_id",
            "n_rows",
            "(n_rows * n_keys * 1000000) div total AS skew_ratio_q",
            "(n_rows * n_keys + total - 1) div total AS salt_factor",
            "(n_rows * n_keys * 2) > (total * 3) AS is_hot",
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# Incremental aggregation merge (materialized-view maintenance)
# ---------------------------------------------------------------------------

DELTA_DAY = 19752  # 2024-01-30: the "incoming batch" day; history is before


@register(
    "incremental_agg_merge",
    oracle=f"""
    SELECT event_type,
           cast(count(*) as bigint) AS n_events,
           cast(sum({ROUND2}) as bigint) AS sum_cents,
           cast(sum({ROUND2}) // count(*) as bigint) AS avg_cents
    FROM (SELECT event_type, value AS v FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance by ALGEBRAIC partial re-aggregation:
    per-(event_type, day) partial states (count, sum) are 'stored' for
    history (day < {DELTA_DAY}), the incoming day's partials are computed
    separately, and the final per-type rollup MERGES partials (sum of
    counts, sum of sums) — never rescanning history rows. The oracle is
    the flat full recompute, so the green check is precisely the
    incremental-maintenance correctness property (merge(partials) ==
    recompute(all)) that lets a 100 TB pipeline refresh a rollup from
    one day's delta: O(delta + |state|) instead of O(history).

    Both stages are keyed hash aggregations with map-side combine; the
    stored-state side is lazily checkpointed to make the 'read saved
    state, don't recompute it' shape explicit in the plan. avg derives
    from merged sums (integer division) — the standard algebraic
    decomposition of non-distributive aggregates."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type",
        "(ts_ns div 1000) div 86400000000 AS day",
        "value AS v",
    )
    partial = lambda df: df.groupBy("event_type", "day").agg(  # noqa: E731
        F.count(F.lit(1)).alias("pc"),
        F.sum(F.expr(ROUND2)).alias("ps"),
    )
    state = partial(ev.filter(F.col("day") < DELTA_DAY)).localCheckpoint(eager=False)
    delta = partial(ev.filter(F.col("day") >= DELTA_DAY))
    return (
        state.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pc").cast("long").alias("n_events"),
            F.sum("ps").cast("long").alias("sum_cents"),
        )
        .selectExpr(
            "event_type",
            "n_events",
            "sum_cents",
            "sum_cents div n_events AS avg_cents",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A/B experiment readout with CUPED variance reduction
# ---------------------------------------------------------------------------

AB_CUT_DAY = 19737  # 2024-01-15: pre-period before, post-period after


def _ab_user_sql_duckdb() -> str:
    """Per-user pre/post value sums (cents) + deterministic arm
    assignment by 60-bit md5 of the user id (the hash60 convention);
    the Spark twin builds the same expressions inline over ts_ns."""
    h = "('0x' || substr(md5(concat_ws('|', 'ab', cast(user_id as varchar))), 1, 15))::bigint"
    day = "epoch_us(ts) // 86400000000"
    return (
        f"SELECT user_id, {h} % 2 AS arm, "
        f"cast(coalesce(sum(CASE WHEN {day} < {AB_CUT_DAY} THEN {ROUND2} END), 0) as bigint) AS x, "
        f"cast(coalesce(sum(CASE WHEN {day} >= {AB_CUT_DAY} THEN {ROUND2} END), 0) as bigint) AS y "
        f"FROM {{src}} GROUP BY user_id"
    )


@register(
    "ab_cuped_readout",
    oracle=f"""
    WITH u AS ({_ab_user_sql_duckdb().format(src="(SELECT user_id, ts, value AS v FROM events)")}),
    m AS (SELECT cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS sx,
                 cast(sum(y) as bigint) AS sy, cast(sum(x * x) as bigint) AS sxx,
                 cast(sum(x * y) as bigint) AS sxy
          FROM u),
    adj AS (SELECT u.arm, u.y, u.x,
                   (cast(m.n as double) * m.sxy - cast(m.sx as double) * m.sy)
                     / (cast(m.n as double) * m.sxx - cast(m.sx as double) * m.sx) AS theta,
                   cast(m.sx as double) / m.n AS mean_x
            FROM u CROSS JOIN m)
    SELECT arm,
           cast(count(*) as bigint) AS n_users,
           round(avg(cast(y as double)), 6) AS mean_y,
           round(avg(cast(y as double) - theta * (cast(x as double) - mean_x)), 6) AS mean_y_cuped
    FROM adj GROUP BY arm ORDER BY arm
    """,
)
def ab_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et al.
    2013): users hash deterministically into two arms, the post-period
    per-user value is adjusted by theta * (pre-period - mean) where
    theta = cov(pre, post)/var(pre) from the POOLED population — the
    standard trick that cuts metric variance using pre-experiment data
    without biasing the treatment contrast (theta and mean_x are
    arm-independent).

    Scale shape: per-user pre/post sums are one keyed aggregation over
    the events (integer cents); theta's moment sums (n, sx, sy, sxx,
    sxy) are a second bounded aggregate folded back as literals in the
    Spark plan (the bm25 convention — no row-wise normalizer join); the
    arm rollup is O(2) rows. All doubles derive from exact integer
    moments through the same expression tree in both engines."""
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id", "ts_ns", "value AS v"
    )
    u = ev.selectExpr(
        "user_id",
        "v",
        f"(ts_ns div 1000) div 86400000000 AS day",
    ).groupBy("user_id").agg(
        F.expr(f"coalesce(sum(CASE WHEN day < {AB_CUT_DAY} THEN {ROUND2} END), 0)")
        .cast("long").alias("x"),
        F.expr(f"coalesce(sum(CASE WHEN day >= {AB_CUT_DAY} THEN {ROUND2} END), 0)")
        .cast("long").alias("y"),
    ).selectExpr(
        "user_id",
        "cast(conv(substr(md5(concat_ws('|', 'ab', cast(user_id as string))), 1, 15), 16, 10) as bigint) % 2 AS arm",
        "x",
        "y",
    )
    u = u.localCheckpoint(eager=False)  # moments + readout read one pass
    m = u.selectExpr(
        "count(*) AS n", "sum(x) AS sx", "sum(y) AS sy",
        "sum(x * x) AS sxx", "sum(x * y) AS sxy",
    ).first()
    n, sx, sy, sxx, sxy = (int(m[k]) for k in ("n", "sx", "sy", "sxx", "sxy"))
    theta = f"((cast({n} as double) * {sxy} - cast({sx} as double) * {sy}) / (cast({n} as double) * {sxx} - cast({sx} as double) * {sx}))"
    mean_x = f"(cast({sx} as double) / {n})"
    return (
        u.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("mean_y"),
            F.round(
                F.avg(
                    F.col("y").cast("double")
                    - F.expr(theta) * (F.col("x").cast("double") - F.expr(mean_x))
                ),
                6,
            ).alias("mean_y_cuped"),
        )
        .orderBy("arm")
    )


REVOKED_MOD = 7  # user_id % 7 == 3 simulates a deletion (GDPR erasure) batch


@register(
    "retraction_agg_merge",
    oracle=f"""
    SELECT event_type,
           cast(count(*) as bigint) AS n_events,
           cast(sum({ROUND2}) as bigint) AS sum_cents
    FROM (SELECT event_type, value AS v FROM events WHERE user_id % {REVOKED_MOD} <> 3)
    GROUP BY event_type ORDER BY event_type
    """,
)
def retraction_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE side of incremental view maintenance: a stored rollup
    must honor an erasure request (users with user_id % {REVOKED_MOD}
    == 3) WITHOUT rescanning history — subtract the revoked slice's
    partials from the stored partials (counts and sums are
    self-inverse under subtraction; that is what makes them
    retractable aggregates, unlike min/max which need a rescan or an
    auxiliary structure). The oracle recomputes flat over the
    surviving rows, so the green check is merge(state, -delta) ==
    recompute(remaining) — the GDPR-erasure property a 100 TB rollup
    needs, at O(delta + |state|) cost.

    Both sides are keyed hash aggregations with map-side combine; the
    stored state is lazily checkpointed as in incremental_agg_merge."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "user_id", "value AS v"
    )
    partial = lambda df: df.groupBy("event_type").agg(  # noqa: E731
        F.count(F.lit(1)).alias("pc"), F.sum(F.expr(ROUND2)).alias("ps")
    )
    state = partial(ev).localCheckpoint(eager=False)
    revoked = partial(ev.filter(F.col("user_id") % REVOKED_MOD == 3)).selectExpr(
        "event_type", "-pc AS pc", "-ps AS ps"
    )
    return (
        state.unionByName(revoked)
        .groupBy("event_type")
        .agg(
            F.sum("pc").cast("long").alias("n_events"),
            F.sum("ps").cast("long").alias("sum_cents"),
        )
        .filter(F.col("n_events") > 0)
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Interval union (coverage merge) per user
# ---------------------------------------------------------------------------

IVL_LEN_US = 900_000_000  # each event opens a 15-minute activity interval


@register(
    "interval_union_per_user",
    oracle=f"""
    WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {IVL_LEN_US} AS e
                FROM events),
    o AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_max
          FROM iv),
    isl AS (SELECT user_id, s, e,
                   sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS grp
            FROM o),
    merged AS (SELECT user_id, min(s) AS ms, max(e) AS me
               FROM isl GROUP BY user_id, grp)
    SELECT user_id,
           cast(count(*) as bigint) AS n_intervals,
           cast(sum(me - ms) // 1000000 as bigint) AS covered_s
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def interval_union_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: every event opens a 15-minute activity
    interval; overlapping intervals merge, and the output is each
    user's merged-interval count and total covered seconds — the
    'total active time' metric (and the general union-of-intervals
    primitive behind SLA uptime and sensor-coverage queries).

    The merge is the gaps-and-islands pattern with a RUNNING MAX of
    interval ends (an interval starts a new island only if it begins
    after every earlier end — plain ORDER BY s is wrong when a long
    interval swallows later short ones). Windows partition by user —
    parallel across users at any scale; two keyed aggregations close
    the rollup."""
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id",
        "ts_ns div 1000 AS s",
        f"ts_ns div 1000 + {IVL_LEN_US} AS e",
    )
    byse = Window.partitionBy("user_id").orderBy("s", "e")
    o = ev.withColumn(
        "prev_max",
        F.max("e").over(byse.rowsBetween(Window.unboundedPreceding, -1)),
    )
    isl = o.withColumn(
        "grp",
        F.sum(
            F.when(F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1)
            .otherwise(0)
        ).over(byse.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("user_id", "grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.expr("cast(sum(me - ms) div 1000000 as bigint)").alias("covered_s"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Spatial grid-neighbor join (proximity pairs without a cross join)
# ---------------------------------------------------------------------------

GRID_CELL = 1000  # cell edge in micro-degree units (integer grid)
GRID_R2 = 640_000  # squared distance threshold (800 units)


def _geo_cols(dialect: str) -> tuple[str, str]:
    """Deterministic integer coordinates per user (micro-degree-ish
    units, 0..9999): same md5 arithmetic both engines."""
    cast = "varchar" if dialect == "duckdb" else "string"
    def h(salt: str) -> str:
        if dialect == "duckdb":
            return (f"('0x' || substr(md5(concat_ws('|', '{salt}', "
                    f"cast(user_id as {cast}))), 1, 15))::bigint")
        return (f"cast(conv(substr(md5(concat_ws('|', '{salt}', "
                f"cast(user_id as {cast}))), 1, 15), 16, 10) as bigint)")
    return f"({h('gx')} % 10000)", f"({h('gy')} % 10000)"


@register(
    "spatial_grid_pairs",
    oracle=f"""
    WITH pts AS (SELECT DISTINCT user_id, {_geo_cols("duckdb")[0]} AS x,
                        {_geo_cols("duckdb")[1]} AS y
                 FROM events),
    cells AS (SELECT user_id, x, y, x // {GRID_CELL} AS cx, y // {GRID_CELL} AS cy
              FROM pts),
    a AS (SELECT user_id AS ua, x AS xa, y AS ya,
                 (cx + dx.d) AS ncx, (cy + dy.d) AS ncy
          FROM cells
          CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
          CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy),
    cand AS (SELECT a.ua, c.user_id AS ub, a.xa, a.ya, c.x AS xb, c.y AS yb
             FROM a JOIN cells c ON c.cx = a.ncx AND c.cy = a.ncy
             WHERE a.ua < c.user_id)
    SELECT ua, ub,
           cast((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) as bigint) AS dist2
    FROM cand
    WHERE (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= {GRID_R2}
    ORDER BY ua, ub
    """,
)
def spatial_grid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity self-join without a cross join — the spatial-join
    shape (geohash/H3 bucketing): bucket integer points into
    {GRID_CELL}-unit grid cells, expand each point to its 3x3 cell
    NEIGHBORHOOD (bounded x9 fan-out, the spatial analogue of the LSH
    band explode), hash-join on the cell, and run the exact distance
    predicate only on co-bucketed candidates. The cell edge >= the
    radius guarantees no missed pair (any pair within r spans adjacent
    cells at most).

    Integer coordinates and squared distances keep both engines
    bit-identical; one shuffle keyed on the cell id, candidate count
    bounded by local density x 9 — never O(n^2). At 100 TB this is the
    standard points-within-radius plan; skewed hot cells would take
    the salted path (operators/skew.py)."""
    ev = load_events(spark, sf_dir)
    gx, gy = _geo_cols("spark")
    pts = ev.selectExpr("user_id", f"{gx} AS x", f"{gy} AS y").distinct()
    # probe + build sides read one copy; gated — distinct points scale
    # with the event table (10M events measured fine at 24g, STRESS_SF10;
    # the decade above would hit the same executor-storage cliff the
    # sf100 corpus sweep measured for the text family)
    cells = gated_local_checkpoint(
        pts.selectExpr(
            "user_id", "x", "y",
            f"x div {GRID_CELL} AS cx", f"y div {GRID_CELL} AS cy",
        ),
        sf_dir,
        table="events",
        max_rows=20_000_000,
    )
    # 3x3 neighborhood by exploding a literal offset array: a pure
    # projection (x9 fan-out), no nested-loop join in the plan at all
    a = (
        cells.select(
            F.col("user_id").alias("ua"), F.col("x").alias("xa"),
            F.col("y").alias("ya"), "cx", "cy",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        )
        .select("ua", "xa", "ya", "cx", "cy", "dx",
                F.explode(F.expr("array(-1, 0, 1)")).alias("dy"))
        .selectExpr("ua", "xa", "ya", "cx + dx AS ncx", "cy + dy AS ncy")
    )
    cand = a.join(
        cells.selectExpr("user_id AS ub", "x AS xb", "y AS yb",
                         "cx AS ncx", "cy AS ncy"),
        ["ncx", "ncy"],
    ).filter(F.col("ua") < F.col("ub"))
    return (
        cand.selectExpr(
            "ua", "ub",
            "cast((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) as bigint) AS dist2",
        )
        .filter(F.col("dist2") <= GRID_R2)
        .orderBy("ua", "ub")
    )


# ---------------------------------------------------------------------------
# Bounded EWMA smoothing (finite-window exponential weights)
# ---------------------------------------------------------------------------

EWMA_K = 5  # window depth; alpha = 1/2 so weights are exact dyadics


@register(
    "ewma_user_values",
    oracle=f"""
    WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS t, {ROUND2} AS vc
               FROM (SELECT user_id, event_id, ts, value AS v FROM events)),
    l AS (SELECT user_id, event_id, t, vc,
                 {", ".join(f"lag(vc, {j}) OVER (PARTITION BY user_id ORDER BY t, event_id) AS v{j}" for j in range(1, EWMA_K))}
          FROM s)
    SELECT user_id, event_id,
           cast((vc * 16 {" ".join(f"+ coalesce(v{j}, 0) * {16 >> j}" for j in range(1, EWMA_K))}) //
                (16 {" ".join(f"+ (CASE WHEN v{j} IS NULL THEN 0 ELSE {16 >> j} END)" for j in range(1, EWMA_K))})
                as bigint) AS ewma_c
    FROM l ORDER BY user_id, event_id
    """,
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA (alpha = 1/2, depth {EWMA_K}) of each user's
    event values: weights 16/8/4/2/1 over the last {EWMA_K}
    observations, renormalized at sequence starts where fewer exist.
    True infinite-horizon EWMA is a sequential recurrence (not
    expressible as one window function); the bounded form converges to
    it within 2^-{EWMA_K} and is a PARALLEL per-user window of
    {EWMA_K - 1} lags — the standard trade for distributed smoothing.
    All-integer dyadic weights make both engines bit-identical.

    Windows partition by user_id — fully parallel across users; no
    global sort, no recursion, one shuffle."""
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id", "event_id", "ts_ns div 1000 AS t", "value AS v"
    ).selectExpr("user_id", "event_id", "t", f"{ROUND2} AS vc")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    out = ev
    for j in range(1, EWMA_K):
        out = out.withColumn(f"v{j}", F.lag("vc", j).over(w))
    num = "vc * 16 " + " ".join(
        f"+ coalesce(v{j}, 0) * {16 >> j}" for j in range(1, EWMA_K)
    )
    den = "16 " + " ".join(
        f"+ (CASE WHEN v{j} IS NULL THEN 0 ELSE {16 >> j} END)"
        for j in range(1, EWMA_K)
    )
    return (
        out.selectExpr(
            "user_id", "event_id",
            f"cast(({num}) div ({den}) as bigint) AS ewma_c",
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection over the daily event-rate rollup
# ---------------------------------------------------------------------------

CUSUM_T_Q = 3_000_000  # flag threshold: |cusum| > 3.0 (quantized ppm)


@register(
    "cusum_event_drift",
    oracle=f"""
    WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                          cast(count(*) as bigint) AS n
                   FROM events GROUP BY event_type, day),
    stats AS (SELECT event_type, cast(sum(n) as bigint) AS tot,
                     cast(count(*) as bigint) AS nd
              FROM daily GROUP BY event_type),
    dev AS (SELECT d.event_type, d.day,
                   (d.n * s.nd - s.tot) * 1000000 // s.tot AS dev_q
            FROM daily d JOIN stats s ON d.event_type = s.event_type),
    cs AS (SELECT event_type, day, dev_q,
                  cast(sum(dev_q) OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) as bigint) AS cusum_q
           FROM dev)
    SELECT event_type, cast(day as bigint) AS day, cusum_q,
           (abs(cusum_q) > {CUSUM_T_Q}) AS drift_flag
    FROM cs ORDER BY event_type, day
    """,
)
def cusum_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on daily event rates: per type, the running
    sum of quantized deviations from that type's own mean daily count —
    the classic change-point monitor for pipeline health (a sustained
    rate shift accumulates where day-level anomaly checks see noise).
    Deviations are ppm-quantized integers ((n*days - total)*1e6 div
    total), so the cumulative sum is exact in both engines.

    The running sum is a window over the per-(type, day) ROLLUP —
    O(types x days) rows, the bounded-aggregate window class
    (events_daily_anomaly precedent), never a row-level scan; the two
    aggregations beneath it are keyed with map-side combine."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "(ts_ns div 1000) div 86400000000 AS day"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stats = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("tot"), F.count(F.lit(1)).cast("long").alias("nd")
    )
    dev = daily.join(stats, "event_type").selectExpr(
        "event_type", "day", "(n * nd - tot) * 1000000 div tot AS dev_q"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dev.withColumn("cusum_q", F.sum("dev_q").over(w).cast("long"))
        .selectExpr(
            "event_type", "cast(day as bigint) AS day", "cusum_q",
            f"(abs(cusum_q) > {CUSUM_T_Q}) AS drift_flag",
        )
        .orderBy("event_type", "day")
    )
