"""Structured Streaming pipelines (S1 analog, T1-T3, T5, T7, K6, A7).

The reference's ingest surface is a hand-built direct DStream: the
driver plans bounded per-partition offset ranges each batch
(PulsarHelper.scala:125-170), executors consume exactly that range
(PulsarBoundedConsumer.scala:37-106), and offsets commit only after a
successful Cassandra write (KafkaStreamingService.scala:53-56).
Structured Streaming subsumes each piece (SURVEY.md §2.1/2.11):

- bounded micro-batches → file source + ``maxFilesPerTrigger`` (the
  rate.py planner is the policy analog of the per-partition math);
- offset tracking / commit-after-success → checkpointLocation: the
  batch is committed to the WAL only after ``foreachBatch`` returns,
  so a crash replays it — paired with the idempotent keyed upsert sink
  (sources/sinks.py) this is the same exactly-once-ish contract (T3);
- recovery → restart with the same checkpoint dir (T7);
- late data → ``withWatermark`` + windowed aggregation (T5), replacing
  the reference's re-scan-today workaround;
- per-batch record counts (A7) → StreamingQueryProgress.numInputRows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import col
from pyspark.sql.streaming import StreamingQuery

from pulsar_spark_spark.sources.sinks import upsert_parquet


def stream_events(
    spark: SparkSession,
    input_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-backed micro-batch source (S1 analog).

    ``maxFilesPerTrigger`` bounds each batch the way the reference's
    offset-range ``batchSize`` does; the checkpoint tracks which files
    are consumed the way the cursor tracked message ids.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    ending_offsets: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Option map for the Kafka source (S4/S6), unit-testable without
    a broker.

    Contract mapping from the reference:
    - stored-offsets-else-largest (KafkaPipeline.scala:26-43): in
      Structured Streaming the CHECKPOINT owns the resume position;
      ``startingOffsets`` applies only to a fresh query — identical
      precedence to the reference's ZK-lookup-else-``largest``.
      Explicit per-partition resume = a JSON offsets string, e.g.
      '{"topic":{"0":42,"1":-1}}'.
    - per-partition rate clamp (maxRatePerPartition,
      StreamingAppNew.scala:31): ``maxOffsetsPerTrigger`` is the
      total-per-batch form (Spark splits it across partitions ∝
      backlog, the same proportional policy as rate.py).
    - bounded batch read over [start, end) (S6,
      KafkaCassandraConsistencyChecker.scala:134-135): pass
      ``ending_offsets`` and use ``spark.read`` instead of
      ``readStream``.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # the reference's consistency checker tolerates retention gaps
        # rather than failing the app (it reports them)
        "failOnDataLoss": "false",
    }
    if ending_offsets is not None:
        opts["endingOffsets"] = ending_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def parse_kafka_events(records: DataFrame, schema) -> DataFrame:
    """Kafka record envelope → typed event rows (P1 over the S4 path).

    ``records`` has the Kafka source's fixed shape (key/value BINARY,
    topic, partition, offset, timestamp). JSON-decodes ``value``
    against ``schema`` and keeps the envelope columns the reference
    carries through its (topic, json) tuples. Works identically on a
    batch DataFrame, which is how it is tested without a broker.
    """
    return records.select(
        col("topic"),
        col("partition"),
        col("offset"),
        col("timestamp").alias("ingest_ts"),
        F.from_json(col("value").cast("string"), schema).alias("j"),
    ).select("topic", "partition", "offset", "ingest_ts", "j.*")


def stream_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka-format twin of :func:`stream_events` (S4).

    Same downstream contract (typed event rows; checkpoint owns the
    resume position; rate bounded per trigger) with the broker as the
    source instead of files. No broker exists in this sandbox, so the
    reader construction is exercised via :func:`kafka_reader_options`
    and the parse via :func:`parse_kafka_events` in pytest.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers,
        topic,
        starting_offsets,
        max_offsets_per_trigger=max_offsets_per_trigger,
    ).items():
        reader = reader.option(k, v)
    return parse_kafka_events(reader.load(), schema)


def read_events_kafka_batch(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema,
    starting_offsets: str,
    ending_offsets: str,
) -> DataFrame:
    """S6: bounded batch read over an explicit offset range."""
    reader = spark.read.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, starting_offsets, ending_offsets
    ).items():
        reader = reader.option(k, v)
    return parse_kafka_events(reader.load(), schema)


def run_dedup_upsert_stream(
    events: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    state_table: str | None = None,
    n_buckets: int = 16,
) -> StreamingQuery:
    """A2-dedup each micro-batch and upsert into keyed parquet state.

    Per batch: keep the newest event per (user_id, event_type) —
    ``max_by`` over (ts, event_id) — then merge into the state table
    keyed on (user_id, event_type) with the event's (ts, event_id) as
    the version. Replayed batches (crash between sink write and WAL
    commit) re-apply the same winners: idempotent, hence the
    commit-after-write guarantee of the reference (T3) without its
    failure window.

    With ``state_table`` set, the state is a (user_id, event_type)-
    bucketed catalog table (sources/bucketed.py::upsert_bucketed): the
    per-batch merge reads the accumulated state bucket-partitioned —
    no Exchange on the state side — and only the micro-batch's
    deduped winners shuffle. Same opt-in as the rescore stream's.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # P8: null-guard before the sink (the reference validates its
        # KV shapes ahead of every Cassandra write); rejected rows are
        # dropped here — route them to a quarantine sink in production.
        from pulsar_spark_spark.sources.adapters import validate_for_sink

        batch_df, _rejected = validate_for_sink(
            batch_df, ["user_id", "event_type", "ts"]
        )
        latest = (
            batch_df.groupBy("user_id", "event_type")
            .agg(
                F.max_by(
                    F.struct("ts", "event_id", "value"),
                    F.struct("ts", "event_id"),
                ).alias("newest")
            )
            .select(
                "user_id",
                "event_type",
                col("newest.ts").alias("ts"),
                col("newest.event_id").alias("event_id"),
                col("newest.value").alias("value"),
            )
            # the version must order EXACTLY like the in-batch max_by
            # — (ts, event_id), not ts alone: with a bare unix_micros
            # version, two same-microsecond events for a key straddling
            # a batch boundary let the LATER-ARRIVING (lower event_id)
            # row win the sink's new-wins-ties rule, violating the A2
            # "newest per (ts, event_id)" contract the batch arm keeps
            .withColumn(
                "version",
                F.struct(
                    F.unix_micros("ts").alias("t"),
                    col("event_id").alias("e"),
                ),
            )
        )
        if state_table:
            from pulsar_spark_spark.sources.bucketed import upsert_bucketed

            upsert_bucketed(
                latest, state_table, state_path,
                ["user_id", "event_type"], "version", n_buckets=n_buckets,
            )
        else:
            upsert_parquet(
                latest, state_path, ["user_id", "event_type"], "version"
            )

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _derived_state_table(state_path: str) -> str:
    """Deterministic catalog-table base for a state path — one private
    namespace per state location, so the bucketed default needs no
    caller-supplied name and concurrent streams on different paths
    never collide."""
    import hashlib

    return "geotag_state_" + hashlib.md5(state_path.encode()).hexdigest()[:12]


# Size gate for the ``state_table="auto"`` default (round 9): below
# this much committed state, the bucketed arm's per-version catalog
# DDL costs about what its deleted state-side shuffle saves (measured
# round 8 — at MB-scale state the two are within noise, with the DDL
# a fixed per-batch tax), so "auto" uses the plain versioned-parquet
# sink until the state outgrows the gate and the no-Exchange merge
# starts paying. The on-disk layout is identical on both arms
# (versioned dirs + pointer), so the switch is transparent: the first
# over-threshold batch reads the plain state via the path fallback and
# commits it as a bucketed catalog table.
_BUCKETED_STATE_MIN_BYTES = 256 * 2**20


def _state_bytes(state_path: str) -> int:
    """Size of the CURRENT committed state version (pointer target) —
    the cheap filesystem probe behind the auto gate."""
    import os

    from pulsar_spark_spark.sources.sinks import _current_version

    try:
        cur = _current_version(state_path)
    except OSError:
        return 0
    if cur is None:
        return 0
    total = 0
    for base, _, files in os.walk(os.path.join(state_path, cur)):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def run_geotag_rescore_stream(
    points: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    history_cap: int = 100,
    state_table: str | None = "auto",
    n_buckets: int = 16,
    bucketed_min_bytes: int = _BUCKETED_STATE_MIN_BYTES,
) -> StreamingQuery:
    """The reference's flagship streaming app, composed end-to-end:
    point stream → per-key history merge → G1 re-score → keyed upsert
    (StreamingAppV3.scala driving GeoTagOptimizedService.scala:74-76,
    165-250).

    ``points`` is a streaming frame of (user_id, event_id, ts_ms,
    lat, lng, accuracy). Each micro-batch:

    1. touches ONLY the batch's keys: the stored state is semi-joined
       to the batch's distinct user_ids before anything else (with a
       Delta/Iceberg state table this is the MERGE's pruned read);
    2. merges state history + new points with the reference's list
       discipline — drop duplicate (lat, lng, accuracy) triples
       keeping the FIRST occurrence, keep the newest ``history_cap``
       — as two window row_numbers sharing one user_id shuffle;
    3. re-scores each touched key with the G1 kernel
       (``apply_best_latlng``: JVM max_by pre-dispatch for guard
       groups, Arrow+Python only for 4..500-point histories);
    4. upserts one record per key — history array + best point +
       version = greatest(stored version, newest batch point as
       (ts_ms, event_id)) — through the crash-safe K1 sink. Replaying a
       batch rebuilds identical records at the same version, and new
       rows win version ties, so the T3 commit-after-write contract
       holds without the reference's failure window.

    The state lives as a BUCKETED catalog table once it is big enough
    to matter (round 9 size gate on the round-8 default;
    sources/bucketed.py::upsert_bucketed, table base derived from
    ``state_path``): both the step-1 semi-join and the step-4 merge
    then read the accumulated state bucket-partitioned on user_id
    with ZERO hash Exchange — only the micro-batch shuffles. At
    100 TB of state vs MB-scale batches that is the dominant
    per-batch shuffle deleted (the no-Exchange plan is pinned in
    tests/test_bucketed.py). Below ``bucketed_min_bytes`` of
    committed state the ``"auto"`` default uses the plain
    versioned-parquet sink instead — at MB-scale state the bucketed
    arm's per-version catalog DDL costs about what the deleted
    shuffle saves (measured round 8), so small states skip the tax
    and the first over-threshold batch upgrades in place (identical
    on-disk layout — versioned dirs + pointer — on both arms; the
    upgrade batch reads the plain state via the path fallback and
    commits it bucketed). ``state_table=None`` opts out entirely (no
    catalog dependency — e.g. a session whose metastore the job may
    not write to); any other string names the table base explicitly
    and is ALWAYS bucketed, gate ignored. Readers using
    sources/sinks.py::read_upsert_table work against every arm.
    """
    from pulsar_spark_spark.operators.grouped import apply_best_latlng
    from pulsar_spark_spark.sources.bucketed import (
        read_upsert_bucketed,
        upsert_bucketed,
    )
    from pulsar_spark_spark.sources.sinks import read_upsert_table

    auto_gate = state_table == "auto"
    if auto_gate:
        state_table = _derived_state_table(state_path)

    upgraded = {"bucketed": False}

    def _bucketed_now() -> bool:
        """Resolved per batch — the state GROWS across batches, so the
        gate can flip mid-stream (plain→bucketed upgrade). The flip is
        one-way (state only grows), so once over threshold the
        decision is memoized: _state_bytes is a driver-side os.walk of
        the whole committed version, and paying it per batch exactly
        when the state is big is the wrong end of the trade."""
        if not state_table:
            return False
        if not auto_gate or bucketed_min_bytes <= 0:
            return True
        if upgraded["bucketed"]:
            return True
        flip = _state_bytes(state_path) >= bucketed_min_bytes
        if flip:
            upgraded["bucketed"] = True
        return flip

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pulsar_spark_spark.operators.checkpoint import materialize
        from pulsar_spark_spark.operators.grouped import _finite_points

        spark = batch_df.sparkSession
        use_bucketed = _bucketed_now()
        # Non-finite coordinates are dropped at ENTRY, not just inside
        # the scoring kernel: without this the history collect_list
        # accumulated points that could never score, and — worse — a
        # user whose batch points were ALL non-finite lost their
        # entire update through the inner join against the
        # NaN-filtered scoring output (silent row loss). Filtering
        # here keeps history and scoring in agreement; an all-invalid
        # batch simply carries no location information and leaves the
        # stored state untouched.
        # evaluated ONCE per trigger: the batch feeds both the state
        # semi-join keys and the history union, and a second scan of
        # the source would also double the trigger's numInputRows
        new_pts = materialize(
            _finite_points(
                batch_df.select(
                    "user_id", "event_id", "ts_ms", "lat", "lng", "accuracy"
                )
            ),
            eager=True,
        )
        # Every point carries a version candidate ``__v``: a batch
        # point its own (ts_ms, event_id), a stored point its record's
        # stored version.
        batch_v = new_pts.withColumn("__v", F.struct("ts_ms", "event_id"))
        try:
            state = (
                read_upsert_bucketed(spark, state_table, state_path)
                if use_bucketed
                else read_upsert_table(spark, state_path)
            )
            state_pts = (
                state.join(new_pts.select("user_id").distinct(), "user_id")
                .select(
                    "user_id", "version", F.explode("history").alias("h")
                )
                .select(
                    "user_id",
                    col("h.event_id").alias("event_id"),
                    col("h.ts_ms").alias("ts_ms"),
                    col("h.lat").alias("lat"),
                    col("h.lng").alias("lng"),
                    col("h.accuracy").alias("accuracy"),
                    col("version").alias("__v"),
                )
            )
            pts = state_pts.unionByName(batch_v)
        except FileNotFoundError:
            pts = batch_v
        from pulsar_spark_spark.plans.geo import dedup_then_cap

        # version is DATA-derived, not the stream's batch_id: batch_id
        # restarts at 0 with a fresh checkpoint dir, and a merge
        # against surviving state would then silently lose to the
        # stored higher versions for every key until the counter
        # caught up. It is greatest(stored version, newest batch
        # point), taken over the union BEFORE dedup and cap: the
        # capped history's own newest point can drop below the stored
        # version (a batch's older duplicate of the stored newest
        # triple replaces it), and the upsert would then keep the old
        # record and lose the update. The max window shares the
        # user_id clustering the dedup and cap windows use, and a
        # replayed batch re-derives the same version, so
        # new-wins-ties keeps replays idempotent.
        pts = pts.withColumn("__v", F.max("__v").over(Window.partitionBy("user_id")))
        capped = dedup_then_cap(pts, "ts_ms", history_cap)
        record = (
            capped.groupBy("user_id")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts_ms", "event_id", "lat", "lng", "accuracy")
                    )
                ).alias("history"),
                F.max("__v").alias("version"),
            )
            .join(apply_best_latlng(capped.drop("__v")), "user_id")
        )
        if use_bucketed:
            # X4/T6 at scale: the state side of the merge arrives
            # bucket-partitioned from the catalog — no Exchange on the
            # accumulated state, only the MB-sized batch shuffles
            upsert_bucketed(
                record, state_table, state_path, "user_id", "version",
                n_buckets=n_buckets,
            )
        else:
            upsert_parquet(record, state_path, ["user_id"], "version")

    return (
        points.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T5: event-time tumbling window with late-data watermark.

    The reference tolerates lateness by re-scanning "today so far"
    every cycle (DeliveryLocationRefinementService.scala:32-38); the
    declarative form bounds state instead: rows later than the
    watermark are dropped, windows finalize exactly once.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def periodic_requery(
    spark: SparkSession,
    query_fn,
    checkpoint_dir: str,
    interval: str = "1 seconds",
    rows_per_second: int = 1,
):
    """S8 analog: a self-triggering periodic re-query.

    The reference drives a re-query of the hot store every batch
    interval with a ConstantInputDStream
    (DeliveryLocationRefinementApp.scala:74-75); here the ``rate``
    source is the clock and ``foreachBatch`` re-runs ``query_fn``
    (batch_id) each tick. Returns the running StreamingQuery — caller
    stops it.
    """

    def tick(_batch_df: DataFrame, batch_id: int) -> None:
        query_fn(batch_id)

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=interval)
        .start()
    )
