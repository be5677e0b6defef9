"""Structured Streaming ingestion pipeline (§3.1 lifecycle, ST1-ST12).

The reference's hand-rolled loop —
``poll → BasicMemoryBuffer → classify → historical handoff → convert →
MiddlewareBuffer → async commit → offset commit`` — collapses onto
Spark Structured Streaming:

- S1 poll + ST1 trigger → ``readStream`` + ``Trigger.ProcessingTime``
  (15 s default, StreamConfig.java:14-15); size caps via
  ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``.
- ST6 TTL dedup → ``withWatermark`` + ``dropDuplicatesWithinWatermark``
  on the partial-parsed ``(_user, _time)`` key (Deduplicator.java:26-88;
  the 1-month RocksDB TTL becomes the watermark delay, and the RocksDB
  state store provider is the literal same engine).
- ST3/ST4 late split → latesplit.split_late inside ``foreachBatch``;
  the historical Kafka topic (K3) becomes a spool directory drained by a
  second slow-trigger query (ST5/S2, KafkaHistoricalWorker.java:157-219).
- R1 fan-out + K1/K5 → ingest_batch + write_collections per micro-batch.
- ST7 checkpoint → ``checkpointLocation`` (stronger than the reference's
  commitSync: file-sink commits are exactly-once).
- ST8 backpressure / ST9 retry / ST10 limiter → Spark-native (unified
  memory manager, task retries) — deliberately no custom code.

The file source here stands in for Kafka: swap
``spark.readStream.format("kafka")…selectExpr("CAST(value AS STRING)")``
for the text source and nothing downstream changes. (No Kafka broker or
connector jar ships in this environment, so the tested source is files —
the semantics exercised are source-independent.)
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rakam_api_collector_spark.ingest.batch import FORMATS, ingest_batch
from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.sinks import (write_collections,
                                             write_collections_grouped)
from rakam_api_collector_spark.streaming.latesplit import split_late


def _event_time_expr(fmt: str, time_field: str = "_time") -> Column:
    """Partial-parse event time for watermarking/dedup (D4): only the
    time field is extracted pre-parse (KafkaDecoupleMessage.java:46-114)."""
    cfg = FORMATS[fmt]
    root = cfg["data"].removeprefix("$.")
    raw = F.get_json_object("value", f"$.{root}.{time_field}" if root
                            else f"$.{time_field}")
    if cfg["numeric_timestamps"]:
        return (F.when(raw.rlike(r"^-?\d+$"),
                       F.timestamp_millis(raw.cast("long")))
                .otherwise(raw.try_cast("timestamp")))
    return raw.try_cast("timestamp")


def _envelope_reject_predicate(fmt: str) -> Column:
    """True for envelope rows the router/parser will drop
    (ingest/batch.py routing filter + from_json map parse): missing
    project/collection/data, collection name empty or >100 chars
    (java:95-103 validation), or unparseable JSON body. The single
    definition both dead-letter spools use, so they cannot drift from
    what the parser actually rejects."""
    cfg = FORMATS[fmt]
    proj = F.lower(F.get_json_object("value", cfg["project"]))
    coll = F.get_json_object("value", cfg["collection"])
    data = F.get_json_object("value", cfg["data"])
    return (proj.isNull() | coll.isNull()
            | (F.length(coll) == 0) | (F.length(coll) > 100)
            | data.isNull()
            | F.expr("from_json(get_json_object(value, "
                     f"'{cfg['data']}'), "
                     "'map<string,variant>')").isNull())


def _spool_dead_letters(bad: DataFrame, errors_dir: str,
                        epoch_id: int, stream: str = "realtime") -> None:
    """Write rejected envelope rows (string ``value``) as replayable
    parquet under ``errors_dir/stream=<name>/epoch_id=<N>/`` with
    overwrite.

    foreachBatch offers at-least-once semantics: a retried micro-batch
    re-runs ``process`` with the SAME epoch_id, so keying the spool by
    epoch and overwriting makes the write idempotent — a replayed epoch
    replaces its own rows instead of appending duplicates. ``stream``
    namespaces the epoch counter: the realtime and historical queries
    each run their own checkpoint (both start at epoch 0), so sharing
    one ``errors_dir`` without the stream key would let one stream's
    epoch-0 overwrite clobber the other's. Empty batches skip the
    write — no per-trigger empty partition dirs. Readers use
    ``spark.read.parquet(errors_dir)`` and get ``stream`` and
    ``epoch_id`` back as discovered partition columns. (A spool
    populated by the pre-epoch append-mode layout has flat files at the
    base level; move them into e.g. ``stream=legacy/epoch_id=0/``
    before pointing the partition-discovery reader at the dir.)"""
    if bad.isEmpty():
        return
    (bad.select("value", F.octet_length("value").alias("n_bytes"))
     .write.mode("overwrite")
     .parquet(f"{errors_dir}/stream={stream}/epoch_id={epoch_id}"))


def _spool_corrupt_frames(batch: DataFrame, errors_dir: str,
                          epoch_id: int, stream: str = "realtime") -> None:
    """Write ``_kind=='corrupt'`` binary frames as replayable parquet
    with cheap forensics columns — same stream/epoch keying, overwrite
    idempotence, and empty-batch skip as ``_spool_dead_letters``."""
    bad = batch.filter(F.col("_kind") == "corrupt")
    if bad.isEmpty():
        return
    (bad.select("value",
                F.octet_length("value").alias("n_bytes"),
                F.hex(F.substring("value", 1, 1)).alias("first_byte_hex"))
     .write.mode("overwrite")
     .parquet(f"{errors_dir}/stream={stream}/epoch_id={epoch_id}"))


def _enable_rocksdb_state(spark: SparkSession) -> None:
    """RocksDB state store + changelog checkpointing, shared by both
    realtime paths (ST6). Changelog checkpointing makes the per-batch
    state COMMIT persist only that batch's change log and snapshot
    asynchronously in the background — without it every state partition
    checkpoints a full RocksDB snapshot per micro-batch. Measured A/B
    at the reference stress shape (30k records/batch, 100 collections,
    local[32]): summed commitTimeMs per batch drops ~2× (14-18 s → 4-9
    s across 32 state partitions); local wall is unchanged because the
    commits overlap cores, but at cluster scale the snapshot uploads
    land on the checkpoint object store, where the changelog's
    proportional-to-batch cost (vs proportional-to-state-size) is the
    difference that keeps a 1-month TTL key space inside a 15 s
    trigger."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled", "true")


def _set_state_partitions(spark: SparkSession,
                          state_partitions: int | None) -> None:
    """Pin the streaming query's state-partition count (ST6 sizing).

    Structured Streaming fixes the stateful operator's partition count
    to ``spark.sql.shuffle.partitions`` AT THE FIRST MICRO-BATCH and
    records it in the checkpoint — so the knob must be set before the
    query plans its first batch, and a restarted query keeps its
    recorded value regardless of session conf. AQE never re-plans
    stateful exchanges (it is disabled for stateful workloads), so
    unlike the batch side there is no runtime coalescing to fall back
    on: an oversized count pays per-partition RocksDB open/commit/
    changelog overhead every trigger with no offsetting parallelism.

    Sizing rule: partitions ≈ keys-per-batch / a-few-thousand, capped
    by executor count. Measured A/B at the reference stress shape
    (30k keys/batch, 100 collections, local[32], loadavg ~22 box): 32
    state partitions → 25-26 s steady batch wall; 8 → 15-16 s; 4 →
    13-15 s (JSON steady max 14.8 s, Avro 13.1 s — both under the
    reference's 15 s trigger budget; STRESS.md) — the per-RocksDB-
    instance commit overhead dominated at ~1k keys per partition. At
    cluster scale with 100× key volume, raise it proportionally (the
    same rule, not the same number).

    Session-scoped by design: the conf applies to every query the
    session starts afterwards — the streaming app owns its session
    (app.start), and the batch side's post-shuffle parallelism is
    governed by AQE's advisory size, not this value."""
    if state_partitions is not None:
        if state_partitions < 1:
            raise ValueError(f"state_partitions must be >= 1, "
                             f"got {state_partitions}")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))


def _maintenance_hook(spark: SparkSession, table_base: str,
                      manifested: bool, maintenance: dict | None):
    """Build the every-N-epochs shard-organizer hook (manifest.
    MaintenanceHook) for a manifested stream; ``maintenance`` is the
    hook's kwargs dict. Rejected on non-manifested sinks — the plain
    append layout has no version protocol to compact."""
    if maintenance is None:
        return None
    if not manifested:
        raise ValueError("maintenance scheduling requires "
                         "manifested=True (the sweep compacts "
                         "version-committed tables)")
    from rakam_api_collector_spark.manifest import MaintenanceHook

    return MaintenanceHook(spark, table_base, **maintenance)


_EPOCH_FILE_RETAIN = 128


def _ckpt_meta(checkpoint: str, meta_store):
    """MetadataStore for the per-epoch bookkeeping this module keeps
    UNDER THE CHECKPOINT (K3 handoff markers, pinned epoch clocks —
    r16, the stores'/indexes' seam applied here): on a cluster the
    checkpoint lives on HDFS/S3, where ``os.*`` would silently create
    mangled LOCAL paths — markers then don't survive a driver
    relocation (duplicate publishes) and pinned clocks vanish (the
    midnight-replay silent-loss window the clock exists to close).
    Default POSIX; a URI checkpoint without an explicit store refuses
    loudly — and only when a K3 channel actually uses the seam."""
    from rakam_api_collector_spark.manifest import resolve_meta_store
    return resolve_meta_store(checkpoint, meta_store,
                              "K3 checkpoint bookkeeping")


def _prune_epoch_files(meta, dirpath: str, epoch_id: int,
                       retain: int = _EPOCH_FILE_RETAIN) -> None:
    """Drop per-epoch bookkeeping files older than ``retain`` epochs.
    Spark replays at most the most recent uncommitted micro-batch, so
    a marker/clock more than a handful of epochs old can never be
    consulted again — but without pruning, a 15 s trigger leaves
    5,760 empty files/day under the checkpoint forever (a small-files
    leak on the checkpoint store at cluster scale)."""
    floor = epoch_id - retain
    for n in meta.list(dirpath):
        if n.startswith(".tmp-"):
            # crash-leaked LocalMetadataStore put() temp: the live
            # writer's temp can't be seen here — this prune runs in
            # the same single thread AFTER its own write completed
            meta.delete(f"{dirpath}/{n}")
            continue
        stem = n[:-4] if n.endswith(".tmp") else n
        if stem.isdigit() and int(stem) < floor:
            meta.delete(f"{dirpath}/{n}")   # missing = concurrent win


def _handoff_once(checkpoint: str, epoch_id: int, publish,
                  meta) -> None:
    """Run ``publish()`` at most once per (checkpoint, epoch) — the K3
    idempotence guard shared by the JSON and Avro paths. Spark replays
    a failed epoch through foreachBatch again (e.g. _commit_tables
    threw after the handoff succeeded), so an unguarded handoff would
    re-publish the same late envelopes; a marker under the checkpoint
    skips it on replay. The crash window between publish and marker
    write remains at-least-once (as is the reference's Kafka producer,
    KafkaHistoricalDataHandler.java:41-69), which the drain absorbs by
    running WITH dedup (ST6) — the composition the reference relies
    on; a drain without dedup can see duplicates from that window."""
    marker_dir = f"{checkpoint}/hist_published"
    marker = f"{marker_dir}/{epoch_id}"
    if meta.read_if_exists(marker) is None:
        publish()
        meta.put(marker, "")
    _prune_epoch_files(meta, marker_dir, epoch_id)


def _pinned_epoch_date(spark: SparkSession, checkpoint: str,
                       epoch_id: int, meta) -> str:
    """``current_date()`` frozen on the epoch's FIRST attempt
    ('yyyy-MM-dd', session time zone) and re-read on replay, so ST3's
    late classification is replay-deterministic. Without it,
    ``split_late(now=None)`` evaluates current_date() at execution
    time, and a replay straddling midnight re-partitions boundary-day
    records — with the ``_handoff_once`` marker already written, a
    record newly classified late on replay is filtered off the hot
    path but never published: silent loss, strictly worse than the
    duplication the marker exists to prevent. Pinned only when a K3
    channel is configured (without one the split is not applied).
    Files are pruned on the same schedule as the handoff markers."""
    clock_dir = f"{checkpoint}/hist_clock"
    path = f"{clock_dir}/{epoch_id}"
    stored = meta.read_if_exists(path)
    if stored and stored.strip():
        return stored.strip()
    today = spark.sql(
        "SELECT date_format(current_date(), 'yyyy-MM-dd')").first()[0]
    if not meta.put_if_absent(path, today):
        # CAS lost (another attempt of THIS epoch raced us): the
        # first writer's clock is the pinned one — unless the file is
        # EMPTY (a torn pre-r16 write): self-heal with today, the old
        # overwrite behavior, rather than pinning now=''
        stored = meta.read(path).strip()
        if stored:
            today = stored
        else:
            meta.put(path, today)
    _prune_epoch_files(meta, clock_dir, epoch_id)
    return today


def _commit_tables(tables, table_base: str, manifested: bool,
                   checkpoint: str, epoch_id: int,
                   layout: str = "per-table") -> dict[tuple[str, str], int]:
    """Per-micro-batch table commit, shared by the realtime paths and
    the historical drains. Plain mode appends via write_collections;
    manifested mode commits each collection through the version-file
    protocol with a (checkpoint-namespace, epoch) idempotency key — a
    replayed foreachBatch from the SAME checkpoint replaces its batch,
    while a fresh checkpoint (new incarnation, or the drain's own
    checkpoint) or a second query appends. Per-collection commits
    overlap from a thread pool either way (manifest.py;
    RaptorDatabaseHandler.java:312-339).

    ``layout="grouped"`` commits ONE write job per (project,
    schema-group) via ``write_collections_grouped`` (Hive-style
    ``_collection=…/_day=…`` partitions) instead of one per collection
    — at the reference's 100-collections-per-batch stress shape the
    steady-state micro-batch wall is commit-fan-out-bound, and this is
    the sink whose job count scales with #schemas, not #collections.
    Requires a result carrying ``.groups`` (the JSON ingest path);
    incompatible with ``manifested`` (the manifest protocol is
    per-collection by design).

    Returns ``{(project, collection): rows written}``, read from what
    the commit wrote rather than counted again: the manifest entry's
    footer-summed ``rows`` in manifested mode, an Observation riding
    each write in the plain and grouped modes. The A2/ST11 counters
    (``_account``) read it, so they cost no per-collection job."""
    if layout == "grouped":
        if manifested:
            raise ValueError("layout='grouped' and manifested=True are "
                             "incompatible — the manifest commit "
                             "protocol is per-collection")
        if len(tables) == 0:        # empty micro-batch: nothing to commit
            return {}
        if not getattr(tables, "groups", None):
            raise ValueError("layout='grouped' needs an IngestResult "
                             "with schema-group frames (JSON ingest "
                             "path)")
        return write_collections_grouped(tables, table_base)
    if not manifested:
        return write_collections(tables, table_base)
    from concurrent.futures import ThreadPoolExecutor
    from hashlib import md5 as _md5

    from rakam_api_collector_spark.manifest import ManifestedTable
    ns = _md5(checkpoint.encode()).hexdigest()[:8]

    def commit_one(item):
        (project, collection), df = item
        table = ManifestedTable(table_base, project, collection)
        table.write(df, batch_id=f"{ns}-epoch-{epoch_id}")
        return (project, collection), table.last_entry["rows"]

    if len(tables) <= 1:
        return dict(map(commit_one, tables.items()))
    with ThreadPoolExecutor(min(16, len(tables))) as pool:
        return dict(pool.map(commit_one, tables.items()))


def _account(committed: dict[tuple[str, str], int], failed: int,
             stats, error_monitor) -> None:
    """A2 per-collection counters + ST11 kill-switch for one epoch.
    ``committed`` is ``_commit_tables``' rows-written dict, ``failed``
    the epoch's rejected records; neither costs a Spark job here."""
    if stats is not None:
        for (project, collection), n in committed.items():
            stats.add(project, collection, n)
    if error_monitor is not None:
        error_monitor.record(ok=sum(committed.values()), failed=failed)
        if error_monitor.should_kill():
            # the reference exits the process (KafkaUtil.java:162-166);
            # failing the batch fails the StreamingQuery, the driver's
            # analog
            raise RuntimeError(
                "error-rate kill-switch tripped (ST11): the share of "
                "records that failed parsing crossed the monitor's "
                "threshold within its window")


def _expose(query, maint_hook=None, stats=None, error_monitor=None):
    """Hang the stream's maintenance hook and counters on the returned
    query, the surface operators and tests read."""
    query.maintenance = maint_hook
    query.stats = stats
    query.error_monitor = error_monitor
    return query


def start_ingest_stream(spark: SparkSession, source_dir: str, fmt: str,
                        catalog: Catalog, table_base: str, checkpoint: str,
                        historical_dir: str | None = None,
                        dedup: bool = True,
                        dedup_ttl: str = "30 days",
                        outdated_day_index: int = 1,
                        now=None,
                        trigger: dict | None = None,
                        time_field: str = "_time",
                        shard_time=None,
                        max_files_per_trigger: int | None = None,
                        stats=None, error_monitor=None,
                        rocksdb_state: bool = True,
                        source_stream: DataFrame | None = None,
                        historical_producer=None,
                        errors_dir: str | None = None,
                        manifested: bool = False,
                        layout: str = "per-table",
                        maintenance: dict | None = None,
                        state_partitions: int | None = None,
                        meta_store=None):
    """Start the real-time ingestion query over a source of envelope JSON
    lines. Returns the StreamingQuery.

    ``meta_store`` routes the K3 per-epoch bookkeeping (handoff
    markers, pinned clocks — files kept UNDER THE CHECKPOINT) through
    the manifest MetadataStore seam, so an object-store checkpoint
    keeps its markers durable beside the offsets (r16,
    ``_ckpt_meta``). Default POSIX; only consulted when a K3 channel
    is configured.

    The default source is a text-file directory (``source_dir``); pass
    ``source_stream`` (any streaming DataFrame with a ``value`` column —
    e.g. ``sources.kafka.realtime_reader(...).load()``) to feed the same
    downstream pipeline from a connector source; its ``value`` is cast to
    string, the Kafka byte-payload decode (KafkaRealTimeWorker.java:145-222).

    ``trigger`` defaults to availableNow (drain-and-stop, for tests);
    pass {"processingTime": "15 seconds"} for the reference cadence.

    Late records (ST3's event-time split) hand off to the historical
    path in exactly one of two K3 forms — ``historical_producer``
    (a ``frame -> None`` callable re-publishing the late envelopes to
    the historical Kafka topic; build one with
    ``sources.kafka.historical_producer_for``) or ``historical_dir``
    (a text spool directory). Passing both raises: a silent
    precedence would leave the un-chosen channel forever empty while
    downstream tooling watches it. With neither, late records stay on
    the hot path (the batch-parity posture tests rely on).

    ``errors_dir`` adds a dead-letter spool beyond the reference's
    drop-and-count: envelopes the router/parser would reject (missing
    project/collection/data, collection name empty or >100 chars,
    unparseable JSON body) are written per micro-batch as parquet
    (value, n_bytes) for replay/diagnosis; ST11 counting is unchanged.

    ``manifested=True`` commits each collection's micro-batch through
    ``manifest.ManifestedTable`` (version-file protocol, epoch id as the
    idempotency key) instead of the plain append sink — the Raptor
    shard-registry analog; read the tables back with
    ``ManifestedTable(...).read(spark)``. ``maintenance`` (manifested
    only) schedules the shard-organizer sweep the reference runs as a
    daemon: a :class:`manifest.MaintenanceHook` kwargs dict (e.g.
    ``{"every_epochs": 16, "min_batches": 8}``) compacts + gc's the
    manifested tables every N committed epochs, so the live batch
    count per collection stays bounded on a long-running stream. The
    hook is exposed as ``query.maintenance`` for observability.

    ``layout="grouped"`` commits one write job per (project,
    schema-group) instead of one per collection (see ``_commit_tables``
    / ``sinks.write_collections_grouped``); read back with
    ``sinks.read_collection_grouped``. Pick it for
    many-small-collections streams (the reference stress shape).

    ``stats`` (``committer.IngestStats``, A2) and ``error_monitor``
    (``committer.ErrorRateMonitor``, ST11) read the rows each commit
    wrote, so they cost no per-collection job; with a K3 channel the
    monitor's failure count needs one count of the split's hot rows.
    Both are exposed on the query as ``query.stats`` /
    ``query.error_monitor``.
    """
    if layout not in ("per-table", "grouped"):
        raise ValueError(f"unknown layout {layout!r}: "
                         "expected 'per-table' or 'grouped'")
    if historical_producer is not None and historical_dir is not None:
        raise ValueError(
            "pass historical_producer OR historical_dir, not both — "
            "late records hand off to exactly one K3 channel")
    if layout == "grouped" and manifested:
        raise ValueError("layout='grouped' and manifested=True are "
                         "incompatible — the manifest commit protocol "
                         "is per-collection")
    maint_hook = _maintenance_hook(spark, table_base, manifested,
                                   maintenance)
    _set_state_partitions(spark, state_partitions)
    if dedup and rocksdb_state:
        # ST6 parity: the reference's dedup store IS RocksDB (TtlDB,
        # Deduplicator.java:26-46); Spark's RocksDB state store keeps
        # dedup state off-heap and incrementally checkpointed, which is
        # what makes a 1-month TTL key space viable on executors.
        _enable_rocksdb_state(spark)

    if source_stream is not None:
        raw = source_stream.select(
            F.col("value").cast("string").alias("value"))
    else:
        reader = spark.readStream.format("text")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        raw = reader.load(source_dir)

    stream = raw.withColumn("_event_time", _event_time_expr(fmt, time_field))
    if dedup:
        # ST6: key = (_user, _time) (Deduplicator.java:26-88); records with
        # a null key are never deduped (AvroDuplicateHandler.java:93-97) —
        # a unique surrogate keeps them distinct.
        cfg = FORMATS[fmt]
        root = cfg["data"].removeprefix("$.")
        user = F.get_json_object(
            "value", f"$.{root}._user" if root else "$._user")
        stream = (stream
                  .withColumn("_dk_user", F.coalesce(
                      user, F.concat(F.lit("\0nulluser\0"), F.expr("uuid()"))))
                  .withColumn("_dk_time", F.coalesce(
                      F.col("_event_time").cast("string"),
                      F.concat(F.lit("\0nulltime\0"), F.expr("uuid()"))))
                  .withWatermark("_event_time", dedup_ttl)
                  .dropDuplicatesWithinWatermark(["_dk_user", "_dk_time"]))

    def process(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.select("value", "_event_time").cache()
        tables = None
        try:
            # ONE full action first. It materializes the cache, and it
            # executes every partition — the dedup operator commits its
            # RocksDB state only in partitions an action ran (isEmpty's
            # executeTake may stop early). Dead letters are counted in
            # the same job.
            if errors_dir is not None:
                bad = _envelope_reject_predicate(fmt)
                n_batch, n_dead = batch.agg(F.count(F.lit(1)),
                                            F.count_if(bad)).first()
            else:
                n_batch, n_dead = batch.count(), 0
            if n_batch == 0:
                # an empty epoch (Spark's no-data batch, run only to
                # advance the watermark and evict state) has nothing
                # to split, hand off, decode or commit; the hook still
                # ticks, its cadence counts epoch ids
                if maint_hook is not None:
                    maint_hook.after_epoch(epoch_id)
                return
            if errors_dir is not None:
                # dead-letter spool, on the PRE-SPLIT batch: malformed
                # envelopes carry a null event time, so split_late would
                # route them historical — spooling first keeps the
                # per-micro-batch contract and lets the split below
                # exclude them from the valid-late spool
                if n_dead:
                    _spool_dead_letters(batch.filter(bad), errors_dir,
                                        epoch_id)
                splittable = batch.filter(~bad)
            else:
                splittable = batch
            k3 = historical_producer is not None or historical_dir is not None
            if k3:
                # K3 historical handoff — topic form (late envelopes
                # re-published to the historical Kafka topic for the
                # slow-cadence drain worker, KafkaHistoricalDataHandler
                # .java:41-69) or spool form (text directory) — before
                # the hot path commits, mirroring BatchRecords.java:
                # 44-67's gating. The split's classification clock is
                # pinned to the epoch's first attempt and the publish
                # is epoch-marker idempotent (_pinned_epoch_date /
                # _handoff_once): together a replayed epoch sees the
                # identical realtime/historical partition and never
                # re-publishes — nor drops — a late record.
                meta = _ckpt_meta(checkpoint, meta_store)
                eff_now = now if now is not None else \
                    _pinned_epoch_date(spark, checkpoint, epoch_id,
                                       meta)
                rt, hist = split_late(splittable, time_col="_event_time",
                                      outdated_day_index=outdated_day_index,
                                      now=eff_now)
                late = hist.select("value")

                def _publish() -> None:
                    if historical_producer is not None:
                        historical_producer(late)
                    else:
                        late.write.mode("append").text(historical_dir)

                _handoff_once(checkpoint, epoch_id, _publish, meta)
                hot = rt
            else:
                # no K3 channel: late records stay on the hot path
                # (the batch-parity posture tests rely on), and the
                # split — whose re-promotion rule costs a count() job
                # per micro-batch — is never planned at all
                hot = splittable
            tables = ingest_batch(spark, hot.select("value"), fmt, catalog,
                                  shard_time=shard_time,
                                  time_field=time_field)
            committed = _commit_tables(tables, table_base, manifested,
                                       checkpoint, epoch_id, layout=layout)
            if maint_hook is not None:
                maint_hook.after_epoch(epoch_id)
            failed = 0
            if error_monitor is not None:
                # records the parser dropped are the hot rows that were
                # not committed; only a K3 split makes the hot count
                # unknown (one job). Dead-lettered rows never reach
                # `hot`, so they are added back explicitly
                n_in = hot.count() if k3 else n_batch - n_dead
                failed = max(n_in - sum(committed.values()), 0) + n_dead
            _account(committed, failed, stats, error_monitor)
        finally:
            if tables is not None:
                tables.unpersist()
            batch.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    trig = trigger or {"availableNow": True}
    return _expose(writer.trigger(**trig).start(), maint_hook, stats,
                   error_monitor)


class AvroBatchResult(dict):
    """``{(project, collection): DataFrame}`` plus an ``unpersist()``
    handle over the per-schema-group decoded caches — the Avro analog
    of ingest.batch.IngestResult (leaked per-batch caches accumulate
    forever on a long-running stream)."""

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self._caches: list[DataFrame] = []

    def unpersist(self) -> None:
        for df in self._caches:
            df.unpersist()


def _decode_avro_frames(spark: SparkSession, frames: DataFrame,
                        get_columns, project: str,
                        default_collection: str | None,
                        bulk_base: str | None) -> AvroBatchResult:
    """Typed tables from one micro-batch of routed Avro frames
    (columns ``_kind, _collection, value``).

    Collections are grouped by SCHEMA SIGNATURE and each group decodes
    in ONE mapInPandas pass (the decoder emits ``_collection`` in-band,
    so the per-collection split is a JVM filter over the cached decoded
    frame) — plans scale with #schemas, not #collections, exactly the
    R1 fan-out rule the JSON path follows (ingest/batch.py). A
    100-collection micro-batch is 1 Python pass + 100 cheap filters,
    not 100 Python passes.

    Only collection NAMES and bulk POINTERS reach the driver (both
    bounded: #collections, #pointed-to objects per batch — each pointer
    names a ~256 MB object, the reference fetches the same list on its
    worker thread, AvroMessageEventTransformer.java:87-99); record data
    stays distributed end to end. Caller must ``unpersist()`` the
    result after writing."""
    from rakam_api_collector_spark.ingest.avro import (
        bulk_collections, decode_bulk_collection, decode_stream_records,
        parse_bulk_pointer, read_bulk_objects)

    tables = AvroBatchResult()

    colls = [r[0] for r in (frames.filter(F.col("_kind") == "stream")
                            .select("_collection").distinct().collect())]
    groups: dict[tuple, list[str]] = {}
    for coll in sorted(c for c in colls if c is not None):
        fields = get_columns(project, coll)
        if fields is None:
            continue
        sig = tuple((f.name, f.dataType.simpleString()) for f in fields)
        groups.setdefault(sig, []).append(coll)

    for sig, group in groups.items():
        fields = get_columns(project, group[0])
        typed = decode_stream_records(
            frames.filter((F.col("_kind") == "stream")
                          & F.col("_collection").isin(group))
            .select("value"),
            fields, default_collection=default_collection)
        if len(group) > 1:
            # cache the group's single decode so the per-collection
            # writes don't re-run the Python stage (the JSON path
            # caches its parsed batch the same way, batch.py:166)
            typed = typed.cache()
            tables._caches.append(typed)
        names = [f.name for f in fields]
        for coll in group:
            tables[(project, coll)] = (
                typed.filter(F.col("_collection") == coll).select(*names))

    ptrs = (frames.filter(F.col("_kind") == "bulk")
            .select("value").collect())
    if ptrs:
        if bulk_base is None:
            raise ValueError("bulk pointer received but no bulk_base "
                             "configured")
        paths = [f"{bulk_base}/{parse_bulk_pointer(bytes(r.value))[1]}"
                 for r in ptrs]
        objects = read_bulk_objects(spark, paths)
        for p, c in bulk_collections(objects, get_columns):
            typed = decode_bulk_collection(objects, p, c, get_columns)
            if (p, c) in tables:
                tables[(p, c)] = tables[(p, c)].unionByName(typed)
            else:
                tables[(p, c)] = typed
    return tables


def start_avro_ingest_stream(spark: SparkSession, source_dir: str | None,
                             catalog: Catalog, table_base: str,
                             checkpoint: str, project: str,
                             default_collection: str | None = None,
                             historical_dir: str | None = None,
                             dedup: bool = True,
                             dedup_ttl: str = "30 days",
                             outdated_day_index: int = 1,
                             now=None,
                             trigger: dict | None = None,
                             shard_time=None, source: str = "kafka",
                             bulk_base: str | None = None,
                             source_stream: DataFrame | None = None,
                             stats=None, error_monitor=None,
                             rocksdb_state: bool = True,
                             errors_dir: str | None = None,
                             manifested: bool = False,
                             maintenance: dict | None = None,
                             state_partitions: int | None = None,
                             meta_store=None):
    """Avro twin of ``start_ingest_stream`` — the reference's per-config
    deserializer selection (KafkaStreamSourceModule.java:26-60 binds
    AVRO vs JSON; KafkaAvroMessageTransformer.java:33-57 is the Avro
    hot path). Identical lifecycle: partial-parse routing keys →
    watermark + TTL dedup (ST6) → late split (ST3) with raw-frame spool
    (K3) → per-collection typed decode → day-partitioned sinks (K1).

    The default source is a directory of framed binary records (one
    record per file, the binaryFile streaming source); pass
    ``source_stream`` (any streaming DataFrame with a binary ``value``
    column, e.g. ``sources.kafka.realtime_reader(...).load()``) to feed
    from a connector. Unlike the JSON path there is NO type inference:
    schemas come from the catalog only (AvroUtil.java:30-73 derives
    writer schemas from the metastore, never the wire).

    ``errors_dir`` adds a dead-letter spool beyond the reference's
    drop-and-count (KafkaUtil.java:150-166): corrupt frames are written
    per micro-batch as parquet rows (value, n_bytes, first_byte) so
    poison pills can be replayed/diagnosed after a decoder fix instead
    of being lost; counting (ST11) is unchanged."""
    from rakam_api_collector_spark.ingest.avro import extract_stream_routing

    maint_hook = _maintenance_hook(spark, table_base, manifested,
                                   maintenance)
    _set_state_partitions(spark, state_partitions)
    if dedup and rocksdb_state:
        _enable_rocksdb_state(spark)

    if source_stream is not None:
        raw = source_stream.select(F.col("value"))
    else:
        # binaryFile's fixed schema must be stated explicitly for a
        # streaming source (no inference pass on a stream)
        raw = (spark.readStream
               .schema("path string, modificationTime timestamp, "
                       "length long, content binary")
               .format("binaryFile").load(source_dir)
               .select(F.col("content").alias("value")))

    get_columns = catalog.get_columns
    routed = extract_stream_routing(raw, get_columns, project,
                                    default_collection=default_collection,
                                    source=source)
    stream = routed.withColumn("_event_time",
                               F.timestamp_millis("_time_ms"))
    if dedup:
        # ST6 on the decoded (_user, _time) key; null keys get a unique
        # surrogate and are never deduped (AvroDuplicateHandler.java:93-97)
        stream = (stream
                  .withColumn("_dk_user", F.coalesce(
                      F.col("_user"),
                      F.concat(F.lit("\0nulluser\0"), F.expr("uuid()"))))
                  .withColumn("_dk_time", F.coalesce(
                      F.col("_time_ms").cast("string"),
                      F.concat(F.lit("\0nulltime\0"), F.expr("uuid()"))))
                  .withWatermark("_event_time", dedup_ttl)
                  .dropDuplicatesWithinWatermark(["_dk_user", "_dk_time"]))

    def process(batch: DataFrame, epoch_id: int) -> None:
        batch = (batch.select("_kind", "_collection", "value",
                              "_event_time").cache())
        tables = None
        try:
            # one full action first, as on the JSON path (it commits
            # the dedup state in every partition); it also counts the
            # corrupt frames. Deserialization failures are tagged
            # _kind='corrupt' at routing (extract_stream_routing), so
            # this is the exact ST11 failure count — the reference's
            # per-message poison-pill accounting (KafkaUtil.java:
            # 150-166) — taken on the PRE-SPLIT batch, independent of
            # routing details
            n_batch, n_bad = batch.agg(
                F.count(F.lit(1)),
                F.count_if(F.col("_kind") == "corrupt")).first()
            if n_batch == 0:
                # empty epoch: nothing to do but tick the hook
                if maint_hook is not None:
                    maint_hook.after_epoch(epoch_id)
                return
            if historical_dir is not None:
                # K3: spool raw FRAMES (not typed rows) for the slow
                # worker — parquet with a single binary column, the
                # file-system analog of the historical Kafka topic.
                # Only well-formed stream records are late-split: bulk
                # pointers carry no event time and must resolve on the
                # realtime path (the reference fetches bulk objects
                # immediately, AvroMessageEventTransformer.java:87-99),
                # and corrupt frames stay hot so ST11 accounting sees
                # them — neither ever enters the spool.
                # Same replay posture as the JSON path: classification
                # clock pinned to the epoch's first attempt, spool
                # append epoch-marker idempotent (_pinned_epoch_date /
                # _handoff_once) — an unguarded append would re-spool
                # the same late frames when Spark replays the epoch.
                meta = _ckpt_meta(checkpoint, meta_store)
                eff_now = now if now is not None else \
                    _pinned_epoch_date(spark, checkpoint, epoch_id,
                                       meta)
                rt, hist = split_late(
                    batch.filter(F.col("_kind") == "stream"),
                    time_col="_event_time",
                    outdated_day_index=outdated_day_index, now=eff_now)
                _handoff_once(
                    checkpoint, epoch_id,
                    lambda: hist.select("value").write.mode("append")
                    .parquet(historical_dir), meta)
                hot = batch.filter(F.col("_kind") != "stream") \
                    .unionByName(rt)
            else:
                hot = batch
            if errors_dir is not None and n_bad:
                # dead-letter spool: raw frame + cheap forensics cols;
                # stays hot-path-exact because corrupt never spools
                _spool_corrupt_frames(batch, errors_dir, epoch_id)
            tables = _decode_avro_frames(
                spark, hot, get_columns, project, default_collection,
                bulk_base)
            out = tables
            if shard_time is not None:
                out = {k: df.withColumn(
                    "_shard_time", F.coalesce(
                        "_shard_time", F.lit(shard_time).cast("timestamp")))
                    for k, df in tables.items()}
            committed = _commit_tables(out, table_base, manifested,
                                       checkpoint, epoch_id)
            if maint_hook is not None:
                maint_hook.after_epoch(epoch_id)
            _account(committed, n_bad, stats, error_monitor)
        finally:
            if tables is not None:
                tables.unpersist()
            batch.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    trig = trigger or {"availableNow": True}
    return _expose(writer.trigger(**trig).start(), maint_hook, stats,
                   error_monitor)


def start_avro_historical_stream(spark: SparkSession, historical_dir: str,
                                 catalog: Catalog, table_base: str,
                                 checkpoint: str, project: str,
                                 default_collection: str | None = None,
                                 trigger: dict | None = None,
                                 shard_time=None, source: str = "kafka",
                                 bulk_base: str | None = None,
                                 source_stream: DataFrame | None = None,
                                 stats=None, error_monitor=None,
                                 errors_dir: str | None = None,
                                 manifested: bool = False):
    """ST5 for the Avro path: drain the raw-frame parquet spool written
    by ``start_avro_ingest_stream`` (or a historical Kafka topic via
    ``source_stream``) into the same tables — no late split, no dedup
    (already done on the hot path), mirroring
    KafkaHistoricalWorker.java:157-219. ``manifested`` must match the
    realtime stream's: the drain then commits through the same version
    protocol, its batch ids namespaced by its own checkpoint, so a
    replayed drain epoch replaces its batch.

    The hot path never spools corrupt frames, but a historical TOPIC
    (``source_stream``) can deliver them, so the same A2/ST11
    accounting and dead-letter options apply here: corrupt frames
    count against ``error_monitor``, spool to ``errors_dir`` when set,
    and are never silently dropped."""
    from pyspark.sql import types as T

    from rakam_api_collector_spark.ingest.avro import extract_stream_routing

    if source_stream is not None:
        raw = source_stream.select(F.col("value"))
    else:
        raw = (spark.readStream
               .schema(T.StructType([T.StructField("value",
                                                   T.BinaryType())]))
               .format("parquet").load(historical_dir))

    get_columns = catalog.get_columns
    routed = extract_stream_routing(raw, get_columns, project,
                                    default_collection=default_collection,
                                    source=source)

    def process(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.select("_kind", "_collection", "value")
        if error_monitor is not None or errors_dir is not None:
            # the corrupt count and the spool re-read the batch beyond
            # the decode pass — cache so they don't re-run routing
            batch = batch.cache()
        tables = _decode_avro_frames(
            spark, batch, get_columns, project, default_collection,
            bulk_base)
        try:
            out = tables
            if shard_time is not None:
                out = {k: df.withColumn(
                    "_shard_time", F.coalesce(
                        "_shard_time", F.lit(shard_time).cast("timestamp")))
                    for k, df in tables.items()}
            committed = _commit_tables(out, table_base, manifested,
                                       checkpoint, epoch_id)
            if errors_dir is not None:
                _spool_corrupt_frames(batch, errors_dir, epoch_id,
                                      stream="historical")
            n_bad = (batch.filter(F.col("_kind") == "corrupt").count()
                     if error_monitor is not None else 0)
            _account(committed, n_bad, stats, error_monitor)
        finally:
            tables.unpersist()
            batch.unpersist()

    writer = (routed.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    trig = trigger or {"availableNow": True}
    return _expose(writer.trigger(**trig).start(), stats=stats,
                   error_monitor=error_monitor)


def start_historical_stream(spark: SparkSession, historical_dir: str | None,
                            fmt: str, catalog: Catalog, table_base: str,
                            checkpoint: str, trigger: dict | None = None,
                            time_field: str = "_time", shard_time=None,
                            source_stream: DataFrame | None = None,
                            errors_dir: str | None = None,
                            manifested: bool = False,
                            layout: str = "per-table",
                            stats=None, error_monitor=None):
    """ST5: drain the historical spool in big, low-frequency batches
    (reference: 30 min cadence or 500k-record lag,
    KafkaHistoricalWorker.java:157-219) into the same tables — no late
    split, no dedup (already done on the hot path). ``source_stream``
    substitutes a connector stream (e.g. the historical Kafka topic,
    ``sources.kafka.historical_reader(...).load()``) for the spool dir;
    such a topic can carry envelopes the parser would drop, so
    ``errors_dir`` dead-letters them exactly as on the realtime path,
    and they count as failures for ``error_monitor``.

    ``manifested`` and ``layout`` must match the realtime stream's, so
    drained rows land in the tables its readers read: manifested
    commits go through the version protocol with batch ids namespaced
    by the drain's own checkpoint, so a replayed drain epoch replaces
    its batch instead of appending it twice."""
    if layout not in ("per-table", "grouped"):
        raise ValueError(f"unknown layout {layout!r}: "
                         "expected 'per-table' or 'grouped'")
    if source_stream is not None:
        raw = source_stream.select(
            F.col("value").cast("string").alias("value"))
    else:
        raw = spark.readStream.format("text").load(historical_dir)

    def process(batch: DataFrame, epoch_id: int) -> None:
        if error_monitor is not None:
            # the failure count re-reads the batch beyond the parse
            batch = batch.cache()
        tables = None
        try:
            if errors_dir is not None:
                _spool_dead_letters(
                    batch.filter(_envelope_reject_predicate(fmt)),
                    errors_dir, epoch_id, stream="historical")
            tables = ingest_batch(spark, batch, fmt, catalog,
                                  shard_time=shard_time,
                                  time_field=time_field)
            committed = _commit_tables(tables, table_base, manifested,
                                       checkpoint, epoch_id, layout=layout)
            # every record that was not committed was dropped by the
            # router/parser (or dead-lettered)
            failed = (max(batch.count() - sum(committed.values()), 0)
                      if error_monitor is not None else 0)
            _account(committed, failed, stats, error_monitor)
        finally:
            if tables is not None:
                tables.unpersist()
            batch.unpersist()

    writer = (raw.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    trig = trigger or {"availableNow": True}
    return _expose(writer.trigger(**trig).start(), stats=stats,
                   error_monitor=error_monitor)
