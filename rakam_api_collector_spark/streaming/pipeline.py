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
- R1 fan-out + K1/K5 → the decoder's schema-group frames + one commit
  per micro-batch (``_commit_tables``).
- ST7 checkpoint → ``checkpointLocation`` (stronger than the reference's
  commitSync: file-sink commits are exactly-once).
- ST8 backpressure / ST9 retry / ST10 limiter → Spark-native (unified
  memory manager, task retries) — deliberately no custom code.

One epoch body serves all four streams (JSON and Avro, realtime and
historical drain): ``_start_epochs``, Structured Streaming's per-epoch
``foreachBatch`` sink. Each starter supplies its streaming frame, whose
``_label`` column classifies every row — ``"stream"`` (split, decoded),
``"corrupt"`` (rejected: counted, spooled, never decoded) or anything
else (Avro ``"bulk"`` pointers: decoded, never split) — plus its
decoder, its ST11 failure rule and, on the realtime paths, its K3
publish. The stages run in this order:

1. materialize: the cached batch's one first action, a
   ``groupBy(_label, day).count()`` histogram collected to the driver.
   Being a full action it runs every partition (the dedup operator
   commits its RocksDB state only where an action ran), and it yields
   the batch size, the rejected count, the per-day counts the split
   needs and the hot-row count ST11 needs; no later stage counts rows.
2. empty-epoch skip: a 0-row epoch (the no-data batch that advances the
   watermark) stops here, but the maintenance hook still ticks — its
   cadence counts epoch ids.
3. bad-row spool (``errors_dir``): rejected rows are dead-lettered
   before the split, so they never reach the K3 spool.
4. pinned clock, split and K3 publish: only ``"stream"`` rows are split;
   the classification date is pinned to the epoch's first attempt and
   the publish is epoch-marker idempotent (``_pinned_epoch_date`` /
   ``_handoff_once``), so a replayed epoch sees the same partition and
   never re-publishes — nor drops — a late record. The handoff runs
   before the commit (BatchRecords.java:44-67). Without a K3 channel
   late records stay hot.
5. decode: the starter's decoder (``ingest_batch`` or
   ``_decode_avro_frames``) returns an ``IngestResult`` of schema-group
   frames with ``_shard_time`` already set.
6. commit: ``_commit_tables`` writes the epoch under its batch id.
7. ``maint_hook.after_epoch``, then ``_account`` (A2 counters and the
   ST11 kill-switch, from the rows the commit wrote).

The file source here stands in for Kafka: swap
``spark.readStream.format("kafka")…selectExpr("CAST(value AS STRING)")``
for the text source and nothing downstream changes. (No Kafka broker or
connector jar ships in this environment, so the tested source is files —
the semantics exercised are source-independent.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rakam_api_collector_spark.ingest.batch import (FORMATS, IngestResult,
                                                    ingest_batch)
from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.sinks import write_collections
from rakam_api_collector_spark.streaming.latesplit import (realtime_days,
                                                           split_late)

DEDUP_TTL = "30 days"   # the reference's 1-month RocksDB TTL (ST6)
TIME_FIELD = "_time"    # the envelope's event-time field
_STREAM, _CORRUPT = "stream", "corrupt"     # ``_label`` values


def _data_path(fmt: str, field: str) -> str:
    root = FORMATS[fmt]["data"].removeprefix("$.")
    return f"$.{root}.{field}" if root else f"$.{field}"


def _event_time_expr(fmt: str) -> Column:
    """Partial-parse event time for watermarking/dedup (D4): only the
    time field is extracted pre-parse (KafkaDecoupleMessage.java:46-114)."""
    raw = F.get_json_object("value", _data_path(fmt, TIME_FIELD))
    if FORMATS[fmt]["numeric_timestamps"]:
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


def _json_label(fmt: str, errors_dir: str | None) -> Column:
    """JSON rows are rejected by the envelope predicate when a spool is
    set; otherwise every row is split and decoded (the parser then
    drops what it cannot route, and ST11 counts those drops)."""
    if errors_dir is None:
        return F.lit(_STREAM)
    return F.when(_envelope_reject_predicate(fmt), _CORRUPT) \
        .otherwise(_STREAM)


def _spool_dead_letters(bad: DataFrame, errors_dir: str,
                        epoch_id: int, stream: str = "realtime") -> None:
    """Write rejected rows (``value``: envelope string or binary frame)
    as replayable parquet ``(value, n_bytes[, first_byte_hex])`` under
    ``errors_dir/stream=<name>/epoch_id=<N>/`` with overwrite.

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
    cols = [F.col("value"), F.octet_length("value").alias("n_bytes")]
    if dict(bad.dtypes)["value"] == "binary":     # Avro frame forensics
        cols.append(F.hex(F.substring("value", 1, 1))
                    .alias("first_byte_hex"))
    (bad.select(*cols).write.mode("overwrite")
     .parquet(f"{errors_dir}/stream={stream}/epoch_id={epoch_id}"))


def _stream_setup(spark: SparkSession, table_base: str, manifested: bool,
                  maintenance: dict | None, state_partitions: int | None,
                  dedup: bool):
    """Session and sink setup shared by the realtime paths; returns the
    maintenance hook (or None).

    ``maintenance`` is a manifest.MaintenanceHook kwargs dict — the
    every-N-epochs shard-organizer sweep — rejected on non-manifested
    sinks, whose plain append layout has no version protocol to compact.

    ``state_partitions`` pins the stateful operator's partition count
    (ST6 sizing). Structured Streaming fixes it to
    ``spark.sql.shuffle.partitions`` at the FIRST micro-batch and records
    it in the checkpoint, and AQE never re-plans stateful exchanges, so
    an oversized count pays per-partition RocksDB open/commit/changelog
    overhead every trigger. Sizing rule: partitions ≈ keys-per-batch / a
    few thousand, capped by executor count. Measured at the reference
    stress shape (30k keys/batch, 100 collections, local[32], loadavg
    ~22): 32 partitions → 25-26 s steady batch wall; 8 → 15-16 s; 4 →
    13-15 s (STRESS.md). The conf is session-scoped: the streaming app
    owns its session (app.start).

    ``dedup`` turns on the RocksDB state store with changelog
    checkpointing — ST6 parity, the reference's dedup store IS RocksDB
    (TtlDB, Deduplicator.java:26-46): state lives off-heap and each
    batch's state commit persists only its change log, snapshotting in
    the background (summed commitTimeMs per batch ~2× lower at the
    stress shape; what keeps a 1-month TTL key space inside a 15 s
    trigger once snapshots land on an object store)."""
    hook = None
    if maintenance is not None:
        if not manifested:
            raise ValueError("maintenance scheduling requires "
                             "manifested=True (the sweep compacts "
                             "version-committed tables)")
        from rakam_api_collector_spark.manifest import MaintenanceHook
        hook = MaintenanceHook(spark, table_base, **maintenance)
    if state_partitions is not None:
        if state_partitions < 1:
            raise ValueError(f"state_partitions must be >= 1, "
                             f"got {state_partitions}")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
    if dedup:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled", "true")
    return hook


def _dedup(stream: DataFrame, user: Column, time_key: Column) -> DataFrame:
    """ST6: drop repeats of the (_user, _time) key within the TTL
    watermark (Deduplicator.java:26-88). A null key part gets a unique
    surrogate, so such records are never deduped
    (AvroDuplicateHandler.java:93-97)."""
    def key(c: Column, tag: str) -> Column:
        return F.coalesce(c, F.concat(F.lit(f"\0null{tag}\0"),
                                      F.expr("uuid()")))

    return (stream.withColumn("_dk_user", key(user, "user"))
            .withColumn("_dk_time", key(time_key.cast("string"), "time"))
            .withWatermark("_event_time", DEDUP_TTL)
            .dropDuplicatesWithinWatermark(["_dk_user", "_dk_time"]))


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
                   checkpoint: str, epoch_id: int
                   ) -> dict[tuple[str, str], int]:
    """Per-micro-batch table commit. Plain mode appends via
    write_collections; manifested mode commits each collection through
    the version-file protocol with a (checkpoint-namespace, epoch)
    idempotency key — a replayed foreachBatch from the SAME checkpoint
    replaces its batch, while a fresh checkpoint (new incarnation, or
    the drain's own checkpoint) or a second query appends
    (RaptorDatabaseHandler.java:312-339).

    Manifested mode has two paths. A result carrying ``.groups`` (what
    ``ingest_batch`` and ``_decode_avro_frames`` return) on a local
    table base goes through ``manifest.commit_groups``: ONE parquet job
    per (project, schema group) into a staging dir, CHECK constraints
    checked on the staged files, then every collection's part renamed
    into its table's ``_batches`` and committed there, so the epoch's
    write jobs scale with schema groups, not collections. A table base
    with a URI scheme keeps the per-collection ``ManifestedTable.write``
    from a thread pool, because on an object store a rename is a copy;
    so does a result without ``.groups`` (a plain dict).

    Returns ``{(project, collection): rows written}``, read from what
    the commit wrote rather than counted again: the manifest entry's
    footer-summed ``rows`` in manifested mode, an Observation riding
    each write in plain mode. The A2/ST11 counters (``_account``) read
    it, so they cost no per-collection job."""
    if not manifested:
        return write_collections(tables, table_base)
    from concurrent.futures import ThreadPoolExecutor
    from hashlib import md5 as _md5
    from urllib.parse import urlparse

    from rakam_api_collector_spark.manifest import (ManifestedTable,
                                                    commit_groups)
    bid = f"{_md5(checkpoint.encode()).hexdigest()[:8]}-epoch-{epoch_id}"
    if hasattr(tables, "groups") and not urlparse(table_base).scheme:
        return commit_groups(table_base, tables.groups, tables.orders, bid)

    def commit_one(key):
        table = ManifestedTable(table_base, *key)
        table.write(tables[key], batch_id=bid)
        return key, table.last_entry["rows"]

    if len(tables) <= 1:
        return dict(map(commit_one, tables))
    with ThreadPoolExecutor(min(16, len(tables))) as pool:
        return dict(pool.map(commit_one, tables))


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


def _start_epochs(spark: SparkSession, stream: DataFrame, checkpoint: str,
                  trigger: dict | None, decode, *, count_drops: bool,
                  table_base: str, manifested: bool, publish=None,
                  now=None, outdated_day_index: int = 1, meta_store=None,
                  errors_dir: str | None = None, name: str = "realtime",
                  maint_hook=None, stats=None, error_monitor=None):
    """Start ``stream`` (``value``, ``_label`` and, with ``publish``,
    ``_event_time``) through the epoch stages in the module docstring;
    returns the StreamingQuery with ``maintenance``, ``stats`` and
    ``error_monitor`` attached.

    ``decode(hot)`` returns the epoch's ``IngestResult``;
    ``publish(late)`` is the K3 channel, given the late rows' ``value``.
    ST11 fails the rejected rows, plus — with ``count_drops`` — the hot
    rows the decoder did not commit (JSON: the parser drops what it
    cannot route; an Avro bulk pointer expands to many rows, so there
    only corrupt frames count)."""
    label = F.col("_label")

    def process(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.cache()
        tables = None
        try:
            # 1. materialize: the one first action, a histogram
            day = F.to_date("_event_time") if publish is not None \
                else F.lit(None)
            hist = batch.groupBy(label, day).count().collect()
            if not hist:                    # 2. empty epoch
                if maint_hook is not None:
                    maint_hook.after_epoch(epoch_id)
                return
            n_bad = sum(n for lab, _, n in hist if lab == _CORRUPT)
            n_hot = sum(n for lab, _, n in hist if lab != _CORRUPT)
            if errors_dir is not None and n_bad:    # 3. bad-row spool
                _spool_dead_letters(
                    batch.filter(label == _CORRUPT).select("value"),
                    errors_dir, epoch_id, name)
            hot = batch.filter(label != _CORRUPT)
            if publish is not None:         # 4. pinned clock, split, K3
                meta = _ckpt_meta(checkpoint, meta_store)
                today = now if now is not None else \
                    _pinned_epoch_date(spark, checkpoint, epoch_id, meta)
                days = {d: n for lab, d, n in hist if lab == _STREAM}
                rt, late = split_late(
                    batch.filter(label == _STREAM), time_col="_event_time",
                    outdated_day_index=outdated_day_index, now=today,
                    day_counts=days)
                _handoff_once(checkpoint, epoch_id,
                              lambda: publish(late.select("value")), meta)
                kept = set(realtime_days(days, today, outdated_day_index))
                n_hot -= sum(n for d, n in days.items() if d not in kept)
                if any(lab not in (_STREAM, _CORRUPT) for lab, _, _ in hist):
                    # unsplit rows (Avro bulk pointers) stay hot
                    rt = rt.unionByName(hot.filter(label != _STREAM))
                hot = rt
            tables = decode(hot)            # 5.-7. decode, commit, account
            committed = _commit_tables(tables, table_base, manifested,
                                       checkpoint, epoch_id)
            if maint_hook is not None:
                maint_hook.after_epoch(epoch_id)
            failed = n_bad + (max(n_hot - sum(committed.values()), 0)
                              if count_drops else 0)
            _account(committed, failed, stats, error_monitor)
        finally:
            if tables is not None:
                tables.unpersist()
            batch.unpersist()

    query = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", checkpoint)
             .trigger(**(trigger or {"availableNow": True})).start())
    query.maintenance = maint_hook
    query.stats = stats
    query.error_monitor = error_monitor
    return query


def start_ingest_stream(spark: SparkSession, source_dir: str, fmt: str,
                        catalog: Catalog, table_base: str, checkpoint: str,
                        historical_dir: str | None = None,
                        dedup: bool = True,
                        outdated_day_index: int = 1,
                        now=None,
                        trigger: dict | None = None,
                        shard_time=None,
                        max_files_per_trigger: int | None = None,
                        stats=None, error_monitor=None,
                        source_stream: DataFrame | None = None,
                        historical_producer=None,
                        errors_dir: str | None = None,
                        manifested: bool = False,
                        maintenance: dict | None = None,
                        state_partitions: int | None = None,
                        meta_store=None):
    """Start the real-time ingestion query over a source of envelope JSON
    lines. Returns the StreamingQuery.

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
    downstream tooling watches it. ``meta_store`` routes the K3
    bookkeeping kept under the checkpoint (``_ckpt_meta``).

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
    ``{"every_epochs": 16, "min_batches": 8}``), exposed as
    ``query.maintenance``.

    ``stats`` (``committer.IngestStats``, A2) and ``error_monitor``
    (``committer.ErrorRateMonitor``, ST11) are exposed on the query as
    ``query.stats`` / ``query.error_monitor``."""
    if historical_producer is not None and historical_dir is not None:
        raise ValueError(
            "pass historical_producer OR historical_dir, not both — "
            "late records hand off to exactly one K3 channel")
    maint_hook = _stream_setup(spark, table_base, manifested, maintenance,
                               state_partitions, dedup)
    if source_stream is not None:
        raw = source_stream.select(
            F.col("value").cast("string").alias("value"))
    else:
        reader = spark.readStream.format("text")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        raw = reader.load(source_dir)

    stream = raw.withColumn("_event_time", _event_time_expr(fmt))
    if dedup:
        stream = _dedup(stream,
                        F.get_json_object("value", _data_path(fmt, "_user")),
                        F.col("_event_time"))
    publish = historical_producer
    if historical_dir is not None:
        def publish(late: DataFrame) -> None:
            late.write.mode("append").text(historical_dir)

    return _start_epochs(
        spark, stream.select("value", "_event_time",
                             _json_label(fmt, errors_dir).alias("_label")),
        checkpoint, trigger,
        lambda hot: ingest_batch(spark, hot.select("value"), fmt, catalog,
                                 shard_time=shard_time,
                                 time_field=TIME_FIELD),
        count_drops=True, table_base=table_base, manifested=manifested,
        publish=publish, now=now,
        outdated_day_index=outdated_day_index, meta_store=meta_store,
        errors_dir=errors_dir, maint_hook=maint_hook, stats=stats,
        error_monitor=error_monitor)


def _decode_avro_frames(spark: SparkSession, frames: DataFrame,
                        get_columns, project: str,
                        default_collection: str | None,
                        bulk_base: str | None,
                        shard_time=None) -> IngestResult:
    """Typed tables from one micro-batch of routed Avro frames
    (columns ``_kind, _collection, value``), as an ``IngestResult``
    whose groups the manifested commit writes once each.

    Collections are grouped by SCHEMA SIGNATURE and each group decodes
    in ONE mapInPandas pass (the decoder emits ``_collection`` in-band,
    so the per-collection split is a JVM filter over the cached decoded
    frame) — plans scale with #schemas, not #collections, exactly the
    R1 fan-out rule the JSON path follows (ingest/batch.py). A
    100-collection micro-batch is 1 Python pass + 100 cheap filters,
    not 100 Python passes. Bulk rows get a literal ``_collection`` and
    join their collection's stream group, or form a one-collection
    group, so every collection sits in exactly one group. A null
    ``_shard_time`` takes ``shard_time`` (P1), as ``ingest_batch``
    sets it on the JSON path.

    Only collection NAMES and bulk POINTERS reach the driver (both
    bounded: #collections, #pointed-to objects per batch — each pointer
    names a ~256 MB object, the reference fetches the same list on its
    worker thread, AvroMessageEventTransformer.java:87-99); record data
    stays distributed end to end. Caller must ``unpersist()`` the
    result after writing."""
    from rakam_api_collector_spark.ingest.avro import (
        bulk_collections, decode_bulk_collection, decode_stream_records,
        parse_bulk_pointer, read_bulk_objects)

    caches: list[DataFrame] = []
    groups: list[tuple[str, list[str], DataFrame]] = []
    orders: dict[tuple[str, str], list[str]] = {}

    colls = [r[0] for r in (frames.filter(F.col("_kind") == "stream")
                            .select("_collection").distinct().collect())]
    by_sig: dict[tuple, list[str]] = {}
    for coll in sorted(c for c in colls if c is not None):
        fields = get_columns(project, coll)
        if fields is None:
            continue
        sig = tuple((f.name, f.dataType.simpleString()) for f in fields)
        by_sig.setdefault(sig, []).append(coll)

    for group in by_sig.values():
        fields = get_columns(project, group[0])
        typed = decode_stream_records(
            frames.filter((F.col("_kind") == "stream")
                          & F.col("_collection").isin(group))
            .select("value"),
            fields, default_collection=default_collection)
        if len(group) > 1:
            # cache the group's single decode so per-collection reads
            # don't re-run the Python stage (the JSON path caches its
            # parsed batch the same way)
            typed = typed.cache()
            caches.append(typed)
        groups.append((project, group, typed))
        orders.update(((project, c), [f.name for f in fields])
                      for c in group)

    ptrs = (frames.filter(F.col("_kind") == "bulk")
            .select("value").collect())
    if ptrs:
        if bulk_base is None:
            raise ValueError("bulk pointer received but no bulk_base "
                             "configured")
        paths = [f"{bulk_base}/{parse_bulk_pointer(bytes(r.value))[1]}"
                 for r in ptrs]
        objects = read_bulk_objects(spark, paths)
        at = {(p, c): i for i, (p, cs, _) in enumerate(groups) for c in cs}
        for p, c in bulk_collections(objects, get_columns):
            typed = decode_bulk_collection(objects, p, c, get_columns) \
                .select(F.lit(c).alias("_collection"), "*")
            i = at.get((p, c))
            if i is None:
                groups.append((p, [c], typed))
                orders[(p, c)] = [f.name for f in get_columns(p, c)]
            else:
                _, cs, df = groups[i]
                groups[i] = (p, cs, df.unionByName(typed))

    if shard_time is not None:
        groups = [(p, cs, df.withColumn("_shard_time", F.coalesce(
            "_shard_time", F.lit(shard_time).cast("timestamp"))))
            for p, cs, df in groups]
    return IngestResult(orders, caches, groups)


def start_avro_ingest_stream(spark: SparkSession, source_dir: str | None,
                             catalog: Catalog, table_base: str,
                             checkpoint: str, project: str,
                             default_collection: str | None = None,
                             historical_dir: str | None = None,
                             dedup: bool = True,
                             outdated_day_index: int = 1,
                             now=None,
                             trigger: dict | None = None,
                             shard_time=None, source: str = "kafka",
                             bulk_base: str | None = None,
                             source_stream: DataFrame | None = None,
                             stats=None, error_monitor=None,
                             errors_dir: str | None = None,
                             manifested: bool = False,
                             maintenance: dict | None = None,
                             state_partitions: int | None = None,
                             meta_store=None):
    """Avro twin of ``start_ingest_stream`` — the reference's per-config
    deserializer selection (KafkaStreamSourceModule.java:26-60 binds
    AVRO vs JSON; KafkaAvroMessageTransformer.java:33-57 is the Avro
    hot path): partial-parse routing keys → TTL dedup (ST6) → late split
    (ST3) with a raw-frame parquet spool (K3, ``historical_dir``) →
    per-collection typed decode → day-partitioned sinks (K1).

    The default source is a directory of framed binary records (one
    record per file, the binaryFile streaming source); pass
    ``source_stream`` (any streaming DataFrame with a binary ``value``
    column, e.g. ``sources.kafka.realtime_reader(...).load()``) to feed
    from a connector. Unlike the JSON path there is NO type inference:
    schemas come from the catalog only (AvroUtil.java:30-73 derives
    writer schemas from the metastore, never the wire).

    Deserialization failures are tagged ``_kind='corrupt'`` at routing
    (``extract_stream_routing``), which is the exact ST11 failure count
    (KafkaUtil.java:150-166). ``errors_dir`` spools them as parquet
    (value, n_bytes, first_byte_hex) so poison pills can be replayed
    after a decoder fix instead of being lost. Bulk pointers resolve on
    the realtime path (AvroMessageEventTransformer.java:87-99)."""
    from rakam_api_collector_spark.ingest.avro import extract_stream_routing

    maint_hook = _stream_setup(spark, table_base, manifested, maintenance,
                               state_partitions, dedup)
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

    routed = extract_stream_routing(raw, catalog.get_columns, project,
                                    default_collection=default_collection,
                                    source=source)
    stream = routed.withColumn("_event_time",
                               F.timestamp_millis("_time_ms"))
    if dedup:
        stream = _dedup(stream, F.col("_user"), F.col("_time_ms"))
    publish = None
    if historical_dir is not None:
        def publish(late: DataFrame) -> None:
            late.write.mode("append").parquet(historical_dir)

    return _start_epochs(
        spark, stream.select("_kind", "_collection", "value", "_event_time",
                             F.col("_kind").alias("_label")),
        checkpoint, trigger,
        lambda hot: _decode_avro_frames(spark, hot, catalog.get_columns,
                                        project, default_collection,
                                        bulk_base, shard_time),
        count_drops=False, table_base=table_base, manifested=manifested,
        publish=publish, now=now,
        outdated_day_index=outdated_day_index, meta_store=meta_store,
        errors_dir=errors_dir, maint_hook=maint_hook, stats=stats,
        error_monitor=error_monitor)


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
    realtime stream's; the drain's batch ids are namespaced by its own
    checkpoint, so a replayed drain epoch replaces its batch. A
    historical TOPIC can deliver corrupt frames, so they count against
    ``error_monitor`` and spool to ``errors_dir`` here too."""
    from pyspark.sql import types as T

    from rakam_api_collector_spark.ingest.avro import extract_stream_routing

    if source_stream is not None:
        raw = source_stream.select(F.col("value"))
    else:
        raw = (spark.readStream
               .schema(T.StructType([T.StructField("value",
                                                   T.BinaryType())]))
               .format("parquet").load(historical_dir))

    routed = extract_stream_routing(raw, catalog.get_columns, project,
                                    default_collection=default_collection,
                                    source=source)
    return _start_epochs(
        spark, routed.select("_kind", "_collection", "value",
                             F.col("_kind").alias("_label")),
        checkpoint, trigger,
        lambda hot: _decode_avro_frames(spark, hot, catalog.get_columns,
                                        project, default_collection,
                                        bulk_base, shard_time),
        count_drops=False, table_base=table_base, manifested=manifested,
        errors_dir=errors_dir, name="historical",
        stats=stats, error_monitor=error_monitor)


def start_historical_stream(spark: SparkSession, historical_dir: str | None,
                            fmt: str, catalog: Catalog, table_base: str,
                            checkpoint: str, trigger: dict | None = None,
                            shard_time=None,
                            source_stream: DataFrame | None = None,
                            errors_dir: str | None = None,
                            manifested: bool = False,
                            stats=None, error_monitor=None):
    """ST5: drain the historical spool in big, low-frequency batches
    (reference: 30 min cadence or 500k-record lag,
    KafkaHistoricalWorker.java:157-219) into the same tables — no late
    split, no dedup (already done on the hot path). ``source_stream``
    substitutes a connector stream (e.g. the historical Kafka topic,
    ``sources.kafka.historical_reader(...).load()``) for the spool dir;
    such a topic can carry envelopes the parser would drop, so
    ``errors_dir`` and ``error_monitor`` treat them as on the realtime
    path. ``manifested`` must match the realtime stream's, so drained
    rows land in the tables its readers read."""
    if source_stream is not None:
        raw = source_stream.select(
            F.col("value").cast("string").alias("value"))
    else:
        raw = spark.readStream.format("text").load(historical_dir)

    return _start_epochs(
        spark, raw.select("value",
                          _json_label(fmt, errors_dir).alias("_label")),
        checkpoint, trigger,
        lambda hot: ingest_batch(spark, hot.select("value"), fmt, catalog,
                                 shard_time=shard_time,
                                 time_field=TIME_FIELD),
        count_drops=True, table_base=table_base, manifested=manifested,
        errors_dir=errors_dir, name="historical",
        stats=stats, error_monitor=error_monitor)
