"""End-to-end Avro streaming ingestion — reference parity for the
per-config deserializer selection (KafkaStreamSourceModule.java:26-60)
and the Avro hot path (KafkaAvroMessageTransformer.java:33-57): framed
binary records → partial-parse routing keys → TTL dedup → late split +
raw-frame spool → per-collection typed decode → day-partitioned tables.

Uses the wire-faithful encoder (ingest/avro.py encode_*) to drive real
framed bytes through app.start(format="avro") and the stream starters.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from rakam_api_collector_spark import app
from rakam_api_collector_spark.ingest import Catalog
from rakam_api_collector_spark.ingest import avro as A
from rakam_api_collector_spark.sinks import read_collection
from rakam_api_collector_spark.streaming import (
    start_avro_historical_stream,
    start_avro_ingest_stream,
)

NOW = "2020-06-01"
SHARD_T = "2020-06-01 00:00:00"
EXTRA = [T.StructField("v", T.DoubleType())]


def _ms(iso: str) -> int:
    return int(dt.datetime.fromisoformat(iso + "+00:00").timestamp() * 1000)


def _mk_catalog(path) -> tuple[Catalog, list[T.StructField]]:
    cat = Catalog(str(path))
    fields = cat.create_table("p1", "t", EXTRA)
    return cat, fields


def _frame(fields, user, iso, v, collection="t"):
    # wire order = catalog order: [_shard_time, _time, _user, v]
    values = [None, None if iso is None else _ms(iso), user, v]
    if collection is None:
        return A.encode_stream_record(fields, values)
    return A.encode_stream_record(fields, values, collection=collection)


def _write_frames(dirpath, frames):
    dirpath.mkdir(parents=True, exist_ok=True)
    for i, fr in enumerate(frames):
        (dirpath / f"r{i:04d}.bin").write_bytes(fr)


def test_avro_app_end_to_end_with_dedup(spark, tmp_path):
    """app.start(format='avro') over a directory of framed records:
    duplicate (_user, _time) dropped (ST6), null-user records never
    deduped, unknown first bytes skipped, typed rows land
    day-partitioned with _shard_time backfilled."""
    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    frames = [
        _frame(fields, "u0", "2020-06-01T10:00:00", 0.0),
        _frame(fields, "u0", "2020-06-01T10:00:00", 0.0),     # dup
        _frame(fields, "u1", "2020-06-01T10:00:01", 1.0,
               collection=None),                               # type-0
        _frame(fields, None, "2020-06-01T11:00:00", 9.0),
        _frame(fields, None, "2020-06-01T11:00:00", 9.0),      # null: kept
        b"\x07garbage",                                        # ignored
    ]
    src = tmp_path / "src"
    _write_frames(src, frames)

    qs = app.start(spark, {
        "format": "avro",
        "project": "p1",
        "default_collection": "t",
        "source": {"type": "file", "path": str(src)},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "catalog_path": str(tmp_path / "catalog.json"),
        "checkpoint": str(tmp_path / "ckpt"),
        "shard_time": SHARD_T,
        "now": NOW,
        "dedup": True,
    })
    for q in qs:
        q.awaitTermination(120)

    df = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    rows = df.collect()
    assert sorted(r["v"] for r in rows) == [0.0, 1.0, 9.0, 9.0]
    assert df.filter(F.col("_user") == "u0").count() == 1
    assert df.filter(F.col("_user").isNull()).count() == 2
    # _shard_time backfilled where the wire had null
    assert all(r["_shard_time"] is not None for r in rows)
    assert {r["_time"].date().isoformat() for r in rows} == {"2020-06-01"}


def test_avro_late_split_spools_and_replays(spark, tmp_path):
    """ST3 + ST5 on the Avro path: an outdated record spools as a RAW
    frame (parquet binary), the historical stream decodes it into the
    same table; the hot record lands immediately."""
    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    frames = [
        _frame(fields, "u0", "2020-06-01T10:00:00", 1.0),
        _frame(fields, "u1", "2020-05-01T10:00:00", 2.0),      # 31 days late
    ]
    src = tmp_path / "src"
    _write_frames(src, frames)
    hist_dir = tmp_path / "hist"

    q = start_avro_ingest_stream(
        spark, str(src), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        historical_dir=str(hist_dir), now=NOW, shard_time=SHARD_T)
    q.awaitTermination(120)

    hot = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    assert [r["v"] for r in hot.collect()] == [1.0]

    q2 = start_avro_historical_stream(
        spark, str(hist_dir), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt_hist"), project="p1",
        shard_time=SHARD_T)
    q2.awaitTermination(120)

    merged = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    assert sorted(r["v"] for r in merged.collect()) == [1.0, 2.0]


def test_avro_bulk_pointer_resolution(spark, tmp_path):
    """S4/D7 in-stream: a type-3 pointer record resolves against
    bulk_base, the pointed-to multi-record object decodes with the
    prefix-schema (colCount) path, and bulk rows merge with stream rows
    of the same collection."""
    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    bulk_rows = [[None, _ms("2020-06-01T09:00:00"), "b1", 10.0],
                 [None, _ms("2020-06-01T09:00:01"), "b2", 11.0]]
    obj = A.encode_bulk_stream("p1", [("t", fields, 4, bulk_rows)])
    bulk_base = tmp_path / "bulk"
    bulk_base.mkdir()
    (bulk_base / "obj1").write_bytes(obj)

    frames = [
        _frame(fields, "u0", "2020-06-01T10:00:00", 1.0),
        A.encode_bulk_pointer("obj1", len(obj)),
    ]
    src = tmp_path / "src"
    _write_frames(src, frames)

    q = start_avro_ingest_stream(
        spark, str(src), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        bulk_base=str(bulk_base), now=NOW, shard_time=SHARD_T)
    q.awaitTermination(120)

    df = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    assert sorted(r["v"] for r in df.collect()) == [1.0, 10.0, 11.0]
    assert sorted(r["_user"] for r in df.collect()) == ["b1", "b2", "u0"]


def test_avro_corrupt_frames_counted_by_monitor(spark, tmp_path):
    """ST11 on the Avro path: truncated/garbled record bodies tag
    _kind='corrupt' at routing and feed the error monitor exactly;
    stats count decoded rows per collection (A2)."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    good = _frame(fields, "u0", "2020-06-01T10:00:00", 1.0)
    truncated = good[:6]                       # body cut mid-varint
    unknown_coll = _frame(fields, "u1", "2020-06-01T10:00:01", 2.0,
                          collection="nope")
    src = tmp_path / "src"
    _write_frames(src, [good, truncated, unknown_coll])

    stats = IngestStats()
    mon = ErrorRateMonitor(min_records=1000)   # count, don't kill
    q = start_avro_ingest_stream(
        spark, str(src), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        now=NOW, shard_time=SHARD_T, stats=stats, error_monitor=mon)
    q.awaitTermination(120)

    assert stats.total_records() == 1
    ok = sum(e[1] for e in mon._events)
    failed = sum(e[2] for e in mon._events)
    assert (ok, failed) == (1, 2)


def test_avro_corrupt_counted_with_historical_dir(spark, tmp_path):
    """Corrupt frames have null _event_time; they must NOT divert to the
    raw-frame spool when historical_dir is set — they stay on the hot
    path where ST11 accounting sees them, and only late STREAM records
    spool (split_late runs on _kind=='stream' rows only)."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    good = _frame(fields, "u0", "2020-06-01T10:00:00", 1.0)
    late = _frame(fields, "u1", "2020-05-01T10:00:00", 2.0)  # 31 days late
    truncated = good[:6]                        # body cut mid-varint
    src = tmp_path / "src"
    _write_frames(src, [good, late, truncated])
    hist_dir = tmp_path / "hist"

    stats = IngestStats()
    mon = ErrorRateMonitor(min_records=1000)    # count, don't kill
    q = start_avro_ingest_stream(
        spark, str(src), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        historical_dir=str(hist_dir), now=NOW, shard_time=SHARD_T,
        stats=stats, error_monitor=mon,
        errors_dir=str(tmp_path / "errors"))
    q.awaitTermination(120)

    # the corrupt frame was counted even though historical_dir is set
    assert sum(e[2] for e in mon._events) == 1
    # only the late STREAM frame reached the spool
    spooled = spark.read.parquet(str(hist_dir)).collect()
    assert len(spooled) == 1 and bytes(spooled[0].value) == late
    hot = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    assert [r["v"] for r in hot.collect()] == [1.0]
    # dead-letter spool: the corrupt frame is replayable, not lost
    dead = spark.read.parquet(str(tmp_path / "errors")).collect()
    assert len(dead) == 1 and bytes(dead[0].value) == truncated
    assert dead[0].n_bytes == len(truncated)
    assert dead[0].first_byte_hex == f"{truncated[0]:02X}"


def test_avro_bulk_stays_hot_with_historical_dir(spark, tmp_path):
    """Bulk pointers (type 3, null _event_time) resolve on the REALTIME
    path even when historical_dir is set — the reference fetches bulk
    objects immediately (AvroMessageEventTransformer.java:87-99); they
    never wait on the slow-trigger historical stream."""
    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    bulk_rows = [[None, _ms("2020-06-01T09:00:00"), "b1", 10.0]]
    obj = A.encode_bulk_stream("p1", [("t", fields, 4, bulk_rows)])
    bulk_base = tmp_path / "bulk"
    bulk_base.mkdir()
    (bulk_base / "obj1").write_bytes(obj)

    frames = [
        _frame(fields, "u0", "2020-06-01T10:00:00", 1.0),
        A.encode_bulk_pointer("obj1", len(obj)),
    ]
    src = tmp_path / "src"
    _write_frames(src, frames)
    hist_dir = tmp_path / "hist"

    q = start_avro_ingest_stream(
        spark, str(src), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        historical_dir=str(hist_dir), bulk_base=str(bulk_base),
        now=NOW, shard_time=SHARD_T)
    q.awaitTermination(120)

    # bulk row landed immediately, without running the historical stream
    df = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    assert sorted(r["v"] for r in df.collect()) == [1.0, 10.0]
    # nothing hot-path spooled (no late records in this corpus)
    import os
    spool_files = [f for f in os.listdir(hist_dir)
                   if f.endswith(".parquet")] if hist_dir.exists() else []
    if spool_files:
        assert spark.read.parquet(str(hist_dir)).count() == 0


def test_avro_historical_stream_accounts_corrupt(spark, tmp_path):
    """A historical TOPIC can deliver corrupt frames (the hot-path
    spool never does): the historical stream must count them (ST11)
    and dead-letter them when errors_dir is set — never drop silently."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    good = _frame(fields, "u0", "2020-05-01T10:00:00", 2.0)
    truncated = good[:6]
    # simulate a historical-topic payload landing in the spool layout
    hist_dir = tmp_path / "hist"
    spark.createDataFrame([(good,), (truncated,)], "value binary") \
        .write.parquet(str(hist_dir))

    stats = IngestStats()
    mon = ErrorRateMonitor(min_records=1000)
    q = start_avro_historical_stream(
        spark, str(hist_dir), cat, str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt_h"), project="p1",
        shard_time=SHARD_T, stats=stats, error_monitor=mon,
        errors_dir=str(tmp_path / "errors"))
    q.awaitTermination(120)

    df = read_collection(spark, str(tmp_path / "tables"), "p1", "t", cat)
    assert [r["v"] for r in df.collect()] == [2.0]
    assert stats.total_records() == 1
    assert sum(e[2] for e in mon._events) == 1
    dead = spark.read.parquet(str(tmp_path / "errors")).collect()
    assert len(dead) == 1 and bytes(dead[0].value) == truncated


def test_avro_kinesis_source_skips_type1(spark, tmp_path):
    """Kinesis first-byte dispatch parity: type-1 frames are the
    obsolete bulk format and skip silently (no corrupt tag, no row) —
    KinesisRecordProcessor.java:79-99."""
    from rakam_api_collector_spark.ingest.avro import (
        TYPE_STREAM1, encode_record, extract_stream_routing)

    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    t1 = bytes([TYPE_STREAM1]) + encode_record(
        fields, [None, _ms("2020-06-01T10:00:00"), "u9", 5.0])
    t2 = _frame(fields, "u0", "2020-06-01T10:00:00", 1.0)
    df = spark.createDataFrame([(t1,), (t2,)], "value binary")

    kin = extract_stream_routing(df, cat.get_columns, "p1",
                                 default_collection="t",
                                 source="kinesis").collect()
    assert [(r._kind, r._user) for r in kin] == [("stream", "u0")]

    kafka = extract_stream_routing(df, cat.get_columns, "p1",
                                   default_collection="t",
                                   source="kafka").collect()
    assert sorted(r._user for r in kafka) == ["u0", "u9"]


def test_avro_stream_vs_batch_end_state_parity(spark, tmp_path):
    """End-state parity: the SAME encoded corpus (multi-collection,
    multi-schema, late data, a bulk pointer) ingested through (a) the
    streaming path — hot stream + historical replay of the spool — and
    (b) one batch pass over the routed frames must leave IDENTICAL
    tables: same schema, same rows, per collection. The JSON path pins
    this; this is the Avro twin."""
    from rakam_api_collector_spark.streaming.pipeline import (
        _decode_avro_frames)

    cat = Catalog(str(tmp_path / "catalog.json"))
    f_t = cat.create_table("p1", "t", EXTRA)            # v double
    f_s = cat.create_table("p1", "s", [
        T.StructField("label", T.StringType()),
        T.StructField("v", T.DoubleType())])

    bulk_rows = [[None, _ms("2020-06-01T08:00:00"), "b1", 7.0]]
    obj = A.encode_bulk_stream("p1", [("t", f_t, 4, bulk_rows)])
    bulk_base = tmp_path / "bulk"
    bulk_base.mkdir()
    (bulk_base / "obj1").write_bytes(obj)

    frames = [
        _frame(f_t, "u0", "2020-06-01T10:00:00", 1.0),
        _frame(f_t, "u1", "2020-05-01T10:00:00", 2.0),   # 31 days late
        A.encode_stream_record(
            f_s, [None, _ms("2020-06-01T10:00:02"), "u2", "x", 3.0],
            collection="s"),
        A.encode_stream_record(
            f_s, [None, _ms("2020-04-20T10:00:02"), "u3", "y", 4.0],
            collection="s"),                             # late
        A.encode_bulk_pointer("obj1", len(obj)),
    ]
    src = tmp_path / "src"
    _write_frames(src, frames)

    # (a) streaming: hot + spool replay
    sbase = tmp_path / "tables_stream"
    q = start_avro_ingest_stream(
        spark, str(src), cat, str(sbase),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        historical_dir=str(tmp_path / "hist"), bulk_base=str(bulk_base),
        now=NOW, shard_time=SHARD_T)
    q.awaitTermination(120)
    q2 = start_avro_historical_stream(
        spark, str(tmp_path / "hist"), cat, str(sbase),
        checkpoint=str(tmp_path / "ckpt_hist"), project="p1",
        shard_time=SHARD_T)
    q2.awaitTermination(120)

    # (b) batch: one routed decode over the same frames
    from rakam_api_collector_spark.ingest.avro import extract_stream_routing
    from rakam_api_collector_spark.sinks import write_collections
    bbase = tmp_path / "tables_batch"
    raw = spark.createDataFrame([(f,) for f in frames], "value binary")
    routed = extract_stream_routing(raw, cat.get_columns, "p1")
    tables = _decode_avro_frames(spark, routed, cat.get_columns, "p1",
                                 None, str(bulk_base))
    try:
        out = {k: df.withColumn(
            "_shard_time", F.coalesce(
                "_shard_time", F.lit(SHARD_T).cast("timestamp")))
            for k, df in tables.items()}
        write_collections(out, str(bbase))
    finally:
        tables.unpersist()

    for coll in ("t", "s"):
        a = read_collection(spark, str(sbase), "p1", coll, cat)
        b = read_collection(spark, str(bbase), "p1", coll, cat)
        assert a.schema == b.schema, coll
        key = [f.name for f in a.schema.fields]
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb, f"{coll}: stream {ra} != batch {rb} ({key})"
    # sanity on content: t = hot + late + bulk, s = hot + late
    t_rows = read_collection(spark, str(sbase), "p1", "t", cat).collect()
    assert sorted(r["v"] for r in t_rows) == [1.0, 2.0, 7.0]
    s_rows = read_collection(spark, str(sbase), "p1", "s", cat).collect()
    assert sorted(r["label"] for r in s_rows) == ["x", "y"]


def test_avro_decode_groups_by_schema_not_collection(spark, tmp_path):
    """R1 fan-out rule on the Avro path: N same-schema collections
    decode in ONE cached Python pass (plans scale with #schemas, not
    #collections); the per-collection tables are filters over it."""
    from rakam_api_collector_spark.streaming.pipeline import (
        _decode_avro_frames)

    cat = Catalog(str(tmp_path / "catalog.json"))
    fields = None
    for c in ("a", "b", "c"):
        fields = cat.create_table("p1", c)
    frames = [
        A.encode_stream_record(
            fields, [None, _ms("2020-06-01T10:00:00"), f"u{i}"],
            collection=c)
        for i, c in enumerate(("a", "b", "c"))]
    df = spark.createDataFrame(
        [("stream", c, f) for c, f in zip(("a", "b", "c"), frames)],
        "_kind string, _collection string, value binary")

    tables = _decode_avro_frames(spark, df, cat.get_columns, "p1",
                                 None, None)
    try:
        assert set(tables) == {("p1", c) for c in ("a", "b", "c")}
        assert len(tables._caches) == 1          # one decode, cached
        assert {r._user for r in tables[("p1", "b")].collect()} == {"u1"}
    finally:
        tables.unpersist()


def test_avro_historical_spool_idempotent_across_epoch_replay(
        spark, tmp_path):
    """Epoch REPLAY must not re-append late frames to the K3 spool
    (the Avro twin of the kafka_py topic-form test): a crash injected
    AFTER the spool write fails the query mid-epoch; the restarted
    query replays the epoch through process(), and the checkpoint's
    hist_published marker skips the re-append — the spool carries the
    late frame exactly once, so a dedup-less historical drain stays
    duplicate-free on this path too."""
    import os

    import pyspark.errors

    cat, fields = _mk_catalog(tmp_path / "catalog.json")
    frames = [
        _frame(fields, "u0", "2020-06-01T10:00:00", 1.0),
        _frame(fields, "u1", "2020-05-01T10:00:00", 2.0),  # 31 days late
    ]
    src = tmp_path / "src"
    _write_frames(src, frames)
    hist_dir = tmp_path / "hist"
    flag = str(tmp_path / "crashed_once")

    class FlakyStats:
        def add(self, project, collection, n):
            if not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("injected post-handoff crash")

    def run(stats):
        q = start_avro_ingest_stream(
            spark, str(src), cat, str(tmp_path / "tables"),
            checkpoint=str(tmp_path / "ckpt"), project="p1",
            historical_dir=str(hist_dir), now=NOW, shard_time=SHARD_T,
            stats=stats)
        q.awaitTermination(120)

    try:
        run(FlakyStats())
        raise AssertionError("injected crash did not surface")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    assert spark.read.parquet(str(hist_dir)).count() == 1  # pre-crash

    run(None)                              # replay of the epoch
    assert spark.read.parquet(str(hist_dir)).count() == 1  # not twice


def _write_parquet_bursts(dirpath, bursts):
    """One parquet file of raw frames per burst, mtimes increasing so
    ``maxFilesPerTrigger=1`` reads one burst per epoch; an empty burst
    is a zero-row file, i.e. an epoch with no rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    dirpath.mkdir(parents=True, exist_ok=True)
    for i, frames in enumerate(bursts):
        f = dirpath / f"b{i:02d}.parquet"
        pq.write_table(pa.table({"value": pa.array(frames, pa.binary())}),
                       f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))


def test_avro_epoch_jobs_do_not_grow_with_collections(spark, tmp_path,
                                                      epoch_jobs):
    """The Avro twin of the JSON job budget: with manifested commits,
    the raw-frame spool, dedup and the counters on, an epoch with no
    rows runs exactly one job, and 5 collections cost at most 3 jobs
    more than 2 (one manifest write each)."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    cat = Catalog(str(tmp_path / "catalog.json"))
    fields = None
    for c in range(5):
        fields = cat.create_table("p1", f"t{c}", EXTRA)

    def burst(n_collections, per=3):
        return [_frame(fields, f"u{c}-{i}", f"2020-06-01T10:{c:02d}:{i:02d}",
                       float(i), collection=f"t{c}")
                for c in range(n_collections) for i in range(per)]

    def run(name, bursts):
        src = tmp_path / f"src_{name}"
        _write_parquet_bursts(src, bursts)
        stats = IngestStats()
        epoch_jobs.clear()
        q = start_avro_ingest_stream(
            spark, None, cat, str(tmp_path / f"tables_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"), project="p1",
            historical_dir=str(tmp_path / f"hist_{name}"),
            now=NOW, shard_time=SHARD_T, dedup=True, manifested=True,
            stats=stats, error_monitor=ErrorRateMonitor(),
            source_stream=spark.readStream.schema("value binary")
            .option("maxFilesPerTrigger", 1).parquet(str(src)))
        assert q.awaitTermination(120)
        assert stats.total_records() == sum(len(b) for b in bursts)
        rows = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
        return dict(epoch_jobs), rows

    jobs2, rows2 = run("two", [burst(2), []])
    jobs5, rows5 = run("five", [burst(5)])

    empty = [e for e, n in rows2.items() if n == 0]
    assert empty, f"no empty epoch ran: {rows2}"
    assert all(jobs2[e] == 1 for e in empty), (jobs2, rows2)
    data2 = next(jobs2[e] for e, n in rows2.items() if n == 6)
    data5 = next(jobs5[e] for e, n in rows5.items() if n == 15)
    assert data5 - data2 <= 3, (jobs2, jobs5)


def test_avro_historical_drain_epoch_jobs_do_not_grow_with_collections(
        spark, tmp_path, epoch_jobs):
    """The Avro drain runs the same epoch body as the realtime stream:
    with manifested commits and the counters on, an empty-file epoch
    runs exactly one job and 5 collections cost at most 3 jobs more
    than 2."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    cat = Catalog(str(tmp_path / "catalog.json"))
    fields = None
    for c in range(5):
        fields = cat.create_table("p1", f"t{c}", EXTRA)

    def burst(n_collections, per=3):
        return [_frame(fields, f"u{c}-{i}", f"2020-06-01T10:{c:02d}:{i:02d}",
                       float(i), collection=f"t{c}")
                for c in range(n_collections) for i in range(per)]

    def run(name, bursts):
        src = tmp_path / f"src_{name}"
        _write_parquet_bursts(src, bursts)
        stats = IngestStats()
        epoch_jobs.clear()
        q = start_avro_historical_stream(
            spark, None, cat, str(tmp_path / f"tables_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"), project="p1",
            shard_time=SHARD_T, manifested=True,
            stats=stats, error_monitor=ErrorRateMonitor(),
            source_stream=spark.readStream.schema("value binary")
            .option("maxFilesPerTrigger", 1).parquet(str(src)))
        assert q.awaitTermination(120)
        assert stats.total_records() == sum(len(b) for b in bursts)
        rows = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
        return dict(epoch_jobs), rows

    jobs2, rows2 = run("two", [burst(2), []])
    jobs5, rows5 = run("five", [burst(5)])

    empty = [e for e, n in rows2.items() if n == 0]
    assert empty, f"no empty epoch ran: {rows2}"
    assert all(jobs2[e] == 1 for e in empty), (jobs2, rows2)
    data2 = next(jobs2[e] for e, n in rows2.items() if n == 6)
    data5 = next(jobs5[e] for e, n in rows5.items() if n == 15)
    assert data5 - data2 <= 3, (jobs2, jobs5)


def test_avro_k3_split_replays_no_state_changelog(spark, tmp_path):
    """The Avro twin of the JSON replay test: with dedup and the
    raw-frame spool, no data epoch replays RocksDB changelog files;
    every frame is committed, spooled late or dead-lettered exactly
    once, and the A2 and ST11 counters are exact."""
    from rakam_api_collector_spark.manifest import ManifestedTable
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)
    from tests.test_streaming import _replayed_changelog_files

    cat = Catalog(str(tmp_path / "catalog.json"))
    fields = None
    for c in range(2):
        fields = cat.create_table("p1", f"t{c}", EXTRA)

    def burst(b):
        good = [_frame(fields, f"b{b}u{c}-{i}",
                       f"2020-06-01T10:{c:02d}:{i:02d}", float(i),
                       collection=f"t{c}")
                for c in range(2) for i in range(3)]
        late = _frame(fields, f"late{b}", "2020-05-20T10:00:00", 1.0,
                      collection="t0")              # late, not expired
        return good + [late, good[0][:6]]           # + a truncated frame

    bursts = [burst(b) for b in range(4)]
    bursts[3].append(bursts[2][0])                  # dedup drops it
    src, base = tmp_path / "src", str(tmp_path / "tables")
    _write_parquet_bursts(src, bursts)
    stats, mon = IngestStats(), ErrorRateMonitor(min_records=1000)
    q = start_avro_ingest_stream(
        spark, None, cat, base, checkpoint=str(tmp_path / "ckpt"),
        project="p1", historical_dir=str(tmp_path / "hist"),
        errors_dir=str(tmp_path / "errors"), now=NOW, shard_time=SHARD_T,
        dedup=True, manifested=True, stats=stats, error_monitor=mon,
        source_stream=spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1).parquet(str(src)))
    assert q.awaitTermination(120)

    replayed = _replayed_changelog_files(q)
    assert len(replayed) == 4 and not any(replayed.values()), replayed
    committed = sum(ManifestedTable(base, "p1", f"t{c}").read(spark)
                    .count() for c in range(2))
    handed = spark.read.parquet(str(tmp_path / "hist")).count()
    dead = spark.read.parquet(str(tmp_path / "errors")).count()
    assert (committed, handed, dead) == (24, 4, 4)
    assert committed + handed + dead == sum(map(len, bursts)) - 1
    assert stats.records == {("p1", "t0"): 12, ("p1", "t1"): 12}
    assert (sum(e[1] for e in mon._events),
            sum(e[2] for e in mon._events)) == (24, 4)


def test_avro_manifested_epoch_jobs_same_for_five_collections_as_two(
        spark, tmp_path, epoch_jobs):
    """The Avro decoder returns schema groups, so a manifested data
    epoch writes one parquet job per group: with dedup, the raw-frame
    spool and the counters on, 5 same-schema collections run no more
    jobs than 2."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    cat = Catalog(str(tmp_path / "catalog.json"))
    fields = None
    for c in range(5):
        fields = cat.create_table("p1", f"t{c}", EXTRA)

    def data_epoch_jobs(n_collections):
        name = f"n{n_collections}"
        src = tmp_path / f"src_{name}"
        _write_parquet_bursts(src, [[
            _frame(fields, f"u{c}-{i}", f"2020-06-01T10:{c:02d}:{i:02d}",
                   float(i), collection=f"t{c}")
            for c in range(n_collections) for i in range(3)]])
        stats = IngestStats()
        epoch_jobs.clear()
        q = start_avro_ingest_stream(
            spark, None, cat, str(tmp_path / f"tables_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"), project="p1",
            historical_dir=str(tmp_path / f"hist_{name}"),
            now=NOW, shard_time=SHARD_T, dedup=True, manifested=True,
            stats=stats, error_monitor=ErrorRateMonitor(),
            source_stream=spark.readStream.schema("value binary")
            .parquet(str(src)))
        assert q.awaitTermination(120)
        assert stats.total_records() == 3 * n_collections
        [(epoch, n)] = [(p["batchId"], p["numInputRows"])
                        for p in q.recentProgress if p["numInputRows"]]
        return epoch_jobs[epoch]

    two, five = data_epoch_jobs(2), data_epoch_jobs(5)
    assert five <= two, (two, five)


def test_avro_grouped_commit_matches_per_table_write(spark, tmp_path):
    """An Avro epoch committed from its schema groups
    (``_commit_tables(res, …)``) gives each collection what the
    per-collection write gives it (``_commit_tables(dict(res), …)``):
    the same entry rows, batch id and schema, and the same ``read()``
    and ``format("manifest")`` rows and column order. ``t`` and ``u``
    share a schema group and ``t`` also gets bulk rows, ``b`` has bulk
    rows only, ``s`` has its own schema and a CHECK constraint, and
    ``_shard_time`` is backfilled. While the constraint refuses, both
    paths raise and ``s`` stays empty; once it passes, the replay of
    the same batch id commits every collection alike."""
    import pytest

    from rakam_api_collector_spark.datasource import ManifestDataSource
    from rakam_api_collector_spark.ingest.avro import extract_stream_routing
    from rakam_api_collector_spark.manifest import (ConstraintViolation,
                                                    ManifestedTable)
    from rakam_api_collector_spark.streaming.pipeline import (
        _commit_tables, _decode_avro_frames)

    spark.dataSource.register(ManifestDataSource)
    cat = Catalog(str(tmp_path / "catalog.json"))
    f_t = cat.create_table("p1", "t", EXTRA)
    cat.create_table("p1", "u", EXTRA)
    f_b = cat.create_table("p1", "b", EXTRA)
    f_s = cat.create_table("p1", "s", [
        T.StructField("label", T.StringType()),
        T.StructField("v", T.DoubleType())])
    obj = A.encode_bulk_stream("p1", [
        ("t", f_t, 4, [[None, _ms("2020-06-02T08:00:00"), "bt", 7.0]]),
        ("b", f_b, 4, [[None, _ms("2020-06-01T08:00:00"), "bb", 8.0]])])
    bulk_base = tmp_path / "bulk"
    bulk_base.mkdir()
    (bulk_base / "obj1").write_bytes(obj)
    frames = [_frame(f_t, f"{c}{i}", f"2020-06-0{i % 2 + 1}T10:00:0{i}",
                     float(i), collection=c)
              for c in ("t", "u") for i in range(3)]
    frames += [A.encode_stream_record(
        f_s, [None, _ms(f"2020-06-01T11:00:0{i}"), f"s{i}", f"x{i}",
              -float(i)], collection="s") for i in range(3)]
    frames.append(A.encode_bulk_pointer("obj1", len(obj)))
    routed = extract_stream_routing(
        spark.createDataFrame([(f,) for f in frames], "value binary"),
        cat.get_columns, "p1")
    colls = ("t", "u", "b", "s")
    gbase, tbase = str(tmp_path / "grouped"), str(tmp_path / "per_table")

    def commit(grouped: bool):
        res = _decode_avro_frames(spark, routed, cat.get_columns, "p1",
                                  None, str(bulk_base), SHARD_T)
        try:
            if grouped:         # every collection in exactly one group
                assert sorted(c for _, cs, _ in res.groups for c in cs) \
                    == sorted(colls)
                return _commit_tables(res, gbase, True, "ckpt", 0)
            return _commit_tables(dict(res), tbase, True, "ckpt", 0)
        finally:
            res.unpersist()

    guarded = [ManifestedTable(b, "p1", "s") for b in (gbase, tbase)]
    for t in guarded:
        t.add_constraint("v_floor", "v >= 0")
    for grouped in (True, False):
        with pytest.raises(ConstraintViolation, match="v_floor"):
            commit(grouped)
    assert [t.committed() for t in guarded] == [[], []]
    for t in guarded:
        t.drop_constraint("v_floor")
        t.add_constraint("v_floor", "v >= -10")

    want = {("p1", "t"): 4, ("p1", "u"): 3, ("p1", "b"): 1, ("p1", "s"): 3}
    assert commit(True) == commit(False) == want

    def sort(rows):
        return sorted(tuple(r) for r in rows)

    for c in colls:
        g, t = (ManifestedTable(b, "p1", c) for b in (gbase, tbase))
        [eg], [et] = g.committed(), t.committed()
        assert (eg["rows"], eg["batch"], eg["schema"]) == \
            (et["rows"], et["batch"], et["schema"]), c
        rg, rt = g.read(spark), t.read(spark)
        assert rg.columns == rt.columns == \
            [f.name for f in cat.get_columns("p1", c)] + ["_day"]
        assert sort(rg.collect()) == sort(rt.collect()), c
        assert all(r["_shard_time"] is not None for r in rg.collect())
        mg, mt = (spark.read.format("manifest").option("path", x.table_dir)
                  .load() for x in (g, t))
        assert mg.columns == mt.columns
        assert sort(mg.collect()) == sort(mt.collect()), c
