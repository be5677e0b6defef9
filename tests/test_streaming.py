"""Streaming lifecycle tests (ST1-ST7): late split + re-promotion,
stateful dedup, end-state parity stream-vs-batch, historical replay.
Mirrors the reference stress shape (KafkaStressTest.java:107-137) at
test scale.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from rakam_api_collector_spark.ingest import Catalog, ingest_batch
from rakam_api_collector_spark.sinks import read_collection
from rakam_api_collector_spark.streaming import (
    split_late,
    start_historical_stream,
    start_ingest_stream,
)
from tests.test_ingest import fabric

NOW = "2020-06-01"
SHARD_T = "2020-06-01 00:00:00"


# --- ST3/ST4 late split ------------------------------------------------------

def _ts_df(spark, ts_list):
    return spark.createDataFrame([(t,) for t in ts_list], ["_time"]) \
        .select(F.col("_time").cast("timestamp"))


def test_split_late_day_window(spark):
    rt, hist = split_late(
        _ts_df(spark, ["2020-06-01 10:00:00", "2020-05-31 09:00:00",
                       "2020-05-29 08:00:00", None]),
        now=NOW, outdated_day_index=1)
    assert rt.count() == 2          # today + yesterday
    assert hist.count() == 2        # old day + null time


def test_split_late_repromotion(spark):
    """An old day with >N records and >25% of the batch is a backfill
    and stays real-time (KafkaRealTimeWorker.java:370-384)."""
    old_bulk = ["2020-05-01 00:00:00"] * 30
    fresh = ["2020-06-01 00:00:00"] * 10
    stray = ["2020-04-01 00:00:00"] * 5
    rt, hist = split_late(_ts_df(spark, old_bulk + fresh + stray),
                          now=NOW, promote_min_records=20,
                          promote_min_fraction=0.25)
    assert rt.count() == 40         # fresh + promoted bulk day
    assert hist.count() == 5        # stray old day below both thresholds


def test_split_late_boundaries_and_precomputed_counts(spark):
    """Re-promotion needs strictly more than both thresholds: a day
    holding exactly ``promote_min_records`` rows, or exactly 25% of the
    batch, stays historical, as does a null time. Passing the day
    counts in gives the same partition as letting split_late take
    them."""
    def rows(days):
        return [(i, t) for i, t in enumerate(
            t for t, n in days for _ in range(n))]

    at_min = rows([("2020-05-01 00:00:00", 4),     # 4 rows = min, 44%
                   ("2020-06-01 00:00:00", 4), (None, 1)])
    at_fraction = rows([("2020-05-01 00:00:00", 5),  # 25% of 20
                        ("2020-04-01 00:00:00", 6),  # 30%: promoted
                        ("2020-06-01 00:00:00", 8), (None, 1)])
    for data, n_rt in ((at_min, 4), (at_fraction, 14)):
        df = spark.createDataFrame(data, "id int, _time string") \
            .withColumn("_time", F.col("_time").cast("timestamp"))
        counts = {r[0]: r[1] for r in df.groupBy(
            F.to_date("_time")).count().collect()}
        splits = [split_late(df, now=NOW, promote_min_records=4,
                             day_counts=day_counts)
                  for day_counts in (None, counts)]
        (rt, hist), (rt2, hist2) = [
            [sorted(r.id for r in f.collect()) for f in s] for s in splits]
        assert len(rt) == n_rt and len(rt) + len(hist) == len(data)
        assert (rt, hist) == (rt2, hist2)
        assert data[-1][0] in hist                  # the null time


# --- end-to-end stream -------------------------------------------------------

def _write_lines(path: Path, lines: list[str], name: str = "batch.json"):
    path.mkdir(parents=True, exist_ok=True)
    (path / name).write_text("\n".join(lines) + "\n")


def test_stream_end_state_matches_batch(spark, tmp_path):
    """SURVEY §7 Phase 2 exit test: the streaming pipeline over the same
    envelopes produces the same end state as batch ingest_batch."""
    lines = [fabric("t", {"_time": "2020-06-01T10:00:0%d" % i,
                          "_user": f"u{i}", "v": i}) for i in range(5)]
    src = tmp_path / "src"
    _write_lines(src, lines)

    stream_cat = Catalog()
    q = start_ingest_stream(
        spark, str(src), "fabric", stream_cat,
        table_base=str(tmp_path / "stream_tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True)
    q.awaitTermination(120)

    batch_cat = Catalog()
    raw = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    batch_out = ingest_batch(spark, raw, "fabric", batch_cat,
                             shard_time=SHARD_T)

    streamed = read_collection(spark, str(tmp_path / "stream_tables"),
                               "testproject", "t", stream_cat) \
        .drop("_day").orderBy("v")
    batched = batch_out[("testproject", "t")].orderBy("v")
    assert streamed.columns == batched.columns
    assert [r.asDict() for r in streamed.collect()] == \
           [r.asDict() for r in batched.collect()]


def test_stream_dead_letter_spool(spark, tmp_path):
    """errors_dir: envelopes the router/parser would drop (unparseable
    body, >100-char collection name) land in the dead-letter spool as
    replayable raw values; valid rows ingest normally."""
    good = fabric("t", {"_time": "2020-06-01T10:00:00",
                        "_user": "u1", "v": 1})
    not_json = '{"id": 1, "metadata": {}, "data": {broken'
    long_coll = fabric("c" * 101, {"_time": "2020-06-01T10:00:01",
                                   "_user": "u2", "v": 2})
    lines = [good, not_json, long_coll]
    src = tmp_path / "src"
    _write_lines(src, lines)

    cat = Catalog()
    q = start_ingest_stream(
        spark, str(src), "fabric", cat,
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False,
        errors_dir=str(tmp_path / "errors"))
    q.awaitTermination(120)

    ok = read_collection(spark, str(tmp_path / "tables"),
                         "testproject", "t", cat)
    assert [r["v"] for r in ok.collect()] == [1.0]
    dead = spark.read.parquet(str(tmp_path / "errors")).collect()
    assert sorted(r.value for r in dead) == sorted([not_json, long_coll])
    assert all(r.n_bytes == len(r.value.encode()) for r in dead)


def test_stream_dead_letter_with_historical_split(spark, tmp_path):
    """Malformed envelopes carry a null event time; with BOTH
    historical_dir and errors_dir set they must be dead-lettered on the
    hot path per micro-batch — never diverted into the valid-late
    spool — and must still count as failures for ST11."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor)

    good = fabric("t", {"_time": "2020-06-01T10:00:00",
                        "_user": "u1", "v": 1})
    late = fabric("t", {"_time": "2020-05-01T10:00:00",
                        "_user": "u2", "v": 2})          # 31 days late
    not_json = '{"id": 1, "metadata": {}, "data": {broken'
    src = tmp_path / "src"
    _write_lines(src, [good, late, not_json])

    cat = Catalog()
    mon = ErrorRateMonitor(min_records=1000)
    q = start_ingest_stream(
        spark, str(src), "fabric", cat,
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False,
        historical_dir=str(tmp_path / "hist"),
        errors_dir=str(tmp_path / "errors"), error_monitor=mon)
    q.awaitTermination(120)

    dead = spark.read.parquet(str(tmp_path / "errors")).collect()
    assert [r.value for r in dead] == [not_json]
    spooled = spark.read.text(str(tmp_path / "hist")).collect()
    assert [r.value for r in spooled] == [late]      # only the VALID late
    ok = read_collection(spark, str(tmp_path / "tables"),
                         "testproject", "t", cat)
    assert [r["v"] for r in ok.collect()] == [1.0]
    assert sum(e[2] for e in mon._events) == 1       # dead row counted


def test_dead_letter_spool_idempotent_per_epoch(spark, tmp_path):
    """foreachBatch is at-least-once: a retried micro-batch re-runs with
    the SAME epoch_id. The spool is epoch-keyed with overwrite, so a
    replay must replace its own rows (no duplicates) while distinct
    epochs accumulate, and readers get epoch_id back as a partition
    column."""
    from rakam_api_collector_spark.streaming.pipeline import (
        _spool_dead_letters)

    errors = str(tmp_path / "errors")
    bad0 = spark.createDataFrame([("oops-a",), ("oops-b",)], ["value"])
    _spool_dead_letters(bad0, errors, epoch_id=0)
    _spool_dead_letters(bad0, errors, epoch_id=0)     # simulated retry
    bad1 = spark.createDataFrame([("oops-c",)], ["value"])
    _spool_dead_letters(bad1, errors, epoch_id=1)
    # the historical stream runs its OWN epoch counter from 0: sharing
    # one errors_dir (app.py default wiring) must not clobber the
    # realtime stream's epoch-0 rows
    badh = spark.createDataFrame([("oops-hist",)], ["value"])
    _spool_dead_letters(badh, errors, epoch_id=0, stream="historical")
    # an empty batch writes nothing (no per-trigger empty dirs)
    _spool_dead_letters(bad1.limit(0), errors, epoch_id=2)

    dead = spark.read.parquet(errors)
    rows = dead.collect()
    assert sorted(r.value for r in rows) == [
        "oops-a", "oops-b", "oops-c", "oops-hist"]
    assert "epoch_id" in dead.columns and "stream" in dead.columns
    assert sorted(int(r.epoch_id) for r in rows) == [0, 0, 0, 1]
    assert dead.filter("epoch_id = 2").count() == 0
    import os
    assert not os.path.exists(f"{errors}/stream=realtime/epoch_id=2")


def test_stream_dedup_drops_duplicate_user_time(spark, tmp_path):
    """ST6: duplicate (_user, _time) keys are dropped across the stream;
    null-keyed records are never deduped (AvroDuplicateHandler.java:93-97)."""
    dup = fabric("t", {"_time": "2020-06-01T10:00:00", "_user": "u1", "v": 1})
    nulls = fabric("t", {"_time": "2020-06-01T11:00:00", "v": 9})
    lines = [dup, dup, dup, nulls, nulls,
             fabric("t", {"_time": "2020-06-01T10:00:00", "_user": "u2",
                          "v": 2})]
    src = tmp_path / "src"
    _write_lines(src, lines)

    cat = Catalog()
    q = start_ingest_stream(
        spark, str(src), "fabric", cat,
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True)
    q.awaitTermination(120)

    df = read_collection(spark, str(tmp_path / "tables"),
                         "testproject", "t", cat)
    # 3 dups → 1; u2 kept; 2 null-user records both kept
    assert df.count() == 4
    assert df.filter(F.col("_user") == "u1").count() == 1
    assert df.filter(F.col("_user").isNull()).count() == 2


def test_stream_late_split_spools_historical_and_replays(spark, tmp_path):
    """ST3 + ST5: late records bypass the hot tables into the spool; the
    historical worker then lands them in the same tables."""
    fresh = fabric("t", {"_time": "2020-06-01T10:00:00", "_user": "a", "v": 1})
    late = fabric("t", {"_time": "2020-01-15T10:00:00", "_user": "b", "v": 2})
    src = tmp_path / "src"
    _write_lines(src, [fresh, late])

    cat = Catalog()
    hist_dir = tmp_path / "hist"
    hist_dir.mkdir()
    q = start_ingest_stream(
        spark, str(src), "fabric", cat,
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        historical_dir=str(hist_dir),
        now=NOW, shard_time=SHARD_T, dedup=False)
    q.awaitTermination(120)

    hot = read_collection(spark, str(tmp_path / "tables"),
                          "testproject", "t", cat)
    assert [r["v"] for r in hot.collect()] == [1.0]

    spooled = [json.loads(ln) for f in hist_dir.glob("*.txt")
               for ln in f.read_text().splitlines()]
    assert len(spooled) == 1 and spooled[0]["data"]["v"] == 2

    q2 = start_historical_stream(
        spark, str(hist_dir), "fabric", cat,
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt_hist"), shard_time=SHARD_T)
    q2.awaitTermination(120)

    merged = read_collection(spark, str(tmp_path / "tables"),
                             "testproject", "t", cat)
    assert sorted(r["v"] for r in merged.collect()) == [1.0, 2.0]


def test_injected_source_stream_feeds_pipeline(spark, tmp_path):
    """The connector entry point: a streaming DataFrame with a binary
    ``value`` column (the Kafka wire shape) injected via source_stream
    flows through the identical downstream pipeline."""
    lines = [fabric("t", {"_time": "2020-06-01T10:00:0%d" % i,
                          "_user": f"u{i}", "v": i}) for i in range(3)]
    src = tmp_path / "src"
    _write_lines(src, lines)
    # simulate the kafka reader's value:binary column
    kafka_shaped = (spark.readStream.format("text").load(str(src))
                    .select(F.encode("value", "utf-8").alias("value")))

    cat = Catalog()
    q = start_ingest_stream(
        spark, None, "fabric", cat,
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True,
        source_stream=kafka_shaped)
    q.awaitTermination(120)

    df = read_collection(spark, str(tmp_path / "tables"),
                         "testproject", "t", cat)
    assert sorted(r["v"] for r in df.collect()) == [0.0, 1.0, 2.0]


def test_stream_leaves_no_cached_batches(spark, tmp_path):
    """Each micro-batch's parsed cache must be unpersisted — a leaked
    cache per batch accumulates storage blocks on a long-running stream."""
    src = tmp_path / "src"
    for i in range(3):
        _write_lines(src, [fabric("t", {"_time": "2020-06-01T10:00:00",
                                        "_user": f"u{i}", "v": i})],
                     f"b{i}.json")
    before = set(spark.sparkContext._jsc.sc().getPersistentRDDs()
                 .keySet().toString().strip("Set()").split(", "))
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(),
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False,
        trigger={"availableNow": True}, max_files_per_trigger=1)
    q.awaitTermination(120)
    after = set(spark.sparkContext._jsc.sc().getPersistentRDDs()
                .keySet().toString().strip("Set()").split(", "))
    assert after <= before, f"stream leaked cached RDDs: {after - before}"


def test_stream_checkpoint_no_reprocessing(spark, tmp_path):
    """ST7: restarting the query with the same checkpoint does not
    re-ingest already-committed files; new files still flow."""
    src = tmp_path / "src"
    _write_lines(src, [fabric("t", {"_time": "2020-06-01T10:00:00",
                                    "_user": "a", "v": 1})], "one.json")
    cat = Catalog(path=str(tmp_path / "cat.json"))
    kw = dict(table_base=str(tmp_path / "tables"),
              checkpoint=str(tmp_path / "ckpt"),
              now=NOW, shard_time=SHARD_T, dedup=False)
    start_ingest_stream(spark, str(src), "fabric", cat, **kw) \
        .awaitTermination(120)
    _write_lines(src, [fabric("t", {"_time": "2020-06-01T11:00:00",
                                    "_user": "b", "v": 2})], "two.json")
    start_ingest_stream(spark, str(src), "fabric", cat, **kw) \
        .awaitTermination(120)

    df = read_collection(spark, str(tmp_path / "tables"),
                         "testproject", "t", cat)
    assert sorted(r["v"] for r in df.collect()) == [1.0, 2.0]


def test_handoff_helpers_idempotent_pinned_and_pruned(spark, tmp_path):
    """The K3 bookkeeping helpers shared by the JSON and Avro paths:
    _handoff_once runs publish exactly once per (checkpoint, epoch);
    _pinned_epoch_date stores current_date() on the epoch's first
    attempt and re-reads it on replay even after a (simulated)
    midnight rollover — the guard against a replay reclassifying
    boundary-day records and silently dropping a newly-late one; and
    _prune_epoch_files bounds both bookkeeping dirs so a 15 s trigger
    doesn't leak 5,760 checkpoint files/day forever."""
    from rakam_api_collector_spark.manifest import LocalMetadataStore
    from rakam_api_collector_spark.streaming.pipeline import (
        _ckpt_meta,
        _handoff_once,
        _pinned_epoch_date,
        _prune_epoch_files,
    )

    ck = str(tmp_path / "ck")
    meta = LocalMetadataStore()
    calls = []
    _handoff_once(ck, 7, lambda: calls.append(1), meta)
    _handoff_once(ck, 7, lambda: calls.append(1), meta)  # replay: skip
    assert calls == [1]

    d1 = _pinned_epoch_date(spark, ck, 7, meta)
    clock = Path(ck) / "hist_clock" / "7"
    assert clock.read_text() == d1 and len(d1) == 10
    clock.write_text("1999-12-31")        # simulate midnight rollover
    assert _pinned_epoch_date(spark, ck, 7, meta) == "1999-12-31"

    mdir = Path(ck) / "hist_published"
    for e in (0, 1, 500):
        (mdir / str(e)).write_text("")
    (mdir / "3.tmp").write_text("")       # torn clock/marker leftover
    _prune_epoch_files(meta, str(mdir), 500)
    assert sorted(p.name for p in mdir.iterdir()) == ["500"]

    # r16 seam: a URI checkpoint refuses unless a store is passed —
    # os.* under s3://... would silently keep markers on LOCAL disk
    # (duplicate publishes after a driver relocation)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="meta_store"):
        _ckpt_meta("s3://bucket/ck", None)
    assert _ckpt_meta("s3://bucket/ck", meta) is meta


def test_stream_handoff_replay_pins_classification_clock(spark, tmp_path):
    """now=None end-to-end: the epoch's classification date is pinned
    under the checkpoint on the first attempt (hist_clock/<epoch>) and
    re-read when the crashed epoch replays — the ST3 split stays
    identical across the replay even if the wall date rolls over
    mid-crash, so the skip-on-marker guard can never strand a
    newly-late record — and the K3 spool carries the late envelope
    exactly once."""
    import datetime as dt
    import os

    import pyspark.errors

    today = dt.date.today().isoformat()
    src = tmp_path / "src"
    _write_lines(src, [
        fabric("t", {"_time": f"{today}T10:00:00", "_user": "a", "v": 1}),
        fabric("t", {"_time": "2000-01-01T10:00:00", "_user": "b",
                     "v": 2}),
    ], "one.json")
    cat = Catalog(path=str(tmp_path / "cat.json"))
    hist_dir = str(tmp_path / "hist")
    flag = str(tmp_path / "crashed_once")

    class FlakyStats:
        def add(self, project, collection, n):
            if not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("injected post-handoff crash")

    def run(stats):
        q = start_ingest_stream(
            spark, str(src), "fabric", cat,
            table_base=str(tmp_path / "tables"),
            checkpoint=str(tmp_path / "ckpt"),
            historical_dir=hist_dir, dedup=False, stats=stats)
        q.awaitTermination(120)

    try:
        run(FlakyStats())
        raise AssertionError("injected crash did not surface")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    clock = tmp_path / "ckpt" / "hist_clock" / "0"
    assert clock.read_text() == today      # pinned on the first attempt
    assert spark.read.text(hist_dir).count() == 1

    run(None)                              # replay of the epoch
    assert spark.read.text(hist_dir).count() == 1


# --- per-epoch Spark job budget ----------------------------------------------

def _write_bursts(src: Path, bursts: list[list[str]]) -> None:
    """One file per burst, mtimes increasing so ``maxFilesPerTrigger=1``
    reads them in order (one epoch each); an empty burst is an empty
    file, i.e. an epoch with no rows."""
    import os

    src.mkdir(parents=True, exist_ok=True)
    for i, lines in enumerate(bursts):
        f = src / f"b{i:02d}.json"
        f.write_text("".join(ln + "\n" for ln in lines))
        os.utime(f, (1_000_000 + i, 1_000_000 + i))


def _burst(n_collections: int, per: int = 3, tag: str = "") -> list[str]:
    return [fabric(f"c{c}", {"_time": f"2020-06-01T10:{c:02d}:{i:02d}",
                             "_user": f"{tag}u{c}-{i}", "v": i})
            for c in range(n_collections) for i in range(per)]


def _rows_by_epoch(q) -> dict[int, int]:
    return {p["batchId"]: p["numInputRows"] for p in q.recentProgress}


def test_stream_epoch_jobs_do_not_grow_with_collections(spark, tmp_path,
                                                        epoch_jobs):
    """With manifested commits, a K3 channel, dedup and the A2/ST11
    counters on: an epoch with no rows runs exactly one Spark job (the
    count that commits the dedup state), and a data epoch grows by at
    most one job per extra collection (its manifest write) — the
    counters read the rows each commit wrote instead of counting."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    def run(name, bursts):
        src = tmp_path / f"src_{name}"
        _write_bursts(src, bursts)
        stats = IngestStats()
        epoch_jobs.clear()
        q = start_ingest_stream(
            spark, str(src), "fabric", Catalog(),
            table_base=str(tmp_path / f"tables_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"),
            historical_dir=str(tmp_path / f"hist_{name}"),
            now=NOW, shard_time=SHARD_T, dedup=True, manifested=True,
            stats=stats, error_monitor=ErrorRateMonitor(),
            max_files_per_trigger=1)
        assert q.awaitTermination(120)
        assert stats.total_records() == sum(len(b) for b in bursts)
        return dict(epoch_jobs), _rows_by_epoch(q)

    jobs2, rows2 = run("two", [_burst(2), []])
    jobs5, rows5 = run("five", [_burst(5)])

    empty = [e for e, n in rows2.items() if n == 0]
    assert empty, f"no empty epoch ran: {rows2}"
    assert all(jobs2[e] == 1 for e in empty), (jobs2, rows2)
    data2 = next(jobs2[e] for e, n in rows2.items() if n == 6)
    data5 = next(jobs5[e] for e, n in rows5.items() if n == 15)
    assert data5 - data2 <= 3, (jobs2, jobs5)


def test_stream_manifested_epoch_jobs_same_for_five_collections_as_two(
        spark, tmp_path, epoch_jobs):
    """Same setup as the test above, tighter budget: the manifested
    commit writes one parquet job per schema group, so a data epoch of
    5 same-shape collections runs no more Spark jobs than one of 2."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    def run(name, bursts):
        src = tmp_path / f"src_{name}"
        _write_bursts(src, bursts)
        stats = IngestStats()
        epoch_jobs.clear()
        q = start_ingest_stream(
            spark, str(src), "fabric", Catalog(),
            table_base=str(tmp_path / f"tables_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"),
            historical_dir=str(tmp_path / f"hist_{name}"),
            now=NOW, shard_time=SHARD_T, dedup=True, manifested=True,
            stats=stats, error_monitor=ErrorRateMonitor(),
            max_files_per_trigger=1)
        assert q.awaitTermination(120)
        assert stats.total_records() == sum(len(b) for b in bursts)
        return dict(epoch_jobs), _rows_by_epoch(q)

    jobs2, rows2 = run("two", [_burst(2)])
    jobs5, rows5 = run("five", [_burst(5)])

    data2 = next(jobs2[e] for e, n in rows2.items() if n == 6)
    data5 = next(jobs5[e] for e, n in rows5.items() if n == 15)
    assert data5 <= data2, (jobs2, jobs5)


def test_historical_drain_epoch_jobs_do_not_grow_with_collections(
        spark, tmp_path, epoch_jobs):
    """The JSON drain runs the same epoch body as the realtime stream:
    with manifested commits and the counters on, an empty-file epoch
    runs exactly one job and 5 collections cost at most 3 jobs more
    than 2."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    def run(name, bursts):
        src = tmp_path / f"src_{name}"
        _write_bursts(src, bursts)
        stats = IngestStats()
        epoch_jobs.clear()
        q = start_historical_stream(
            spark, None, "fabric", Catalog(),
            table_base=str(tmp_path / f"tables_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"),
            shard_time=SHARD_T, manifested=True,
            stats=stats, error_monitor=ErrorRateMonitor(),
            source_stream=spark.readStream
            .option("maxFilesPerTrigger", 1).text(str(src)))
        assert q.awaitTermination(120)
        assert stats.total_records() == sum(len(b) for b in bursts)
        return dict(epoch_jobs), _rows_by_epoch(q)

    jobs2, rows2 = run("two", [_burst(2), []])
    jobs5, rows5 = run("five", [_burst(5)])

    empty = [e for e, n in rows2.items() if n == 0]
    assert empty, f"no empty epoch ran: {rows2}"
    assert all(jobs2[e] == 1 for e in empty), (jobs2, rows2)
    data2 = next(jobs2[e] for e, n in rows2.items() if n == 6)
    data5 = next(jobs5[e] for e, n in rows5.items() if n == 15)
    assert data5 - data2 <= 3, (jobs2, jobs5)


def _replayed_changelog_files(q) -> dict[int, int]:
    """RocksDB changelog files each data epoch replayed to load the
    dedup state, summed over state partitions."""
    return {p["batchId"]: p["stateOperators"][0]["customMetrics"]
            ["rocksdbNumReplayChangelogFiles"]
            for p in q.recentProgress if p["numInputRows"] > 0}


def test_stream_k3_split_replays_no_state_changelog(spark, tmp_path):
    """With dedup and a K3 channel, the late split filters the cached
    batch, so no action over its outputs re-runs the dedup operator —
    such a re-run reloads the state store one version back and replays
    every changelog file since its last snapshot, a cost that grows
    with the stream's age. No data epoch replays any; every record is
    committed, handed off or dead-lettered exactly once, and the A2 and
    ST11 counters are exact."""
    from rakam_api_collector_spark.manifest import ManifestedTable
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    bursts = [_burst(2, tag=f"b{b}") + [
        fabric("c0", {"_time": "2020-05-20T10:00:00", "_user": f"late{b}",
                      "v": b}),                       # late, not expired
        '{"data": {broken'] for b in range(4)]
    bursts[3].append(bursts[2][0])                    # dedup drops it
    src, base = tmp_path / "src", str(tmp_path / "tables")
    _write_bursts(src, bursts)
    stats, mon = IngestStats(), ErrorRateMonitor(min_records=1000)
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(), table_base=base,
        checkpoint=str(tmp_path / "ckpt"),
        historical_dir=str(tmp_path / "hist"),
        errors_dir=str(tmp_path / "errors"),
        now=NOW, shard_time=SHARD_T, dedup=True, manifested=True,
        stats=stats, error_monitor=mon, max_files_per_trigger=1)
    assert q.awaitTermination(120)

    replayed = _replayed_changelog_files(q)
    assert len(replayed) == 4 and not any(replayed.values()), replayed
    committed = sum(ManifestedTable(base, "testproject", f"c{c}")
                    .read(spark).count() for c in range(2))
    handed = spark.read.text(str(tmp_path / "hist")).count()
    dead = spark.read.parquet(str(tmp_path / "errors")).count()
    assert (committed, handed, dead) == (24, 4, 4)
    assert committed + handed + dead == sum(map(len, bursts)) - 1
    assert stats.records == {("testproject", "c0"): 12,
                             ("testproject", "c1"): 12}
    assert (sum(e[1] for e in mon._events),
            sum(e[2] for e in mon._events)) == (24, 4)


def test_stream_maintenance_ticks_on_empty_epochs(spark, tmp_path):
    """The hook's cadence counts epoch ids, so empty epochs still tick
    it: every_epochs=3 sweeps on epochs 2 and 5 although both are
    empty, and the sweeps keep every committed row readable."""
    from rakam_api_collector_spark.manifest import ManifestedTable

    src = tmp_path / "src"
    bursts = [_burst(1, tag="a"), _burst(1, tag="b"), [],
              _burst(1, tag="c"), _burst(1, tag="d"), []]
    _write_bursts(src, bursts)
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(),
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False, manifested=True,
        maintenance={"every_epochs": 3, "inline": True, "min_batches": 2},
        max_files_per_trigger=1)
    assert q.awaitTermination(120)

    rows = _rows_by_epoch(q)
    assert rows[2] == 0 and rows[5] == 0, rows
    reports = q.maintenance.reports
    assert [r["epoch"] for r in reports] == [2, 5]
    assert not [r for r in reports if "error" in r]
    got = ManifestedTable(str(tmp_path / "tables"), "testproject", "c0") \
        .read(spark)
    assert got.count() == sum(len(b) for b in bursts)


def test_stream_counters_with_check_constraint(spark, tmp_path):
    """A CHECK constraint makes the manifest write localCheckpoint the
    frame first; the counters read the committed entry's rows, so they
    are exact and nothing waits on an Observation that a checkpoint job
    would never report."""
    from rakam_api_collector_spark.manifest import ManifestedTable
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    base = str(tmp_path / "tables")
    table = ManifestedTable(base, "testproject", "c0")
    table.add_constraint("v_nonneg", "v >= 0")
    src = tmp_path / "src"
    _write_lines(src, _burst(2))
    stats, mon = IngestStats(), ErrorRateMonitor()
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(), table_base=base,
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False, manifested=True,
        stats=stats, error_monitor=mon)
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert stats.records == {("testproject", "c0"): 3,
                             ("testproject", "c1"): 3}
    assert sum(e[1] for e in mon._events) == 6
    assert sum(e[2] for e in mon._events) == 0
    assert table.read(spark).count() == 3


def test_stream_counters_plain_and_grouped(spark, tmp_path):
    """Plain commits count through Observations riding the writes:
    exact per-collection rows, and malformed envelopes (dropped by the
    parser) count as failures."""
    from rakam_api_collector_spark.streaming.committer import (
        ErrorRateMonitor, IngestStats)

    src = tmp_path / "src"
    _write_lines(src, _burst(3, per=2) + ['{"data": {broken'])
    stats, mon = IngestStats(), ErrorRateMonitor()
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(),
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False,
        stats=stats, error_monitor=mon)
    assert q.awaitTermination(120)
    assert stats.records == {("testproject", f"c{c}"): 2 for c in range(3)}
    assert (sum(e[1] for e in mon._events),
            sum(e[2] for e in mon._events)) == (6, 1)


# --- manifested grouped commit: replay and crash -----------------------------

def test_manifested_grouped_commit_replay_and_crash(spark, tmp_path,
                                                    monkeypatch):
    """The grouped manifested commit keeps the epoch's batch-id replay
    contract. A replayed epoch (its ``commits/N`` deleted) replaces
    every collection's batch and duplicates none. An attempt that dies
    after writing its staging dir but before renaming it leaves files
    that ``read()`` and ``format("manifest")`` ignore; a maintenance
    sweep keeps them while they are younger than its grace and deletes
    them after it, and the replay of that epoch commits each collection
    once."""
    import os

    from pyspark.errors import StreamingQueryException

    from rakam_api_collector_spark.datasource import ManifestDataSource
    from rakam_api_collector_spark.manifest import (ManifestedTable,
                                                    run_maintenance)

    spark.dataSource.register(ManifestDataSource)
    src, base = tmp_path / "src", str(tmp_path / "tables")
    ckpt = tmp_path / "ckpt"
    colls = [f"c{c}" for c in range(3)]

    def run():
        q = start_ingest_stream(
            spark, str(src), "fabric", Catalog(), table_base=base,
            checkpoint=str(ckpt), now=NOW, shard_time=SHARD_T,
            dedup=False, manifested=True, max_files_per_trigger=1)
        try:
            q.awaitTermination(120)
        except StreamingQueryException:
            pass                            # the caller checks exception()
        return q

    def batches():
        return {c: [(m["batch"].split("-", 1)[1], m["rows"], m["dir"])
                    for m in ManifestedTable(base, "testproject", c)
                    .committed()] for c in colls}

    def staged():
        root = os.path.join(base, "_staging")
        return sorted(os.listdir(root)) if os.path.isdir(root) else []

    _write_bursts(src, [_burst(3, tag="a")])
    assert run().exception() is None
    first = batches()
    assert all([(b, n) for b, n, _ in v] == [("epoch-0", 3)]
               for v in first.values()), first

    # replay: drop the last commit marker, restart on the same checkpoint
    for marker in ("0", ".0.crc"):
        (ckpt / "commits" / marker).unlink(missing_ok=True)
    assert run().exception() is None
    replayed = batches()
    for c in colls:
        [(bid, n, pdir)] = replayed[c]
        assert (bid, n) == ("epoch-0", 3) and pdir != first[c][0][2]
    assert staged() == []

    # crash: epoch 1 writes its staging dir, then dies before any rename
    _write_bursts(src, [_burst(3, tag="a"), _burst(3, tag="b")])
    def crash(*a, **kw):
        raise RuntimeError("crash before rename")

    monkeypatch.setattr(ManifestedTable, "adopt", crash)
    assert run().exception() is not None
    monkeypatch.undo()
    [left] = staged()
    assert left.split("-", 1)[1].startswith("epoch-1--")
    assert any(f.endswith(".parquet") for _, _, fs in
               os.walk(os.path.join(base, "_staging", left)) for f in fs)
    for c in colls:
        t = ManifestedTable(base, "testproject", c)
        assert t.read(spark).count() == 3
        assert spark.read.format("manifest").option("path", t.table_dir) \
            .load().count() == 3
    run_maintenance(spark, base)            # a fresh dir: within grace
    assert staged() == [left]
    reports = run_maintenance(spark, base, grace_seconds=0)
    assert sorted((r["project"], r["collection"]) for r in reports) == \
        [("testproject", c) for c in colls]
    assert not [r for r in reports if "error" in r]
    assert staged() == []

    # the replay of epoch 1 commits once and leaves no staging dir
    assert run().exception() is None
    assert staged() == []
    for c in colls:
        assert [(b, n) for b, n, _ in batches()[c]] == \
            [("epoch-0", 3), ("epoch-1", 3)]
        assert ManifestedTable(base, "testproject", c).read(spark) \
            .count() == 6
