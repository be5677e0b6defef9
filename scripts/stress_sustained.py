"""Sustained streaming stress — consecutive 30k-record micro-batches
through the REAL streaming entry points.

The single-batch harnesses (stress_ingest.py / stress_avro.py) measure
one poll through the batch form of the hot path; the reference's
envelope, however, is 30,000 records per 15 s trigger *sustained*
(KafkaStressTest.java:107-137 workload, StreamConfig.java:14 trigger
cadence). This harness runs N consecutive micro-batches (default 5)
through ``start_ingest_stream`` / ``start_avro_ingest_stream`` — the
same entry points production uses, with watermark+TTL dedup (RocksDB
state), late split, schema-group decode, and day-partitioned parquet
sinks all live — and reports the per-batch wall from StreamingQuery
progress, separating batch 1 (session/codegen warm-up) from the
steady-state batches the 15 s budget actually governs.

Batch isolation: each batch is ONE source file; ``maxFilesPerTrigger=1``
with an availableNow trigger makes Spark process exactly one file per
micro-batch and stop when drained. Batch b uses seed 100+b, so dedup
state grows realistically across batches instead of collapsing
duplicate keys.

State sizing: the harness pins ``state_partitions=4`` by default — the
measured sweet spot for the reference's 30k-keys-per-batch shape (see
``pipeline._stream_setup``: 32 partitions pay per-RocksDB
commit overhead at ~1k keys each; 8 cut the steady batch wall 25-26 s
→ 15-16 s and 4 to 13-15 s in the same-box A/B). Pass a 5th argument
to override (0 = leave the session default).

Usage: python scripts/stress_sustained.py \
           [json|json-manifested[-fair]|avro|
            avro-manifested[-fair]|both|kinesis-partitioned|kafka|
            kafka-loop|kafka-loop-manifested] \
           [n_per_batch] [n_batches] [n_collections] [state_partitions] \
           [maint_profile: throttled|wave]

Each printed record carries an ``attestation``: the cores kept busy
outside this process tree, and hypervisor steal, over the run
(``perfbench.probes.LoadWindow``, bench.py's /proc/stat accounting).

``kinesis-partitioned`` / ``kafka`` run the r13 live-burst cells:
the same n×batches workload through format("kinesis_py")
readerMode=partitioned (mid-run shard split) or format("kafka_py")
(mid-run partition growth) — see STRESS.md round-13 sections.
``kafka-loop`` (r14) runs the FULL late-data loop under the same
bursts: realtime split → historical topic re-publish → availableNow
drain into the same tables, with source-side conservation asserted
(every envelope ingested via exactly one path); ``kafka-loop-manifested``
runs it into manifested tables and checks delivery on the table side.

``json-manifested-fair`` rebuilds the session under the FAIR scheduler
with the packaged low-weight ``manifest-maintenance`` pool
(session.fair_scheduler_conf) — the cluster-shaped isolation
measurement; ``wave`` restores the round-8 unthrottled all-collections
sweep so FAIR's effect can be isolated from the cap's.
"""

from __future__ import annotations

import base64
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, ".")
sys.path.insert(0, "scripts")

from pyspark.sql import functions as F

from perfbench.probes import LoadWindow
from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.session import get_spark
from rakam_api_collector_spark.streaming.pipeline import (
    start_avro_ingest_stream, start_ingest_stream)
from stress_avro import EXTRA, make_frames
from stress_ingest import make_envelopes

NOW = "2024-01-31"
SHARD_T = "2024-02-01 00:00:00"


def _progress_rows(query) -> list[dict]:
    """(wall_sec, rows) per non-empty micro-batch, oldest first."""
    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append({
                "rows": d["numInputRows"],
                "wall_sec": round(d["durationMs"]["triggerExecution"]
                                  / 1000.0, 2),
            })
    return out


def _report(name: str, batches: list[dict], n_batches: int,
            wall: float, total_rows: int | None = None) -> dict:
    steady = batches[1:]
    rec = {
        "metric": f"sustained_{name}_batches",
        "batches": batches,
        "n_batches_seen": len(batches),
        "total_wall_sec": round(wall, 2),
    }
    if steady:
        rows = sum(b["rows"] for b in steady)
        secs = sum(b["wall_sec"] for b in steady)
        rec.update({
            "steady_max_wall_sec": max(b["wall_sec"] for b in steady),
            "steady_records_per_sec": round(rows / secs, 1) if secs else None,
        })
    if total_rows is not None:
        # burst sources without atomic batch edges (kafka_py: a
        # trigger can plan mid-produce and split a burst) assert total
        # delivery; batch count is reported, not asserted
        got = sum(b["rows"] for b in batches)
        assert got == total_rows, f"expected {total_rows} rows, {got}"
    else:
        assert len(batches) == n_batches, \
            f"expected {n_batches} micro-batches, saw {len(batches)}"
    return rec


def run_json(spark, n: int, n_batches: int, n_coll: int,
             state_partitions: int | None = 4,
             manifested: bool = False,
             maint_profile: str = "throttled") -> dict:
    work = Path(tempfile.mkdtemp(prefix="stress_sustained_json_"))
    src = work / "src"
    src.mkdir()
    for b in range(n_batches):
        lines = make_envelopes(n, n_coll, seed=100 + b)
        (src / f"batch_{b}.txt").write_text("\n".join(lines) + "\n")
    t0 = time.perf_counter()
    # manifested mode runs the FULL transactional path: version-file
    # commits per collection per epoch plus the scheduled
    # shard-organizer sweep (background thread, reference-daemon shape)
    # default grace period: gc must never race the stream's in-flight
    # writers (grace 0 is only safe when sweeps run inline). Cadence:
    # compact when ~4+ small batches accrete, sweep every 2nd epoch,
    # and THROTTLE the wave — at most half the collections compact per
    # sweep (worst accretors first; the rest defer one sweep) with a
    # 3-wide pool, so the cold-start beat where all 100 collections
    # become eligible at once cannot flood the 32 cores the live
    # trigger batches need (the unthrottled wave was measured at ~3×
    # a steady trigger interval; see STRESS.md).
    if not manifested:
        maint = None
    elif maint_profile == "wave":
        # the round-8 unthrottled shape: every collection compacts in
        # ONE sweep at 8-way parallelism — the worst-case co-residency
        # burst, kept as the baseline for isolation experiments (FAIR
        # pool A/B)
        maint = {"every_epochs": 3, "min_batches": 4}
    else:
        maint = {"every_epochs": 2, "min_batches": 4,
                 "max_tables_per_sweep": n_coll // 2,
                 "parallelism": 3}
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(),
        table_base=str(work / "tables"),
        checkpoint=str(work / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True,
        trigger={"availableNow": True}, max_files_per_trigger=1,
        state_partitions=state_partitions,
        manifested=manifested, maintenance=maint)
    q.awaitTermination(1200)
    wall = time.perf_counter() - t0
    name = "json_manifested" if manifested else "json"
    rec = _report(name, _progress_rows(q), n_batches, wall)
    if manifested and q.maintenance is not None:
        q.maintenance.wait(120)
        rec["maintenance_sweeps"] = len(q.maintenance.reports)
        rec["sweeps_with_compaction"] = sum(
            1 for rep in q.maintenance.reports
            for tr in rep.get("tables", []) if "compacted" in tr)
        from rakam_api_collector_spark.manifest import ManifestedTable
        counts = []
        base = work / "tables"
        for proj in sorted(p.name for p in base.iterdir()):
            for coll in sorted(c.name for c in (base / proj).iterdir()):
                counts.append(len(ManifestedTable(
                    str(base), proj, coll).committed()))
        rec["max_live_batches_per_collection"] = max(counts)
        rec["n_collections"] = len(counts)
    shutil.rmtree(work, ignore_errors=True)
    return rec


def run_avro(spark, n: int, n_batches: int, n_coll: int,
             state_partitions: int | None = 4,
             manifested: bool = False,
             maint_profile: str = "throttled") -> dict:
    work = Path(tempfile.mkdtemp(prefix="stress_sustained_avro_"))
    src = work / "src"
    src.mkdir()
    catalog = Catalog()
    fields = None
    for c in range(n_coll):
        fields = catalog.create_table("stress", f"coll_{c}", EXTRA)
    for b in range(n_batches):
        frames = make_frames(n, n_coll, fields, seed=100 + b)
        with open(src / f"batch_{b}.txt", "wb") as fh:
            for fr in frames:
                fh.write(base64.b64encode(fr) + b"\n")
    # injected-stream seam (the Kafka wire shape): text lines carry the
    # framed records base64-armored; unbase64 restores value:binary
    feed = (spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1).load(str(src))
            .select(F.unbase64("value").alias("value")))
    if not manifested:
        maint = None
    elif maint_profile == "wave":
        maint = {"every_epochs": 3, "min_batches": 4}
    else:
        maint = {"every_epochs": 2, "min_batches": 4,
                 "max_tables_per_sweep": n_coll // 2,
                 "parallelism": 3}
    t0 = time.perf_counter()
    q = start_avro_ingest_stream(
        spark, None, catalog,
        table_base=str(work / "tables"),
        checkpoint=str(work / "ckpt"),
        project="stress",
        now=NOW, shard_time=SHARD_T, dedup=True,
        trigger={"availableNow": True}, source_stream=feed,
        state_partitions=state_partitions,
        manifested=manifested, maintenance=maint)
    q.awaitTermination(1200)
    wall = time.perf_counter() - t0
    name = "avro_manifested" if manifested else "avro"
    rec = _report(name, _progress_rows(q), n_batches, wall)
    if manifested and q.maintenance is not None:
        q.maintenance.wait(120)
        rec["maintenance_sweeps"] = len(q.maintenance.reports)
        rec["sweeps_with_compaction"] = sum(
            1 for rep in q.maintenance.reports
            for tr in rep.get("tables", []) if "compacted" in tr)
        from rakam_api_collector_spark.manifest import ManifestedTable
        counts = []
        base = work / "tables"
        for proj in sorted(p.name for p in base.iterdir()):
            for coll in sorted(c.name for c in (base / proj).iterdir()):
                counts.append(len(ManifestedTable(
                    str(base), proj, coll).committed()))
        rec["max_live_batches_per_collection"] = max(counts)
        rec["n_collections"] = len(counts)
    shutil.rmtree(work, ignore_errors=True)
    return rec


def _dropped(d: dict) -> int:
    """Rows the dedup operator dropped in one progress report:
    duplicates plus rows behind the watermark."""
    return sum(op.get("numRowsDroppedByWatermark", 0)
               + op.get("customMetrics", {}).get("numDroppedDuplicateRows",
                                                 0)
               for op in d.get("stateOperators", []))


def _drive_bursts(q, put_batch, n: int, n_batches: int,
                  reshard=None) -> list[dict]:
    """Produce burst b, wait for the query to consume it, then b+1
    (with an optional reshard hook before the last two bursts).
    Progress is accumulated per batchId because recentProgress evicts
    past ~100 entries — empty ticks between bursts would rotate early
    batches out of a naive re-sum."""
    seen: dict[int, dict] = {}

    def consumed() -> int:
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else json.loads(p.json)
            if d.get("numInputRows", 0) > 0:
                seen[d["batchId"]] = {
                    "rows": d["numInputRows"],
                    "wall_sec": round(
                        d["durationMs"]["triggerExecution"] / 1000.0, 2),
                    "dropped": _dropped(d)}
        return sum(v["rows"] for v in seen.values())

    deadline = time.time() + 1800
    for b in range(n_batches):
        if reshard is not None and b == n_batches - 2:
            reshard()
        put_batch(b)
        want = n * (b + 1)
        while time.time() < deadline:
            if consumed() >= want:
                break
            time.sleep(1)
    consumed()
    return [seen[k] for k in sorted(seen)]


def run_kinesis_partitioned(spark, n: int, n_batches: int, n_coll: int,
                            n_shards: int = 4,
                            state_partitions: int | None = 4) -> dict:
    """The partitioned-Kinesis steady-state trigger cell (r12 verdict
    item 5): ``n`` records × ``n_batches`` consecutive micro-batches
    through ``start_ingest_stream`` fed by ``format("kinesis_py")`` in
    ``readerMode=partitioned`` — executor-parallel GetRecords, the
    full ingest pipeline (dedup RocksDB state, late split, schema
    fan-out, day-partitioned sinks) live — with a mid-run RESHARD
    (one shard split before the 4th batch's records).

    Batch isolation is LIVE PRODUCTION, not backfill: each 30k burst
    is one ``put_records`` call, so every record in it carries the
    same arrival stamp and lands in exactly one of the reader's
    arrival-time windows; the harness produces burst b, waits for the
    query to consume it, then produces b+1 — the steady-state shape
    where the window IS the trigger interval. (An earlier draft paced
    a pre-produced backlog with startTimestampMs+maxWindowMs; review
    showed a blind paced latestOffset can regress a restarted query's
    offsets, so pacing stays strictly base-anchored and this cell
    measures the live shape instead.) The 15 s budget under test is
    StreamConfig.java:14-15's poll envelope."""
    from rakam_api_collector_spark.sources.kinesis import register
    from rakam_api_collector_spark.sources.kinesis_local import \
        LocalKinesisClient

    work = Path(tempfile.mkdtemp(prefix="stress_sustained_kin_"))
    cl = LocalKinesisClient(str(work / "stream"))
    cl.create_stream("events", ShardCount=n_shards)
    open_shards = [f"shardId-{i:012d}" for i in range(n_shards)]

    def put_batch(b: int) -> None:
        lines = make_envelopes(n, n_coll, seed=100 + b)
        cl.put_records("events", [
            {"Data": ln.encode(), "PartitionKey": str(i),
             "ShardId": open_shards[i % len(open_shards)]}
            for i, ln in enumerate(lines)])

    register(spark)
    src = (spark.readStream.format("kinesis_py")
           .option("streamName", "events")
           .option("endpoint", f"local:{work / 'stream'}")
           .option("readerMode", "partitioned")
           .load())
    t0 = time.perf_counter()
    q = start_ingest_stream(
        spark, None, "fabric", Catalog(),
        table_base=str(work / "tables"),
        checkpoint=str(work / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True,
        trigger={"processingTime": "1 second"},
        state_partitions=state_partitions, source_stream=src)
    def reshard() -> None:
        # mid-RUN reshard: split a live shard; the next bursts land on
        # its children too — parent-before-child ordering is inherent
        # in the arrival-time windows
        nonlocal open_shards
        kids = cl.split_shard("events", open_shards[0])["ChildShards"]
        open_shards = open_shards[1:] + list(kids)

    batches = _drive_bursts(q, put_batch, n, n_batches, reshard=reshard)
    q.stop()
    q.awaitTermination(120)
    wall = time.perf_counter() - t0
    rec = _report("kinesis_partitioned", batches, n_batches, wall)
    rec["n_shards"] = f"{n_shards} (+1 split mid-run)"
    shutil.rmtree(work, ignore_errors=True)
    return rec


def run_kafka_py(spark, n: int, n_batches: int, n_coll: int,
                 n_partitions: int = 4,
                 state_partitions: int | None = 4) -> dict:
    """The Kafka twin of the partitioned-Kinesis cell: ``n`` records ×
    ``n_batches`` live 30k bursts through ``start_ingest_stream`` fed
    by ``format("kafka_py")`` against the file-backed broker emulator
    — S1's steady-state trigger evidence on the jar-less path. The
    offset model gives batch isolation for free (each burst advances
    the log ends; the harness waits for consumption before producing
    the next), with a mid-run PARTITION GROWTH (Kafka's only reshard:
    the topic grows partitions; new ones enter at offset 0)."""
    from rakam_api_collector_spark.sources.kafka import register_kafka_py
    from rakam_api_collector_spark.sources.kafka_local import \
        LocalKafkaBroker

    work = Path(tempfile.mkdtemp(prefix="stress_sustained_kafka_"))
    broker = LocalKafkaBroker(str(work / "kafka"))
    broker.create_topic("events", partitions=n_partitions)
    parts = n_partitions

    def put_batch(b: int) -> None:
        lines = make_envelopes(n, n_coll, seed=100 + b)
        broker.produce("events", [
            {"Value": ln.encode(), "Partition": i % parts}
            for i, ln in enumerate(lines)])

    register_kafka_py(spark)
    src = (spark.readStream.format("kafka_py")
           .option("endpoint", f"local:{work / 'kafka'}")
           .option("subscribe", "events")
           .option("startingOffsets", "earliest")
           .load())
    t0 = time.perf_counter()
    q = start_ingest_stream(
        spark, None, "fabric", Catalog(),
        table_base=str(work / "tables"),
        checkpoint=str(work / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True,
        trigger={"processingTime": "1 second"},
        state_partitions=state_partitions, source_stream=src)
    def reshard() -> None:
        # Kafka's only reshard: grow the topic; new partitions enter
        # at offset 0
        nonlocal parts
        broker.create_partitions("events", n_partitions + 2)
        parts = n_partitions + 2

    batches = _drive_bursts(q, put_batch, n, n_batches, reshard=reshard)
    q.stop()
    q.awaitTermination(120)
    wall = time.perf_counter() - t0
    rec = _report("kafka_py", batches,
                  n_batches, wall, total_rows=n * n_batches)
    rec["n_partitions"] = f"{n_partitions} (+2 grown mid-run)"
    shutil.rmtree(work, ignore_errors=True)
    return rec


def run_kafka_late_loop(spark, n: int, n_batches: int, n_coll: int,
                        n_partitions: int = 4,
                        state_partitions: int | None = 4,
                        manifested: bool = False) -> dict:
    """The FULL late-data loop under sustained load — the r14
    integration test's topology (test_kafka_local.py:
    test_late_data_loop_realtime_to_historical_to_same_table) at the
    reference's 30k-burst envelope: each burst carries
    make_envelopes's 10% late fraction, the realtime query splits it
    (ST3) and re-publishes the late envelopes to the historical TOPIC
    via historical_producer_for (K3) while committing the fresh 90%,
    then one availableNow drain (S2/ST5) consumes the historical
    topic into the SAME table base. Asserts source-side conservation
    — the realtime query consumed every produced envelope AND the
    drain consumed every re-published one, so each envelope was
    ingested via exactly one path (the epoch-marker handoff plus
    drain-side dedup compose to the exactly-once table effect) — and
    reports the realtime steady wall WITH the split+produce overhead
    against the same 15 s budget, plus the drain's own wall.

    ``manifested`` (``kafka-loop-manifested``) commits both queries
    through manifested tables and also asserts delivery on the table
    side: every consumed envelope is committed, handed off or dropped
    by dedup (duplicate or behind the watermark), and the committed
    counts equal the rows the tables' manifests hold."""
    from rakam_api_collector_spark.streaming.committer import IngestStats
    from rakam_api_collector_spark.sources.kafka import (
        checkpoint_lag, historical_producer_for, register_kafka_py)
    from rakam_api_collector_spark.sources.kafka_local import \
        LocalKafkaBroker

    work = Path(tempfile.mkdtemp(prefix="stress_sustained_loop_"))
    broker = LocalKafkaBroker(str(work / "kafka"))
    broker.create_topic("events", partitions=n_partitions)
    broker.create_topic("hist", partitions=n_partitions)

    def put_batch(b: int) -> None:
        lines = make_envelopes(n, n_coll, seed=100 + b)
        broker.produce("events", [
            {"Value": ln.encode(), "Partition": i % n_partitions}
            for i, ln in enumerate(lines)])

    register_kafka_py(spark)
    src = (spark.readStream.format("kafka_py")
           .option("endpoint", f"local:{work / 'kafka'}")
           .option("subscribe", "events")
           .option("startingOffsets", "earliest")
           .load())
    cat = Catalog()
    rt_stats, drain_stats = IngestStats(), IngestStats()
    t0 = time.perf_counter()
    q = start_ingest_stream(
        spark, None, "fabric", cat,
        table_base=str(work / "tables"),
        checkpoint=str(work / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=True,
        trigger={"processingTime": "1 second"},
        state_partitions=state_partitions, source_stream=src,
        historical_producer=historical_producer_for(broker, "hist"),
        manifested=manifested, stats=rt_stats)
    batches = _drive_bursts(q, put_batch, n, n_batches)
    q.stop()
    q.awaitTermination(120)
    rt_wall = time.perf_counter() - t0

    hist_backlog = sum(broker.end_offsets("hist").values())
    ck_hist = str(work / "ckpt_hist")
    t0 = time.perf_counter()
    drain_src = (spark.readStream.format("kafka_py")
                 .option("endpoint", f"local:{work / 'kafka'}")
                 .option("subscribe", "hist")
                 .option("startingOffsets", "earliest")
                 .load())
    # dedup=True: the epoch-marker handoff is idempotent across epoch
    # replays, but the produce-then-crash window stays at-least-once;
    # drain-side TTL dedup is the absorbing half of the composition
    dq = start_ingest_stream(
        spark, None, "fabric", cat,
        table_base=str(work / "tables"), checkpoint=ck_hist,
        now=NOW, shard_time=SHARD_T, dedup=True,
        state_partitions=state_partitions,
        source_stream=drain_src, manifested=manifested, stats=drain_stats)
    dq.awaitTermination(600)
    drain_wall = time.perf_counter() - t0
    assert checkpoint_lag(ck_hist, broker, ["hist"]) == 0
    drain_in = sum(b["rows"] for b in _progress_rows(dq))

    rec = _report("kafka_late_loop_manifested" if manifested
                  else "kafka_late_loop", batches, n_batches, rt_wall,
                  total_rows=n * n_batches)
    if manifested:
        from rakam_api_collector_spark.manifest import ManifestedTable
        rt_dropped = sum(b["dropped"] for b in batches)
        drain_dropped = sum(_dropped(p if isinstance(p, dict)
                                     else json.loads(p.json))
                            for p in dq.recentProgress)
        delivered = rt_stats.total_records() + hist_backlog + rt_dropped
        table_rows = sum(ManifestedTable(str(work / "tables"), p, c).rows()
                         for p, c in cat.tables())
        assert delivered == n * n_batches, (delivered, n * n_batches)
        assert (drain_stats.total_records() + drain_dropped
                == hist_backlog), (drain_stats.total_records(),
                                   drain_dropped, hist_backlog)
        assert table_rows == (rt_stats.total_records()
                              + drain_stats.total_records()), table_rows
        rec.update({
            "delivered": f"{delivered}/{n * n_batches}",
            "committed_realtime": rt_stats.total_records(),
            "committed_drain": drain_stats.total_records(),
            "dedup_dropped": rt_dropped + drain_dropped,
            "table_rows": table_rows,
        })
    # source-side conservation across the loop: the realtime query
    # consumed every produced envelope (asserted by _report) and the
    # drain consumed every re-published one — so each envelope was
    # INGESTED via exactly one path (what lands in the table after
    # that is the dedup/router policy, by design)
    assert drain_in == hist_backlog, (drain_in, hist_backlog)
    rec.update({
        "late_republished": hist_backlog,
        "late_fraction": round(hist_backlog / (n * n_batches), 3),
        "drain_wall_sec": round(drain_wall, 2),
        "drain_records_per_sec": round(hist_backlog / drain_wall, 1),
    })
    shutil.rmtree(work, ignore_errors=True)
    return rec


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "both"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    n_coll = int(sys.argv[4]) if len(sys.argv) > 4 else 100
    sp = int(sys.argv[5]) if len(sys.argv) > 5 else 4
    sp = sp if sp > 0 else None

    # *-fair variants rebuild the session under the FAIR scheduler with
    # the packaged low-weight maintenance pool — the cluster-shaped
    # isolation run for the organizer co-residency measurement
    extra = None
    if mode.endswith("-fair"):
        from rakam_api_collector_spark.session import fair_scheduler_conf
        extra = fair_scheduler_conf()
        mode = mode[:-len("-fair")]
    spark = get_spark("stress_sustained", extra_conf=extra)
    profile = sys.argv[6] if len(sys.argv) > 6 else "throttled"

    def emit(run, **kw) -> None:
        """Print one run's record with the box-load attestation of its
        window (cores busy outside this process tree, and steal)."""
        load = LoadWindow()
        rec = run(spark, n, n_batches, n_coll, state_partitions=sp, **kw)
        rec["attestation"] = load.close()
        print(json.dumps(rec))

    if mode in ("json", "both"):
        emit(run_json)
    if mode in ("json-manifested",):
        emit(run_json, manifested=True, maint_profile=profile)
    if mode in ("avro", "both"):
        emit(run_avro)
    if mode in ("avro-manifested",):
        emit(run_avro, manifested=True, maint_profile=profile)
    if mode in ("kinesis-partitioned",):
        emit(run_kinesis_partitioned)
    if mode in ("kafka",):
        emit(run_kafka_py)
    if mode in ("kafka-loop", "kafka-loop-manifested"):
        emit(run_kafka_late_loop,
             manifested=mode == "kafka-loop-manifested")

if __name__ == "__main__":
    main()
