"""ingest-fanout: sustained JSON ingest through the streaming entry point.

One single-threaded generator produces bursts of fabric envelopes into a
4-partition ``LocalKafkaBroker`` topic, read by ``format("kafka_py")``
into ``start_ingest_stream`` with dedup on (RocksDB), the late split
handing off to a historical topic, manifested commits and the per-epoch
counters on. The loop is closed: the next burst is produced only after
the epoch holding the previous burst's last record has committed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

from stress_ingest import BASE_MS, DAY_MS, make_envelopes

from perfbench import probes
from perfbench.spans import Span, Tracer, self_time

PARTITIONS = 4
# 8 collections of ~100 records each per burst: every epoch pays the
# per-collection commit and count jobs while a fresh process still
# reaches its measured bursts inside the per-run budget (README.md)
N_COLLECTIONS = 8
N_PER_BURST = 800
WARMUP_BURSTS = 1
MIN_MEASURED_BURSTS = 2
MAX_BURSTS = 40
NOW = "2024-01-31"
SHARD_T = "2024-02-01 00:00:00"
TRIGGER = "100 milliseconds"
# layers whose spans run one after another on the epoch's thread, so
# their durations plus the epoch's own self time sum to the epoch span
SPLIT = ("latesplit", "handoff", "ingest", "commit", "accounting")


def make_bursts(seed: int, n_bursts: int = MAX_BURSTS) -> list[list[str]]:
    """Envelope bursts derived from ``seed`` alone.

    ``make_envelopes`` spreads the on-time records of every burst over
    the same last day, so whether a burst raises the maximum event time
    (and so the watermark, which makes Spark run a no-data epoch after
    the burst's epoch) would depend on the seed. Live traffic moves
    forward: each burst's on-time records are folded into their own
    slice of that day, later than the previous burst's, so every burst
    advances the watermark. Late records keep their times."""
    on_time_from = BASE_MS + 29 * DAY_MS
    width = DAY_MS // n_bursts
    bursts = []
    for b in range(n_bursts):
        burst = []
        for line in make_envelopes(N_PER_BURST, N_COLLECTIONS,
                                   seed=seed * 1000 + b):
            env = json.loads(line)
            t = env["data"]["_time"]
            if t > on_time_from:
                env["data"]["_time"] = (on_time_from + b * width
                                        + (t - on_time_from) % width)
            burst.append(json.dumps(env))
        bursts.append(burst)
    return bursts


def envelope_key(line: str) -> tuple[str, str, int]:
    d = json.loads(line)["data"]
    return d["_collection"], d["_user"], int(d["_time"])


def check_conservation(produced: list[list[str]],
                       committed: list[tuple[str, str, int]],
                       handed_off: list[tuple[str, str, int]]
                       ) -> tuple[int, list[str]]:
    """Every distinct ``(_user, _time)`` key of the produced envelopes
    (dedup keys on the pair, not on the collection) must land exactly
    once, committed or handed off, in a collection that produced it.
    Returns the number of keys that did not, and the reasons."""
    by_key: dict[tuple[str, int], set[str]] = {}
    for burst in produced:
        for line in burst:
            c, u, t = envelope_key(line)
            by_key.setdefault((u, t), set()).add(c)
    landed: dict[tuple[str, int], list[str]] = {}
    for c, u, t in list(committed) + list(handed_off):
        landed.setdefault((u, t), []).append(c)
    bad: dict[tuple[str, int], str] = {}
    for key, colls in landed.items():
        if key not in by_key:
            bad[key] = "never produced"
        elif len(colls) > 1:
            bad[key] = f"landed {len(colls)} times"
        elif colls[0] not in by_key[key]:
            bad[key] = "landed in a collection that did not produce it"
    for key in by_key.keys() - landed.keys():
        bad[key] = "never landed"
    reasons = sorted(set(bad.values()))
    return len(bad), [f"{sum(1 for r in bad.values() if r == reason)} "
                      f"keys {reason}" for reason in reasons]


def _epoch_start(p: dict) -> float:
    return datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp()


def _epoch_end(p: dict) -> float:
    return _epoch_start(p) + p["durationMs"]["triggerExecution"] / 1000.0


def consumed_through(p: dict) -> int:
    """Records read up to the end of this epoch: dense offsets make the
    sum of the planned end offsets the count."""
    total = 0
    for s in p.get("sources", []):
        end = s["endOffset"]
        total += sum(int(v) for v in (json.loads(end) if isinstance(end, str)
                                      else end)["offsets"].values())
    return total


def burst_latency(produced_at: float, cumulative: int,
                  epochs: list[dict]) -> tuple[float, dict] | None:
    """Seconds from a burst's produce call returning to the end of the
    first epoch whose end offsets cover the burst's last record, with
    that epoch. ``cumulative`` counts records produced through this
    burst. A trigger that plans mid-burst splits it across two epochs;
    the later one commits the last record."""
    for p in sorted(epochs, key=lambda e: e["batchId"]):
        if consumed_through(p) >= cumulative and _epoch_end(p) >= produced_at:
            return _epoch_end(p) - produced_at, p
    return None


class FanoutRun:
    def __init__(self, spark, work: str, tracer: Tracer | None) -> None:
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.progress: dict[int, dict] = {}
        self.measured: list[dict] = []
        self.produce_cpu = 0.0
        self.cas_retries = 0

    # -- tracing -------------------------------------------------------------

    def _install_tracing(self, catalog) -> None:
        """Wrap the layers' entry points. ``streaming.pipeline`` looks
        its helpers up as module attributes at call time, so replacing
        the attributes reaches the running stream."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from rakam_api_collector_spark import manifest
        from rakam_api_collector_spark.streaming import pipeline

        tr = self.tracer

        def n_columns() -> int:
            return sum(len(catalog.get_columns(p, c) or [])
                       for p, c in catalog.tables())

        ingest_batch = pipeline.ingest_batch

        def traced_ingest(*a, **kw):
            before = n_columns()
            with tr.span("ingest") as s:
                out = ingest_batch(*a, **kw)
            s.attrs["schema_groups"] = len(getattr(out, "groups", []))
            s.attrs["new_columns"] = n_columns() - before
            return out

        write = manifest.ManifestedTable.write

        def traced_write(table, *a, **kw):
            with tr.span("manifest.write") as s:
                bid = write(table, *a, **kw)
            entry = next(m for m in table.committed() if m["batch"] == bid)
            s.attrs["files"] = len(entry.get("files") or [])
            s.attrs["bytes"] = sum(f["size"] for f in _files(table, entry))
            return bid

        try_commit = manifest.VersionLog.try_commit

        def counted_try_commit(log, n, state):
            ok = try_commit(log, n, state)
            if not ok:
                self.cas_retries += 1
            return ok

        foreach_batch = DataStreamWriter.foreachBatch

        def traced_foreach_batch(writer, func):
            def epoch(df, epoch_id):
                with tr.span("epoch", key=epoch_id):
                    func(df, epoch_id)
            return foreach_batch(writer, epoch)

        pipeline.split_late = tr.wrap("latesplit", pipeline.split_late)
        pipeline.ingest_batch = traced_ingest
        pipeline._commit_tables = tr.wrap("commit", pipeline._commit_tables,
                                          ambient=True)
        manifest.ManifestedTable.write = traced_write
        manifest.VersionLog.try_commit = counted_try_commit
        DataStreamWriter.foreachBatch = traced_foreach_batch

    def _handoff(self, broker):
        from rakam_api_collector_spark.sources.kafka import \
            historical_producer_for
        produce = historical_producer_for(broker, "hist")
        if self.tracer is None:
            return produce

        def handoff(frame) -> None:
            before = sum(broker.end_offsets("hist").values())
            with self.tracer.span("handoff") as s:
                produce(frame)
            s.attrs["records"] = (sum(broker.end_offsets("hist").values())
                                  - before)
        return handoff

    # -- the closed loop -----------------------------------------------------

    def _keep(self, p) -> None:
        if p is None:
            return
        d = json.loads(p.json) if hasattr(p, "json") else p
        if "addBatch" in d["durationMs"]:         # not an idle tick
            self.progress.setdefault(d["batchId"], d)

    def _produce(self, broker, burst: list[str]) -> dict:
        c0 = time.thread_time()
        broker.produce("events", [
            {"Value": line.encode(), "Partition": i % PARTITIONS}
            for i, line in enumerate(burst)])
        produced_at = time.time()
        self.produce_cpu += time.thread_time() - c0
        return {"produced_at": produced_at, "n": len(burst)}

    def _await(self, q, cumulative: int, timeout: float) -> dict:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            self._keep(q.lastProgress)
            done = [p for p in self.progress.values()
                    if consumed_through(p) >= cumulative]
            if done:
                return min(done, key=lambda p: p["batchId"])
            time.sleep(0.01)
        raise TimeoutError(f"records through {cumulative} never committed")

    def run(self, seconds: float, bursts: list[list[str]],
            t_process: float, excluded_s: float) -> dict:
        from rakam_api_collector_spark.ingest.catalog import Catalog
        from rakam_api_collector_spark.sources.kafka import register_kafka_py
        from rakam_api_collector_spark.sources.kafka_local import \
            LocalKafkaBroker
        from rakam_api_collector_spark.streaming.committer import (
            ErrorRateMonitor, IngestStats)
        from rakam_api_collector_spark.streaming.pipeline import \
            start_ingest_stream

        spark = self.spark
        broker = LocalKafkaBroker(f"{self.work}/kafka")
        broker.create_topic("events", partitions=PARTITIONS)
        broker.create_topic("hist", partitions=PARTITIONS)
        catalog = Catalog()
        if self.tracer is not None:
            self._install_tracing(catalog)
        register_kafka_py(spark)
        src = (spark.readStream.format("kafka_py")
               .option("endpoint", f"local:{self.work}/kafka")
               .option("subscribe", "events")
               .option("startingOffsets", "earliest")
               .load())
        stats = IngestStats()
        q = start_ingest_stream(
            spark, None, "fabric", catalog,
            table_base=f"{self.work}/tables",
            checkpoint=f"{self.work}/ckpt",
            now=NOW, shard_time=SHARD_T, dedup=True,
            trigger={"processingTime": TRIGGER},
            state_partitions=4, source_stream=src,
            historical_producer=self._handoff(broker),
            manifested=True, maintenance=None,
            stats=stats, error_monitor=ErrorRateMonitor())
        try:
            cumulative = used = 0
            for burst in bursts[:WARMUP_BURSTS]:
                cumulative += self._produce(broker, burst)["n"]
                used += 1
                self._await(q, cumulative, 150)
            setup_s = time.perf_counter() - t_process - excluded_s

            gc0, cpu0 = probes.jvm_gc_s(spark), probes.tree_cpu_s()
            produce_cpu0 = self.produce_cpu
            load = probes.LoadWindow()
            t0 = time.perf_counter()
            while used < len(bursts) and (
                    time.perf_counter() - t0 < seconds
                    or len(self.measured) < MIN_MEASURED_BURSTS):
                meta = self._produce(broker, bursts[used])
                used += 1
                cumulative += meta["n"]
                meta["cumulative"] = cumulative
                meta["epoch"] = self._await(q, cumulative, 120)
                self.measured.append(meta)
            wall = time.perf_counter() - t0
            cpu = (probes.tree_cpu_s() - cpu0
                   - (self.produce_cpu - produce_cpu0))
            attest = load.close()
            gc_s = probes.jvm_gc_s(spark) - gc0
            for p in q.recentProgress:
                self._keep(p)
        finally:
            q.stop()

        committed = self._committed(catalog)
        failed, errors = check_conservation(bursts[:used], committed,
                                            _handed_off(broker))
        if stats.total_records() != len(committed):
            errors.append(f"IngestStats counted {stats.total_records()} "
                          f"records, the tables hold {len(committed)}")
        res = self._report(wall, cpu, setup_s)
        res.update({"correct": not errors,
                    "attempted": sum(len(b) for b in bursts[:used]),
                    "failed": max(failed, 1 if errors else 0),
                    "errors": errors, "attestation": attest, "gc_s": gc_s})
        if self.tracer is not None:
            res["layers"], res["trace"] = self._layers(gc_s)
        return res

    # -- results -------------------------------------------------------------

    def _committed(self, catalog) -> list[tuple[str, str, int]]:
        """``(collection, _user, _time ms)`` of every committed row, read
        with pyarrow from the files the manifests list."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from rakam_api_collector_spark.manifest import ManifestedTable
        rows = []
        for project, coll in catalog.tables():
            table = ManifestedTable(f"{self.work}/tables", project, coll)
            for entry in table.committed():
                for f in _files(table, entry):
                    t = pq.read_table(f["path"], columns=["_user", "_time"])
                    ms = pc.divide(t.column("_time").cast("int64"), 1000)
                    rows += [(coll, u, m) for u, m in
                             zip(t.column("_user").to_pylist(),
                                 ms.to_pylist())]
        return rows

    def _window(self) -> tuple[list[dict], list[dict]]:
        """The epochs from the first one that read a measured record to
        the one that committed the last measured burst: all of them, and
        those that read records."""
        epochs = sorted(self.progress.values(), key=lambda p: p["batchId"])
        before = self.measured[0]["cumulative"] - self.measured[0]["n"]
        lo = min(p["batchId"] for p in epochs
                 if consumed_through(p) > before)
        hi = self.measured[-1]["epoch"]["batchId"]
        window = [p for p in epochs if lo <= p["batchId"] <= hi]
        return window, [p for p in window if p["numInputRows"] > 0]

    def _report(self, wall: float, cpu: float, setup_s: float) -> dict:
        epochs = list(self.progress.values())
        lat = [burst_latency(b["produced_at"], b["cumulative"], epochs)[0]
               for b in self.measured]
        window, data = self._window()
        records = sum(p["numInputRows"] for p in data)
        return {
            "end_to_end": {
                "throughput_per_s": records / wall,
                "latency_p50_s": statistics.median(lat),
                "cpu_s_per_unit": cpu / records,
                "setup_s": setup_s,
            },
            "window": {"bursts": len(self.measured), "wall_s": wall,
                       "records": records, "latencies_s": lat,
                       "epochs": [{"batchId": p["batchId"],
                                   "rows": p["numInputRows"],
                                   **p["durationMs"]} for p in window]},
        }

    def _layers(self, gc_s: float) -> tuple[dict, dict]:
        tr = self.tracer
        sc = self.spark.sparkContext
        window, data = self._window()
        ids = {p["batchId"] for p in data}
        epochs = [s for s in tr.named("epoch") if s.key in ids]
        for e in epochs:
            commits = [s for s in tr.spans
                       if s.parent is e and s.name == "commit"]
            if commits:
                # accounting: the per-collection count jobs and counters
                # that run after the commit returns
                c = commits[-1]
                tr.spans.append(Span("accounting", e.key, c.end, e, e.end,
                                     c.jobs_end, e.jobs_end))
        n = len(data)

        def spans(name):
            return [s for s in tr.spans if s.name == name and s.key in ids]

        def per_epoch(name):
            return sum(s.dur for s in spans(name)) / n

        def total(name, attr):
            return sum(s.attrs.get(attr, 0) for s in spans(name))

        writes: dict[object, list[float]] = {}
        for s in spans("manifest.write"):
            writes.setdefault(s.key, []).append(s.dur)
        state = [p["stateOperators"][0] for p in data]
        dur = [p["durationMs"] for p in data]
        layers = {
            "sources.offset_plan_ms": _mean(d["latestOffset"] + d["getBatch"]
                                            for d in dur),
            "sources.rows_per_epoch": _mean(p["numInputRows"] for p in data),
            "epoch.wall_ms": _mean(d["triggerExecution"] for d in dur),
            "epoch.add_batch_ms": _mean(d["addBatch"] for d in dur),
            "epoch.wal_ms": _mean(d["walCommit"] + d["commitOffsets"]
                                  for d in dur),
            "epoch.trigger_wait_ms": _mean(
                1000 * (_epoch_start(b["epoch"]) - b["produced_at"])
                for b in self.measured),
            "epoch.nodata_ms": _mean(p["durationMs"]["triggerExecution"]
                                     for p in window
                                     if p["numInputRows"] == 0),
            "epoch.jobs": _mean(e.jobs_end - e.jobs_start for e in epochs),
            "epoch.tasks": _mean(probes.spark_tasks(sc, e.jobs_start,
                                                    e.jobs_end)
                                 for e in epochs),
            "epoch.self_ms": 1000 * _mean(self_time(e, tr.spans)
                                          for e in epochs),
            "state.rows_total": state[-1]["numRowsTotal"],
            "state.memory_mb": state[-1]["memoryUsedBytes"] / 2**20,
            "state.commit_ms": _mean(s["commitTimeMs"] for s in state),
            "state.update_ms": _mean(s["allUpdatesTimeMs"] for s in state),
            "state.dropped_duplicates": sum(
                s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                for s in state),
            "latesplit.s": per_epoch("latesplit"),
            "latesplit.late_rows": total("handoff", "records"),
            "handoff.s": per_epoch("handoff"),
            "handoff.records": total("handoff", "records"),
            "ingest.s": per_epoch("ingest"),
            "ingest.schema_groups": total("ingest", "schema_groups") / n,
            "ingest.new_columns": total("ingest", "new_columns"),
            "manifest.commit_s": per_epoch("commit"),
            "manifest.write_sum_s": per_epoch("manifest.write"),
            "manifest.write_max_s": _mean(max(v) for v in writes.values()),
            "manifest.commits": len(spans("manifest.write")),
            "manifest.cas_retries": self.cas_retries,
            "manifest.files": total("manifest.write", "files"),
            "manifest.bytes": total("manifest.write", "bytes"),
            "accounting.jobs": _mean(s.jobs_end - s.jobs_start
                                     for s in spans("accounting")),
            "accounting.s": per_epoch("accounting"),
            "jvm.gc_s": gc_s,
        }
        # The addBatch split: the layers' spans and the epoch's own self
        # time tile the epoch span (the Python side of addBatch); the
        # rest of the JVM-measured addBatch is the stated remainder.
        split = {name: per_epoch(name) for name in SPLIT}
        split["epoch_self"] = layers["epoch.self_ms"] / 1000
        split["sum_s"] = sum(split.values())
        split["add_batch_s"] = layers["epoch.add_batch_ms"] / 1000
        split["remainder_s"] = split["add_batch_s"] - split["sum_s"]
        every = [{"epoch": e.key, "s": e.dur,
                  "jobs": e.jobs_end - e.jobs_start,
                  **{c.name: c.dur for c in tr.spans if c.parent is e}}
                 for e in tr.named("epoch")]
        return layers, {"add_batch_split_per_epoch_s": split,
                        "every_epoch": every}


def _files(table, entry: dict) -> list[dict]:
    """Absolute path and size of each data file a manifest entry lists."""
    base = f"{table.batches_dir}/{type(table)._dir_of(entry)}"
    out = []
    for f in entry["files"]:
        path = os.path.join(base, f["path"])
        out.append({"path": path, "size": os.path.getsize(path)})
    return out


def _handed_off(broker) -> list[tuple[str, str, int]]:
    return [envelope_key(rec["value"].decode())
            for p in broker.partitions_for("hist")
            for rec in broker.fetch("hist", p, 0)]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
