"""Tests for the benchmark's own helpers.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

from perfbench import probes  # noqa: E402
from perfbench.ingest import (burst_latency, check_conservation,  # noqa: E402
                              consumed_through, envelope_key, make_bursts)
from perfbench.spans import Span, Tracer, covered, self_time  # noqa: E402


def _fake_proc(tmp_path, procs: dict[int, tuple[int, int, str]]) -> str:
    """procs: pid -> (ppid, pss_kb, cmdline)."""
    for pid, (ppid, pss, cmd) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} (py thon) S {ppid} 0 0 0")
        (d / "cmdline").write_bytes(cmd.replace(" ", "\0").encode())
        (d / "smaps_rollup").write_text(
            f"00400000-7ff rw-p 0 00:00 0 [rollup]\nRss: {pss * 3} kB\n"
            f"Pss: {pss} kB\nShared_Clean: 0 kB\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


TREE = {
    10: (1, 100, "python3 perfbench/run.py"),
    11: (10, 2000, "java org.apache.spark.deploy.SparkSubmit"),
    12: (11, 50, "python3 -m pyspark.daemon"),
    13: (12, 7, "python3 -m pyspark.daemon"),      # forked workers
    14: (12, 7, "python3 -m pyspark.daemon"),
    20: (1, 999, "python3 unrelated.py"),
}


def test_pss_sums_the_tree_and_nothing_else(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    sampler = probes.TreeSampler(root=10, proc=proc)
    sampler.sample()
    assert sampler.peak_pss_kb == 100 + 2000 + 50 + 7 + 7
    assert sampler.peak_workers == 3
    sub = probes.TreeSampler(root=12, proc=proc)
    sub.sample()
    assert sub.peak_pss_kb == 64


def test_pss_of_a_vanished_process_is_zero(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, 5, "python3")})
    assert probes.pss_kb(99, proc) == 0


def test_end_processes_stops_a_tree_and_waits_for_it():
    import subprocess
    stubborn = subprocess.Popen(
        [sys.executable, "-c",
         "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN);"
         " print(flush=True); time.sleep(60)"], stdout=subprocess.PIPE)
    stubborn.stdout.readline()    # SIGTERM is ignored from here on
    polite = subprocess.Popen([sys.executable, "-c",
                               "import time; time.sleep(60)"])
    pids = [stubborn.pid, polite.pid]
    assert all(probes.alive(p) for p in pids)
    killed = probes.end_processes(pids, grace=0.5)
    assert killed == [stubborn.pid]
    assert not any(probes.alive(p) for p in pids)


def test_covered_is_the_union_clipped_to_the_parent():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_overlapping_children_once():
    clock = iter([0.0, 1.0, 2.0, 3.0, 5.0, 10.0]).__next__
    tr = Tracer(clock=clock)
    with tr.span("epoch", key=7, ambient=True) as epoch:
        with tr.span("ingest"):
            pass                            # 1.0 .. 2.0
        done = threading.Event()

        def pool_thread():                  # no own stack: ambient parent
            with tr.span("manifest.write"):
                pass                        # 3.0 .. 5.0
            done.set()
        t = threading.Thread(target=pool_thread)
        t.start()
        t.join(timeout=10)
        assert done.is_set()
    assert epoch.dur == 10.0
    write = tr.named("manifest.write")[0]
    assert write.parent is epoch and write.key == 7
    assert self_time(epoch, tr.spans) == 10.0 - 1.0 - 2.0


def test_self_time_of_parallel_children():
    parent = Span("commit", 1, 0.0, end=10.0)
    kids = [Span("manifest.write", 1, 1.0, parent, 6.0),
            Span("manifest.write", 1, 2.0, parent, 8.0),
            Span("manifest.write", 1, 9.0, parent, 9.5)]
    assert self_time(parent, [parent] + kids) == 10.0 - 7.0 - 0.5


def test_wrap_records_jobs_between_span_boundaries():
    jobs = iter([3, 9]).__next__
    tr = Tracer(jobs_fn=jobs, clock=time.perf_counter)
    assert tr.wrap("ingest", lambda x: x + 1)(1) == 2
    s = tr.named("ingest")[0]
    assert (s.jobs_start, s.jobs_end) == (3, 9)


def _epoch(batch_id: int, start: str, dur_ms: int, ends: list[int]) -> dict:
    return {"batchId": batch_id, "timestamp": start,
            "numInputRows": 1,
            "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms},
            "sources": [{"endOffset": json.dumps({"v": 1, "offsets": {
                f"events {p}": n for p, n in enumerate(ends)}})}]}


def test_consumed_through_sums_partition_end_offsets():
    assert consumed_through(_epoch(0, "2024-01-01T00:00:00.000Z", 1,
                                   [3, 4, 5, 6])) == 18


def test_latency_of_a_burst_split_across_two_epochs():
    from datetime import datetime, timezone
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
    # the burst takes the log from 400 to 800 records; the trigger
    # planned at 600, so epoch 5 holds part of it and epoch 6 the rest
    epochs = [
        _epoch(4, "2024-01-01T00:00:00.000Z", 500, [100] * 4),
        _epoch(5, "2024-01-01T00:00:01.000Z", 2000, [150] * 4),
        _epoch(6, "2024-01-01T00:00:03.500Z", 2500, [200] * 4),
    ]
    lat, ep = burst_latency(t0 + 0.9, 800, epochs)
    assert ep["batchId"] == 6
    assert abs(lat - (6.0 - 0.9)) < 1e-6
    # a burst fully inside one epoch ends with that epoch
    lat, ep = burst_latency(t0 + 0.2, 400, epochs)
    assert ep["batchId"] == 4 and abs(lat - 0.3) < 1e-6
    # never committed
    assert burst_latency(t0, 801, epochs) is None


def _env(coll: str, user: str, t: int) -> str:
    return json.dumps({"id": 0, "metadata": {}, "data": {
        "_project": "stress", "_collection": coll, "_user": user,
        "_time": t}})


def test_conservation_accepts_each_key_exactly_once():
    produced = [[_env("c0", "u1", 1), _env("c1", "u2", 2)],
                [_env("c0", "u1", 1),          # duplicate key, dropped
                 _env("c1", "u3", 3)]]
    committed = [("c0", "u1", 1), ("c1", "u3", 3)]
    handed_off = [("c1", "u2", 2)]
    assert check_conservation(produced, committed, handed_off) == (0, [])


def test_conservation_accepts_either_collection_for_a_shared_key():
    produced = [[_env("c0", "u1", 1), _env("c1", "u1", 1)]]
    assert check_conservation(produced, [("c1", "u1", 1)], []) == (0, [])


def test_conservation_counts_lost_duplicated_and_misrouted_keys():
    produced = [[_env("c0", "u1", 1), _env("c0", "u2", 2),
                 _env("c1", "u3", 3), _env("c1", "u4", 4)]]
    committed = [("c0", "u1", 1), ("c0", "u1", 1),    # twice
                 ("c0", "u3", 3)]                      # wrong collection
    handed_off = [("c1", "u9", 9)]                     # never produced
    failed, reasons = check_conservation(produced, committed, handed_off)
    assert failed == 5                 # u1, u3, u9, and u2 + u4 missing
    assert "2 keys never landed" in reasons
    assert "1 keys landed 2 times" in reasons


def test_every_burst_moves_event_time_forward_and_keeps_the_late_ones():
    from stress_ingest import BASE_MS, DAY_MS
    bursts = make_bursts(3, n_bursts=5)
    assert make_bursts(3, n_bursts=5) == bursts            # seed alone
    prev_max = 0
    for burst in bursts:
        times = [envelope_key(line)[2] for line in burst]
        on_time = [t for t in times if t > BASE_MS + 29 * DAY_MS]
        late = [t for t in times if t <= BASE_MS + 29 * DAY_MS]
        assert min(on_time) > prev_max
        assert max(on_time) <= BASE_MS + 30 * DAY_MS
        assert 0.05 < len(late) / len(times) < 0.15
        prev_max = max(on_time)


def test_result_line_carries_every_declared_metric():
    from perfbench.run import result_line
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    res = {"correct": True, "attempted": 3, "failed": 0,
           "end_to_end": {m["name"]: 1.5 for m in bench["end_to_end"]},
           "layers": {"epoch.jobs": 41}}
    line = result_line(res, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == [m["name"] for m in bench["end_to_end"]]
    traced = result_line(res, trace=True)["metrics"]
    assert list(traced) == [m["name"] for m in bench["per_layer"]]
    assert traced["epoch.jobs"] == {"value": 41, "unit": "count"}
    assert traced["query.jobs"]["value"] == 0
