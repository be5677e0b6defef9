"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Workloads: ``ingest-fanout`` (sustained
streaming ingest) and ``query-mix`` (registry queries plus manifest
reads); see perfbench/README.md. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full report, including the load attestation and, in
traced runs, the layer split, is written to
``.perfbench_work/report-<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_PROCESS = float(os.environ.get("PERFBENCH_T0", time.time()))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "1g"


def _metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a workload reports 0 for a layer it does
    not exercise."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def result_line(res: dict, trace: bool) -> dict:
    """The last line of standard output: the end-to-end metrics, or with
    ``trace`` the per-layer ones."""
    if trace:
        metrics = {k: {"value": res["layers"].get(k, 0), "unit": u}
                   for k, u in _metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u}
                   for k, u in _metric_units("end_to_end").items()}
    return {"correct": bool(res["correct"]),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics}


def _reexec_with_fixed_hash_seed() -> None:
    """String hashing must not vary between runs of one seed; the
    interpreter fixes it only at start-up."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        env = dict(os.environ, PYTHONHASHSEED="0",
                   PERFBENCH_T0=repr(T_PROCESS))
        os.execve(sys.executable, [sys.executable] + sys.argv, env)


def _environment(run_dir: str) -> None:
    ncpu = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
    })


def _session(run_dir: str):
    from rakam_api_collector_spark.session import get_spark
    tmp = os.path.join(run_dir, "tmp")
    return get_spark("perfbench", extra_conf={
        # the session's own code-cache flag, plus a JVM temp dir inside
        # the checkout (RocksDB unpacks its native library there); the
        # heap is committed and touched whole at start, so peak memory
        # does not depend on how far the collector grew it by the peak
        "spark.driver.extraJavaOptions":
            f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })


def _stop_spark(spark, probes) -> None:
    """Stop the session, then end the driver JVM and every process under
    it and wait for each. Left alone, the JVM exits only once it sees its
    standard input close, after this process has already gone."""
    try:
        if spark is not None:
            spark.stop()
    finally:
        below = probes.descendants(os.getpid(), probes.child_map())[1:]
        context = sys.modules.get("pyspark.core.context")
        gateway = getattr(getattr(context, "SparkContext", None),
                          "_gateway", None)
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        probes.end_processes(below)


def _tracer(spark):
    from perfbench.spans import Tracer
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return Tracer(jobs_fn=dag.numTotalJobs)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest-fanout", "query-mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    _reexec_with_fixed_hash_seed()
    # a SIGTERM unwinds through the finally blocks, which end the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from perfbench import probes

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    _environment(run_dir)
    sampler = probes.TreeSampler().start()
    spark = None
    try:
        t = time.perf_counter()
        if args.workload == "ingest-fanout":
            from perfbench import ingest
            bursts = ingest.make_bursts(args.seed)
        else:
            from perfbench import querymix
            inputs = querymix.prepare_inputs(
                os.path.join(WORK, "inputs"), args.seed)
        excluded = time.perf_counter() - t
        spark = _session(run_dir)
        tracer = _tracer(spark) if args.trace else None
        if args.workload == "ingest-fanout":
            res = ingest.FanoutRun(spark, run_dir, tracer).run(
                args.seconds, bursts, _t0_perf(), excluded)
        else:
            res = querymix.QueryMixRun(spark, run_dir, inputs, tracer).run(
                args.seconds, _t0_perf(), excluded)
    finally:
        _stop_spark(spark, probes)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    res["end_to_end"]["peak_rss_mb"] = sampler.peak_pss_kb / 1024
    res["python_workers_peak"] = sampler.peak_workers
    if "layers" in res:
        res["layers"]["python.workers_peak"] = sampler.peak_workers

    report = os.path.join(
        WORK, f"report-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(report, "w") as fh:
        json.dump(res, fh, indent=1, default=str)
    print(json.dumps({"attestation": res.get("attestation"),
                      "errors": res.get("errors", [])[:5]}))
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


def _t0_perf() -> float:
    """Process start on the perf_counter clock."""
    return time.perf_counter() - (time.time() - T_PROCESS)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
