"""query-mix: registry queries and manifest reads, back to back.

One client runs a pass of registry queries plus two reads through
``format("manifest")`` over small fixtures generated from the seed, then
the next pass; every execution is compared against DuckDB on the same
fixtures. This is the read side: Catalyst/py4j planning with the
``spread()`` probe, the Python/Arrow boundary (llm43), a heavy
quantile query (dq41) and the manifest read path that ``ingest-fanout``
writes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from datetime import datetime, timedelta

from check_correctness import canon

from perfbench import probes
from perfbench.spans import Tracer

QUERY_NAMES = [
    "dq03_late_split", "dq13_multi_join", "dq17_dedup_first",
    "dq29_envelope_parse", "dq41_approx_quantile", "llm43_compression_ratio",
]
# sf0.01 sizes of the TPC-H-ish fixture set: small enough for a fresh
# process to finish a cold pass and the measured window inside the
# per-run budget (README.md)
N_CUSTOMER, N_ORDERS, N_LINEITEM = 1_500, 15_000, 60_000
N_EVENTS, N_DOCUMENTS = 10_000, 500
MANIFEST_BATCHES = 2
FIXTURE_VERSION = 1

_WORDS = ("a the data spark stream batch table query row column key value "
          "hash join sort filter group agg window scan merge part line "
          "order customer vector fast slow big small").split()
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en"] * 3 + ["zh", "es", "fr", "de"]


def _ts(base: datetime, seconds: float) -> datetime:
    return base + timedelta(seconds=seconds)


def make_tables(seed: int) -> dict[str, "object"]:
    """pyarrow tables in the schema of the TPC-H-ish tables the registry
    queries read (TESTDATA.md), from the seed alone."""
    import pyarrow as pa

    rng = random.Random(seed)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    customer = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(N_CUSTOMER)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(N_CUSTOMER)],
        "c_mktsegment": [rng.choice(segs) for _ in range(N_CUSTOMER)],
    })
    d0 = datetime(1995, 1, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array([rng.randrange(N_CUSTOMER)
                               for _ in range(N_ORDERS)], pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(N_ORDERS)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(N_ORDERS)],
        "o_orderdate": pa.array([d0 + timedelta(days=rng.randrange(2404))
                                 for _ in range(N_ORDERS)],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(prios) for _ in range(N_ORDERS)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array([rng.randrange(N_ORDERS)
                                for _ in range(N_LINEITEM)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(2000)
                               for _ in range(N_LINEITEM)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(100)
                               for _ in range(N_LINEITEM)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7)
                                  for _ in range(N_LINEITEM)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(N_LINEITEM)],
        "l_extendedprice": [round(rng.uniform(900, 105000), 2)
                            for _ in range(N_LINEITEM)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(N_LINEITEM)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(N_LINEITEM)],
        "l_returnflag": [rng.choice("ANR") for _ in range(N_LINEITEM)],
        "l_linestatus": [rng.choice("FO") for _ in range(N_LINEITEM)],
        "l_shipdate": pa.array([d0 + timedelta(days=rng.randrange(2500))
                                for _ in range(N_LINEITEM)],
                               pa.timestamp("us")),
    })
    e0 = datetime(2024, 1, 1)
    span_s = 30 * 86400
    secs = sorted(rng.uniform(0, span_s) for _ in range(N_EVENTS))
    events = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([_ts(e0, round(s, 6)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(N_EVENTS // 7)
                             for _ in range(N_EVENTS)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(N_EVENTS)],
        "value": [round(rng.expovariate(1 / 60), 2) for _ in range(N_EVENTS)],
        "props": [json.dumps({"k": rng.randrange(100)})
                  for _ in range(N_EVENTS)],
    })
    texts = []
    for i in range(N_DOCUMENTS):
        if texts and rng.random() < 0.01:
            texts.append(rng.choice(texts))        # exact duplicates
        else:
            texts.append(" ".join(rng.choice(_WORDS)
                                  for _ in range(rng.randint(8, 100))))
    documents = pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(N_DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": documents}


def manifest_reads(events) -> dict[str, dict]:
    """The two manifest reads, as Spark filters over the manifested
    events copy and as DuckDB SQL over the plain fixture."""
    ts = events.column("ts").to_pylist()
    lo, hi = ts[len(ts) // 2], ts[len(ts) // 2] + timedelta(days=2)
    user = str(events.column("user_id")[len(ts) // 3].as_py())
    lo_s, hi_s = lo.isoformat(sep=" "), hi.isoformat(sep=" ")
    return {
        "manifest_time_range": {
            "where": f"_time >= TIMESTAMP '{lo_s}' "
                     f"AND _time < TIMESTAMP '{hi_s}'",
            "select": ["event_type", "count(*) AS n",
                       "round(sum(value), 2) AS v"],
            "group_by": "event_type",
            "oracle": f"SELECT event_type, count(*) AS n, "
                      f"round(sum(value), 2) AS v FROM events "
                      f"WHERE ts >= TIMESTAMP '{lo_s}' "
                      f"AND ts < TIMESTAMP '{hi_s}' GROUP BY event_type",
        },
        "manifest_user_lookup": {
            "where": f"_user = '{user}'",
            "select": ["_time", "event_type", "value"],
            "group_by": None,
            "oracle": f"SELECT ts AS _time, event_type, value FROM events "
                      f"WHERE CAST(user_id AS VARCHAR) = '{user}'",
        },
    }


def prepare_inputs(inputs_dir: str, seed: int) -> dict:
    """Fixtures and oracle answers for ``seed``, generated once and
    reused by later runs of the same seed."""
    import duckdb
    import pyarrow.parquet as pq

    from rakam_api_collector_spark.queries import ORACLE

    out = os.path.join(inputs_dir, f"query-mix-{seed}-v{FIXTURE_VERSION}")
    done = os.path.join(out, "inputs.json")
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = make_tables(seed)
    con = duckdb.connect()
    for name, t in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(t, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracle = {}
    for name in QUERY_NAMES:
        res = con.sql(ORACLE[name])
        oracle[name] = _canon_arrow(list(res.columns), res.fetch_arrow_table())
    reads = manifest_reads(tables["events"])
    for name, r in reads.items():
        res = con.sql(r["oracle"])
        oracle[name] = _canon_arrow(list(res.columns), res.fetch_arrow_table())
    con.close()
    spec = {"fixtures": out, "oracle": oracle, "reads": reads}
    with open(os.path.join(tmp, "inputs.json"), "w") as fh:
        json.dump(spec, fh)
    if os.path.exists(out):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, out)
    with open(done) as fh:
        return json.load(fh)


def _canon_arrow(cols: list[str], tbl) -> list:
    rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
    c, r = canon(cols, rows)
    return [c, [list(x) for x in r]]


def canon_rows(cols: list[str], rows) -> list:
    c, r = canon(cols, [tuple(x) for x in rows])
    return [c, [list(x) for x in r]]


class QueryMixRun:
    def __init__(self, spark, work: str, inputs: dict,
                 tracer: Tracer | None) -> None:
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.tracer = tracer
        self.table_dir = f"{work}/manifest/bench/events"

    def _write_manifest_copy(self) -> None:
        """The manifested ``events`` copy, committed as several
        time-ordered batches so zone maps have files to skip."""
        from pyspark.sql import functions as F

        from rakam_api_collector_spark.manifest import ManifestedTable
        from rakam_api_collector_spark.tables import load_table

        ev = load_table(self.spark, self.inputs["fixtures"], "events")
        ev = ev.select(F.col("ts").alias("_time"),
                       F.col("user_id").cast("string").alias("_user"),
                       "event_type", "value", "event_id")
        table = ManifestedTable(f"{self.work}/manifest", "bench", "events")
        step = -(-N_EVENTS // MANIFEST_BATCHES)
        for i in range(MANIFEST_BATCHES):
            part = ev.filter((F.col("event_id") >= i * step)
                             & (F.col("event_id") < (i + 1) * step))
            table.write(part.drop("event_id"), batch_id=f"b{i}",
                        partition_by_day=False)

    def _manifest_scan(self, spec: dict):
        return (self.spark.read.format("manifest")
                .option("path", self.table_dir).load()
                .filter(spec["where"]))

    def _manifest_read(self, spec: dict):
        from pyspark.sql import functions as F
        df = self._manifest_scan(spec)
        if spec["group_by"]:
            return df.groupBy(spec["group_by"]).agg(
                *[F.expr(e) for e in spec["select"][1:]])
        return df.selectExpr(*spec["select"])

    def _executions(self):
        from rakam_api_collector_spark.queries import QUERIES
        sf = self.inputs["fixtures"]
        for name in QUERY_NAMES:
            yield name, (lambda fn=QUERIES[name]: fn(self.spark, sf))
        for name, spec in self.inputs["reads"].items():
            yield name, (lambda spec=spec: self._manifest_read(spec))

    def _execute(self, name: str, build) -> dict:
        """One execution, timed from build to the end of collect; the
        trace attributes are read after the clock stops."""
        tr = self.tracer
        rec = {"name": name}
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = build()
                rows = df.collect()
            else:
                with tr.span("query", key=name) as rec["span"]:
                    with tr.span("build"):
                        df = build()
                    with tr.span("collect"):
                        rows = df.collect()
            rec["wall_s"] = time.perf_counter() - t0
            if tr is not None:
                rec["phases_s"] = _phases_s(df)
                if name in self.inputs["reads"]:
                    # one scan partition per file left after pruning
                    rec["files_opened"] = self._manifest_scan(
                        self.inputs["reads"][name]).rdd.getNumPartitions()
            rec["result"] = canon_rows(df.columns, rows)
        except Exception as e:                      # noqa: BLE001
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            rec.setdefault("wall_s", time.perf_counter() - t0)
        self.spark.catalog.clearCache()
        return rec

    def _pass(self) -> list[dict]:
        return [self._execute(n, b) for n, b in self._executions()]

    def _install_tracing(self) -> None:
        import sys

        from rakam_api_collector_spark import tables
        spread = tables.spread
        traced = self.tracer.wrap("spread", spread)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(
                    "rakam_api_collector_spark")
                    and getattr(mod, "spread", None) is spread):
                mod.spread = traced

    def run(self, seconds: float, t_process: float,
            excluded_s: float) -> dict:
        from rakam_api_collector_spark import datasource
        # import the registry first: tracing rebinds ``spread`` in every
        # package module that has already imported it
        from rakam_api_collector_spark.queries import QUERIES  # noqa: F401

        datasource.register(self.spark)
        if self.tracer is not None:
            self._install_tracing()
        t = time.perf_counter()
        self._write_manifest_copy()
        t_copy = time.perf_counter()
        warm = self._pass()
        t_warm = time.perf_counter()
        setup_s = t_warm - t_process - excluded_s
        phases = {"session_s": t - t_process - excluded_s,
                  "manifest_copy_s": t_copy - t,
                  "warm_pass_s": t_warm - t_copy}

        gc0 = probes.jvm_gc_s(self.spark)
        cpu0 = probes.tree_cpu_s()
        load = probes.LoadWindow()
        t0 = time.perf_counter()
        passes = []
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self._pass())
        wall = time.perf_counter() - t0
        cpu = probes.tree_cpu_s() - cpu0
        attest = load.close()
        gc_s = probes.jvm_gc_s(self.spark) - gc0
        res = self._report(warm, passes, wall, cpu, setup_s)
        res.update({"attestation": attest, "setup_phases": phases,
                    "gc_s": gc_s})
        if self.tracer is not None:
            res["layers"], res["trace"] = self._layers(passes, gc_s)
        return res

    def _report(self, warm, passes, wall, cpu, setup_s) -> dict:
        oracle = self.inputs["oracle"]
        execs = [r for p in passes for r in p]
        errors = []
        failed = 0
        for r in warm + execs:
            bad = r.get("error") or (
                None if r["result"] == oracle[r["name"]]
                else "result differs from the DuckDB oracle")
            if bad:
                failed += 1
                errors.append(f"{r['name']}: {bad}")
        out = {
            "correct": failed == 0,
            "attempted": len(warm) + len(execs),
            "failed": failed,
            "errors": sorted(set(errors)),
            "end_to_end": {
                "throughput_per_s": len(execs) / wall,
                "latency_p50_s": statistics.median(r["wall_s"]
                                                   for r in execs),
                "cpu_s_per_unit": cpu / len(execs),
                "setup_s": setup_s,
            },
            "window": {"passes": len(passes), "executions": len(execs),
                       "wall_s": wall,
                       "per_query_s": {
                           n: statistics.median(r["wall_s"] for r in execs
                                                if r["name"] == n)
                           for n in dict.fromkeys(r["name"] for r in execs)}},
        }
        return out

    def _layers(self, passes, gc_s) -> tuple[dict, dict]:
        tr = self.tracer
        sc = self.spark.sparkContext
        n = len(passes)
        per_query: dict[str, dict] = {}
        for p in passes:
            for r in p:
                q = r.get("span")
                if q is None or "error" in r:
                    continue
                kids = {s.name: s for s in tr.spans if s.parent is q}
                build, coll = kids["build"], kids["collect"]
                d = per_query.setdefault(r["name"], {
                    "build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0,
                    "jobs": 0, "tasks": 0, "spread_calls": 0,
                    "spread_s": 0.0})
                d["build_s"] += build.dur / n
                ph = r["phases_s"]
                d["plan_s"] += sum(ph.values()) / n
                d["exec_s"] += (coll.dur - ph.get("optimization", 0)
                                - ph.get("planning", 0)) / n
                d["jobs"] += (q.jobs_end - q.jobs_start) / n
                d["tasks"] += probes.spark_tasks(sc, q.jobs_start, q.jobs_end) / n
                sp = [s for s in tr.named("spread")
                      if q.start <= s.start <= q.end]
                d["spread_calls"] += len(sp) / n
                d["spread_s"] += sum(s.dur for s in sp) / n
                if "files_opened" in r:
                    d["files_opened"] = r["files_opened"]

        def fam(prefix: str, key: str) -> float:
            return sum(v[key] for k, v in per_query.items()
                       if k.startswith(prefix))

        reads = {k: v for k, v in per_query.items()
                 if k.startswith("manifest_")}
        snapshot_files = self._snapshot_files()
        opened = sum(v.get("files_opened", 0) for v in reads.values())
        layers = {
            "manifest.read_s": sum(v["build_s"] + v["plan_s"] + v["exec_s"]
                                   for v in reads.values()),
            "manifest.files_scanned_ratio":
                opened / (snapshot_files * max(len(reads), 1)),
            "jvm.gc_s": gc_s,
            "tables.spread_calls": fam("", "spread_calls"),
            "tables.spread_s": fam("", "spread_s"),
        }
        for label, prefix in (("query", ""), ("dq", "dq"), ("llm", "llm")):
            for key in ("build_s", "plan_s", "exec_s", "jobs", "tasks"):
                layers[f"{label}.{key}"] = fam(prefix, key)
        return layers, {"per_query_per_pass": per_query,
                        "snapshot_files": snapshot_files}

    def _snapshot_files(self) -> int:
        from rakam_api_collector_spark.manifest import ManifestedTable
        base, project, coll = self.table_dir.rsplit("/", 2)
        return sum(len(m.get("files") or [])
                   for m in ManifestedTable(base, project, coll).committed())


def _phases_s(df) -> dict[str, float]:
    """Catalyst phase times of the DataFrame's execution, from
    ``queryExecution().tracker().phases()``: analysis runs when the
    DataFrame is built, optimization and planning inside collect."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.keySet().iterator()
    out = {}
    while it.hasNext():
        name = it.next()
        ph = phases.apply(name)
        out[name] = (ph.endTimeMs() - ph.startTimeMs()) / 1000.0
    return out
