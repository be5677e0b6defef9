"""Bootstrap wiring (ServiceStarter analog): config → running pipeline."""

from __future__ import annotations

import json

import pytest

from rakam_api_collector_spark import app
from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.sinks import read_collection


def _envelope(i: int, coll: str = "ev") -> str:
    return json.dumps({"id": i, "metadata": {}, "data": {
        "_project": "p", "_collection": coll, "_user": f"u{i}",
        "_time": 1704067200000 + i * 1000, "x": float(i)}})


def test_file_source_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch0.txt").write_text(
        "\n".join(_envelope(i) for i in range(10)))

    cfg = {
        "format": "fabric",
        "source": {"type": "file", "path": str(src)},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "catalog_path": str(tmp_path / "catalog.json"),
        "checkpoint": str(tmp_path / "ckpt"),
        "dedup": False,
        "shard_time": "2024-01-02 00:00:00",
        "now": "2024-01-01",
    }
    queries = app.start(spark, cfg)
    for q in queries:
        q.awaitTermination(120)

    cat = Catalog(cfg["catalog_path"])       # persisted metastore state
    assert ("p", "ev") in cat.tables()
    got = read_collection(spark, cfg["target"]["base"], "p", "ev", cat)
    rows = sorted((r["_user"], r["x"]) for r in got.collect())
    assert len(rows) == 10 and rows[0] == ("u0", 0.0)


def test_manifested_app_registers_datasource(spark, tmp_path):
    """A manifested app is end-to-end readable through Spark's own
    reader API: start() registers format("manifest"), the stream's
    epoch commits land in the version protocol, and the committed
    table reads back by path with no engine imports on the consumer
    side."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch0.txt").write_text(
        "\n".join(_envelope(i) for i in range(6)))

    cfg = {
        "format": "fabric",
        "source": {"type": "file", "path": str(src)},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "catalog_path": str(tmp_path / "catalog.json"),
        "checkpoint": str(tmp_path / "ckpt"),
        "dedup": False,
        "manifested": True,
        "shard_time": "2024-01-02 00:00:00",
        "now": "2024-01-01",
    }
    for q in app.start(spark, cfg):
        q.awaitTermination(120)

    got = (spark.read.format("manifest")
           .option("path", f"{cfg['target']['base']}/p/ev").load())
    assert got.count() == 6
    assert sorted(r["_user"] for r in got.collect())[0] == "u0"


def test_bad_config_rejected(spark, tmp_path):
    base = {"source": {"type": "file", "path": str(tmp_path)},
            "target": {"base": str(tmp_path)},
            "checkpoint": str(tmp_path / "c")}
    with pytest.raises(ValueError, match="unknown format"):
        app.start(spark, {**base, "format": "protobuf"})
    with pytest.raises(ValueError, match="unknown source"):
        app.start(spark, {**base, "source": {"type": "pulsar"}})
    with pytest.raises(ValueError, match="unknown target"):
        app.start(spark, {**base, "target": {"type": "delta", "base": "x"}})
    with pytest.raises(ValueError, match="unknown target type 'orc'"):
        app.start(spark, {**base, "target": {"type": "orc", "base": "x"}})
    with pytest.raises(ValueError, match="'layout'"):
        app.start(spark, {**base, "layout": "grouped"})


def test_kafka_source_gated(spark, tmp_path):
    """No connector jar in this environment → the availability gate
    fires BEFORE any reader is built; with the jar present the branch
    proceeds to realtime_reader(...).load() into the shared pipeline."""
    with pytest.raises(RuntimeError, match="connector jar is absent"):
        app.start(spark, {
            "format": "fabric",
            "source": {"type": "kafka", "brokers": ["b:9092"],
                       "topics": ["t"]},
            "target": {"type": "parquet", "base": str(tmp_path)},
            "checkpoint": str(tmp_path / "c")})


def test_kinesis_source_gated(spark, tmp_path):
    with pytest.raises(RuntimeError, match="no Kinesis connector"):
        app.start(spark, {
            "format": "fabric",
            "source": {"type": "kinesis", "stream": "s", "region": "r",
                       "app": "a"},
            "target": {"type": "parquet", "base": str(tmp_path)},
            "checkpoint": str(tmp_path / "c")})


def test_injected_stream_config_wiring(spark, tmp_path, monkeypatch):
    """End-to-end through app.start's kafka branch with the reader
    substituted (no broker/jar in env): the probe passes, the branch
    builds the stream, and the downstream pipeline lands typed rows."""
    from rakam_api_collector_spark.sources import kafka as kafka_mod

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "b.txt").write_text(
        "\n".join(_envelope(i) for i in range(5)))

    class FakeReader:
        def load(self):
            from pyspark.sql import functions as F
            return (spark.readStream.format("text").load(str(src_dir))
                    .select(F.encode("value", "utf-8").alias("value")))

    monkeypatch.setattr(kafka_mod, "kafka_available", lambda s: True)
    monkeypatch.setattr(kafka_mod, "realtime_reader",
                        lambda *a, **kw: FakeReader())

    cfg = {
        "format": "fabric",
        "source": {"type": "kafka", "brokers": ["b:9092"], "topics": ["t"]},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "catalog_path": str(tmp_path / "catalog.json"),
        "checkpoint": str(tmp_path / "ckpt"),
        "dedup": False,
        "shard_time": "2024-01-02 00:00:00",
        "now": "2024-01-01",
        "trigger": {"availableNow": True},
    }
    for q in app.start(spark, cfg):
        q.awaitTermination(120)

    cat = Catalog(cfg["catalog_path"])
    got = read_collection(spark, cfg["target"]["base"], "p", "ev", cat)
    assert got.count() == 5


def test_kinesis_python_connector_end_to_end(spark, tmp_path):
    """source.connector='python' runs the full ServiceStarter analog
    against the jar-less format('kinesis_py') source and the local
    emulator: envelopes put to the stream land as typed collection
    tables, and a second start() from the same checkpoint re-ingests
    nothing while picking up new records."""
    from rakam_api_collector_spark.sources.kinesis_local import \
        LocalKinesisClient

    cl = LocalKinesisClient(str(tmp_path / "kin"))
    cl.create_stream("events", ShardCount=2)
    cl.put_records("events", [
        {"Data": _envelope(i).encode(), "PartitionKey": f"k{i}",
         "ShardId": f"shardId-{i % 2:012d}"} for i in range(6)])

    cfg = {
        "format": "fabric",
        "source": {"type": "kinesis", "stream": "events",
                   "connector": "python",
                   "endpoint": f"local:{tmp_path / 'kin'}"},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "catalog_path": str(tmp_path / "catalog.json"),
        "checkpoint": str(tmp_path / "ckpt"),
        "dedup": False,
        "shard_time": "2024-01-02 00:00:00",
        "now": "2024-01-01",
    }
    for q in app.start(spark, cfg):
        q.awaitTermination(120)
    cat = Catalog(cfg["catalog_path"])
    got = read_collection(spark, cfg["target"]["base"], "p", "ev", cat)
    assert sorted(r["_user"] for r in got.collect()) \
        == [f"u{i}" for i in range(6)]

    cl.put_records("events", [{"Data": _envelope(9).encode(),
                               "PartitionKey": "k9",
                               "ShardId": "shardId-000000000001"}])
    for q in app.start(spark, cfg):
        q.awaitTermination(120)
    rows = sorted(r["_user"] for r in read_collection(
        spark, cfg["target"]["base"], "p", "ev", cat).collect())
    assert rows == [f"u{i}" for i in range(6)] + ["u9"]


def _late_envelope(i: int, coll: str = "ev") -> str:
    """20 days before the configured ``now``: the late split hands it
    to the historical channel."""
    return json.dumps({"id": i, "metadata": {}, "data": {
        "_project": "p", "_collection": coll, "_user": f"late{i}",
        "_time": 1704067200000 - 20 * 86_400_000 + i * 1000,
        "x": float(i)}})


def test_manifested_app_with_historical_drain_exactly_once(spark, tmp_path):
    """manifested + historical: the drain commits through the same
    version protocol as the realtime stream, so format("manifest")
    sees every realtime and drained row exactly once — also after a
    replayed drain epoch (its last commit file deleted, drain
    restarted), which replaces its batch instead of appending it."""
    import os

    src = tmp_path / "in"
    src.mkdir()
    (src / "batch0.txt").write_text("\n".join(
        [_envelope(i) for i in range(6)]
        + [_late_envelope(i) for i in range(4)]))
    (tmp_path / "hist").mkdir()
    cfg = {
        "format": "fabric",
        "source": {"type": "file", "path": str(src)},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "catalog_path": str(tmp_path / "catalog.json"),
        "checkpoint": str(tmp_path / "ckpt"),
        "historical": {"dir": str(tmp_path / "hist"),
                       "checkpoint": str(tmp_path / "ckpt_hist")},
        "dedup": False,
        "manifested": True,
        "shard_time": "2024-01-02 00:00:00",
        "now": "2024-01-01",
    }
    want = sorted([f"u{i}" for i in range(6)]
                  + [f"late{i}" for i in range(4)])

    def users():
        got = (spark.read.format("manifest")
               .option("path", f"{cfg['target']['base']}/p/ev").load())
        return sorted(r["_user"] for r in got.collect())

    # the drain may list the spool before the realtime epoch wrote it:
    # a second start drains whatever the first one missed
    for _ in range(2):
        for q in app.start(spark, cfg):
            assert q.awaitTermination(120)
    assert users() == want

    commits = tmp_path / "ckpt_hist" / "commits"
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for f in (str(last), f".{last}.crc"):   # the file and its checksum
        if (commits / f).exists():
            os.remove(commits / f)
    for q in app.start(spark, cfg):
        assert q.awaitTermination(120)
    assert users() == want
    # nothing was appended outside the version protocol
    assert not list((tmp_path / "tables" / "p" / "ev").glob("_day=*"))


def test_app_error_rate_kill_switch_trips(spark, tmp_path):
    """app.start turns the ST11 kill-switch and the A2 counters on with
    the reference defaults: a source that is mostly malformed envelopes
    fails the query, and the counters are exposed on it."""
    import pyspark.errors

    src = tmp_path / "in"
    src.mkdir()
    lines = ([_envelope(i) for i in range(30)]
             + ['{"id": %d, "metadata": {}, "data": {broken' % i
                for i in range(120)])
    (src / "batch0.txt").write_text("\n".join(lines))
    cfg = {
        "format": "fabric",
        "source": {"type": "file", "path": str(src)},
        "target": {"type": "parquet", "base": str(tmp_path / "tables")},
        "checkpoint": str(tmp_path / "ckpt"),
        "dedup": False,
        "shard_time": "2024-01-02 00:00:00",
        "now": "2024-01-01",
    }
    [q] = app.start(spark, cfg)
    with pytest.raises(pyspark.errors.exceptions.captured
                       .StreamingQueryException, match="kill-switch"):
        q.awaitTermination(120)
    assert q.stats.records == {("p", "ev"): 30}
    assert q.error_monitor.should_kill()
