"""ManifestedTable: the Raptor-MySQL-transaction analog on plain
parquet — atomic visibility, idempotent retries, orphan invisibility
(RaptorDatabaseHandler.java:312-339 semantics)."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rakam_api_collector_spark import manifest as manifest_mod
from rakam_api_collector_spark.manifest import ManifestedTable


def _df(spark, ids, day="2024-03-01T10:00:00"):
    return spark.createDataFrame(
        [(i, datetime.fromisoformat(day)) for i in ids],
        "id long, _time timestamp")


def test_committed_batches_visible_orphans_invisible(spark, tmp_path):
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="b1")
    t.write(_df(spark, [3]), batch_id="b2")
    # simulate a crashed writer: files exist, manifest never published
    _df(spark, [99]).withColumn("_day", F.to_date("_time")) \
        .write.mode("overwrite").partitionBy("_day") \
        .parquet(f"{t.batches_dir}/crashed")

    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [1, 2, 3]                  # 99 is invisible
    assert t.orphans() == ["crashed"]
    assert [m["batch"] for m in t.committed()] == ["b1", "b2"]
    assert sum(m["rows"] for m in t.committed()) == 3


def test_same_batch_id_retry_is_idempotent(spark, tmp_path):
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="epoch-0")
    t.write(_df(spark, [1, 2]), batch_id="epoch-0")   # at-least-once retry
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [1, 2]                     # replaced, not duplicated


def test_day_partitioning_survives_and_prunes(spark, tmp_path):
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1], day="2024-03-01T10:00:00"), batch_id="b1")
    t.write(_df(spark, [2], day="2024-03-02T10:00:00"), batch_id="b2")
    df = t.read(spark)
    assert "_day" in df.columns
    pruned = df.filter(F.col("_day") == "2024-03-01")
    assert [r.id for r in pruned.collect()] == [1]
    # the filter prunes at the partition level inside each batch dir
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "_day" in plan


def test_schema_evolution_across_batches(spark, tmp_path):
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="b1")
    wide = _df(spark, [2]).withColumn("extra", F.lit("x"))
    t.write(wide, batch_id="b2")
    rows = {r.id: r.extra for r in t.read(spark).collect()}
    assert rows == {1: None, 2: "x"}         # add-only evolution, null fill


def test_invalid_batch_id_and_empty_table(spark, tmp_path):
    t = ManifestedTable(str(tmp_path), "proj", "events")
    with pytest.raises(ValueError):
        t.write(_df(spark, [1]), batch_id="../escape")
    with pytest.raises(FileNotFoundError):
        t.read(spark)
    assert t.committed() == [] and t.orphans() == []


def test_manifested_handler_speaks_sink_spi(spark, tmp_path):
    """K4 SPI parity: insert() buffers, the returned callable commits
    atomically, and an epoch-keyed retry of the whole commit is
    idempotent — the streaming committer can drive it exactly like
    ParquetDatabaseHandler."""
    from rakam_api_collector_spark.ingest.catalog import Catalog
    from rakam_api_collector_spark.manifest import ManifestedTable
    from rakam_api_collector_spark.sinks import ManifestedDatabaseHandler

    h = ManifestedDatabaseHandler(Catalog(), str(tmp_path))
    df = _df(spark, [1, 2])
    commit = h.insert("proj", "events", df, batch_id="epoch-7")
    t = ManifestedTable(str(tmp_path), "proj", "events")
    assert t.committed() == []               # nothing visible pre-commit
    commit()
    commit()                                 # at-least-once retry
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    assert [m["batch"] for m in t.committed()] == ["epoch-7"]


def test_version_history_and_compaction(spark, tmp_path):
    """compact() swaps N live batches for one in a single version
    commit; gc() removes unreferenced dirs only outside the retention
    window."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    for i in range(3):
        t.write(_df(spark, [i]), batch_id=f"b{i}")
    assert t.current_version() == 3
    cid = t.compact(spark)
    assert [m["batch"] for m in t.committed()] == [cid]
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2]
    # old batches are orphans of the current version (physical dirs are
    # id--suffix since retries land in fresh dirs) but still protected
    # by the retention window (a reader on version 3 needs them)
    orphan_ids = sorted(d.split("--")[0] for d in t.orphans())
    assert orphan_ids == ["b0", "b1", "b2"]
    removed = t.gc(keep_versions=2)          # keeps v3 (b0-b2) and v4
    assert removed == []
    # grace window first: young dirs are possible in-flight writers
    assert t.gc(keep_versions=1) == []
    removed = t.gc(keep_versions=1, grace_seconds=0)
    assert sorted(d.split("--")[0] for d in removed) == ["b0", "b1", "b2"]
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2]


def test_concurrent_writers_both_commit(spark, tmp_path):
    """Optimistic concurrency: racing writers serialize — both batches
    end up live, versions advance one at a time, no lost update."""
    from concurrent.futures import ThreadPoolExecutor

    t = ManifestedTable(str(tmp_path), "proj", "events")

    def write_one(i):
        ManifestedTable(str(tmp_path), "proj", "events").write(
            _df(spark, [i]), batch_id=f"w{i}")

    with ThreadPoolExecutor(8) as ex:
        list(ex.map(write_one, range(8)))
    assert t.current_version() == 8
    assert sorted(m["batch"] for m in t.committed()) == [
        f"w{i}" for i in range(8)]
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(8))


def test_streaming_with_manifested_sink(spark, tmp_path):
    """End-to-end: the realtime stream commits micro-batches through the
    version-file protocol — tables come back via ManifestedTable.read,
    one version per epoch per collection, epoch-keyed batch ids."""
    from rakam_api_collector_spark.ingest.catalog import Catalog
    from rakam_api_collector_spark.manifest import ManifestedTable
    from rakam_api_collector_spark.streaming import start_ingest_stream
    from tests.test_ingest import fabric
    from tests.test_streaming import NOW, SHARD_T, _write_lines

    lines = [fabric("t", {"_time": "2020-06-01T10:00:00",
                          "_user": "u1", "v": 1}),
             fabric("t", {"_time": "2020-06-01T10:00:01",
                          "_user": "u2", "v": 2})]
    src = tmp_path / "src"
    _write_lines(src, lines)
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(),
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False, manifested=True)
    q.awaitTermination(120)

    t = ManifestedTable(str(tmp_path / "tables"), "testproject", "t")
    rows = t.read(spark).collect()
    assert sorted(r["v"] for r in rows) == [1.0, 2.0]
    # batch id = checkpoint-namespaced epoch: a fresh checkpoint is a
    # new incarnation that appends instead of clobbering history
    batches = [m["batch"] for m in t.committed()]
    assert len(batches) == 1 and batches[0].endswith("-epoch-0")
    assert len(batches[0].split("-epoch-")[0]) == 8
    # streaming epochs ride the same write path, so their manifest
    # entries carry the schema and zone-map metadata too
    m = t.committed()[0]
    assert {f["name"] for f in m["schema"]["fields"]} >= {"v", "_time"}
    assert m["rows"] == 2 and t.rows() == 2
    assert "v" in (m.get("stats") or {})


def test_retry_does_not_disturb_pinned_reader(spark, tmp_path):
    """The fix for in-place overwrite: a replayed batch id lands in a
    FRESH physical dir and swaps at commit, so a reader whose plan was
    built against the previous version still scans intact files."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="e0")
    pinned = t.read(spark)                   # plan bound to v1's dir
    t.write(_df(spark, [7, 8, 9]), batch_id="e0")   # replayed epoch
    # pinned reader still sees version-1 data, files untouched
    assert sorted(r.id for r in pinned.collect()) == [1, 2]
    # a fresh reader sees the replacement
    assert sorted(r.id for r in t.read(spark).collect()) == [7, 8, 9]


def test_avro_streaming_with_manifested_sink(spark, tmp_path):
    """The Avro realtime twin commits through the same shared
    _commit_tables path: version-file tables, namespaced epoch ids."""
    from rakam_api_collector_spark.manifest import ManifestedTable
    from rakam_api_collector_spark.streaming import (
        start_avro_ingest_stream)
    from tests.test_avro_streaming import (
        NOW, SHARD_T, _frame, _mk_catalog, _write_frames)

    cat, fields = _mk_catalog(tmp_path / "cat")
    frames = [_frame(fields, f"u{i}", "2020-06-01T10:00:00", float(i))
              for i in range(2)]
    src = tmp_path / "src"
    _write_frames(src, frames)
    q = start_avro_ingest_stream(
        spark, str(src), cat, table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"), project="p1",
        now=NOW, shard_time=SHARD_T, dedup=False, manifested=True)
    q.awaitTermination(120)

    t = ManifestedTable(str(tmp_path / "tables"), "p1", "t")
    rows = t.read(spark).collect()
    assert sorted(r["v"] for r in rows) == [0.0, 1.0]
    assert t.committed()[0]["batch"].endswith("-epoch-0")


def test_manifest_orc_format(spark, tmp_path):
    """fmt is carried per batch in the manifest, so a table can mix
    parquet and ORC batches and read() resolves each correctly."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="p1", fmt="parquet")
    t.write(_df(spark, [2]), batch_id="o1", fmt="orc")
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    fmts = {m["batch"]: m["format"] for m in t.committed()}
    assert fmts == {"p1": "parquet", "o1": "orc"}


def test_time_travel_and_history(spark, tmp_path):
    """read(version=N) pins a historical snapshot (versionAsOf
    semantics): a pre-compaction version still reads its original
    batches while they remain in retention; history() is the audit log
    (version, parent, batch count, rows); pruned/unknown versions
    raise."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="b1")
    t.write(_df(spark, [2, 3]), batch_id="b2")
    # v1 = {b1}, v2 = {b1,b2}
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == [1]
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]
    cid = t.compact(spark)
    # v3 = {compact}; v2 still reads the ORIGINAL batches
    assert sorted(r.id for r in t.read(spark, version=2).collect()) == [1, 2, 3]
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert [h["parent"] for h in hist] == [0, 1, 2]
    assert [h["n_batches"] for h in hist] == [1, 2, 1]
    assert [h["rows"] for h in hist] == [1, 3, 3]
    with pytest.raises(FileNotFoundError, match="version 9"):
        t.read(spark, version=9)
    # gc to the current version only: v1/v2 prune, their dirs go, and a
    # time-travel read of a pruned version now fails fast
    t.gc(keep_versions=1, grace_seconds=0)
    assert [h["version"] for h in t.history()] == [3]
    with pytest.raises(FileNotFoundError, match="version 2"):
        t.read(spark, version=2)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]
    assert t.committed()[0]["batch"] == cid


def test_zone_map_pruning_skips_batch_dirs(spark, tmp_path):
    """write() records per-batch column min/max from parquet footers
    (the Raptor per-shard stats analog); read(prune=) drops whole batch
    directories whose zone map is disjoint from the interval — pinned
    by inputFiles(), so pruned batches' files are never even listed
    into the scan. ORC batches carry no stats and always survive."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 5]), batch_id="lo")
    t.write(_df(spark, [100, 140]), batch_id="hi")
    t.write(_df(spark, [1000]), batch_id="orc", fmt="orc")
    stats = {m["batch"]: m.get("stats") for m in t.committed()}
    assert stats["lo"]["id"] == [1, 5]
    assert stats["hi"]["id"] == [100, 140]
    assert stats["orc"] is None

    pruned = t.read(spark, prune={"id": (90, None)})
    assert sorted(r.id for r in pruned.collect()) == [100, 140, 1000]
    files = pruned.inputFiles()
    assert not any("/lo--" in f for f in files)   # zone-disjoint: skipped
    assert any("/hi--" in f for f in files)
    assert any("/orc--" in f for f in files)      # no stats: never pruned

    # pruning is metadata-only, NOT a row filter: the stats-less ORC
    # batch survives any interval, so its rows still come back
    leftover = t.read(spark, prune={"id": (5000, 9000)})
    assert sorted(r.id for r in leftover.collect()) == [1000]

    # all-parquet table, every batch disjoint → empty result with the
    # schema preserved and nothing scanned
    t2 = ManifestedTable(str(tmp_path), "proj", "pq_only")
    t2.write(_df(spark, [1]), batch_id="a")
    t2.write(_df(spark, [2]), batch_id="b")
    none = t2.read(spark, prune={"id": (5000, 9000)})
    assert none.columns == ["id", "_time", "_day"]
    assert none.count() == 0

    # compaction folds the union back into one batch whose stats span it
    t.compact(spark)
    merged = t.committed()
    assert len(merged) == 1
    assert merged[0]["stats"]["id"] == [1, 1000]


def test_zone_map_rich_types_and_partial_stats(spark, tmp_path):
    """Review-hardening pins over Spark-written files: (1) a column
    with ANY stats-less chunk (the all-null 'maybe' file, pyarrow's
    unextractable decimal stats, INT96 timestamps) is dropped from the
    zone map entirely — partial coverage must never prune; (2) pruning
    with Decimal/datetime bounds on stats-less columns is a safe no-op
    (no TypeError, batches kept)."""
    from datetime import datetime
    from decimal import Decimal

    t = ManifestedTable(str(tmp_path), "proj", "events")
    df = spark.createDataFrame(
        [(1, Decimal("9.00"), datetime(2024, 3, 1, 10), 5.0),
         (2, Decimal("10.00"), datetime(2024, 3, 2, 10), None)],
        "id long, amt decimal(10,2), _time timestamp, maybe double")
    t.write(df, batch_id="b1")
    stats = t.committed()[0]["stats"]
    assert stats["id"] == [1, 2]
    # 'maybe' is null in the 2024-03-02 day-partition file → one chunk
    # without min/max → the column must not appear at all; decimals
    # (pyarrow can't extract) and INT96 timestamps (no stats) likewise
    assert "maybe" not in stats
    assert "amt" not in stats
    # timestamps write as TIMESTAMP_MICROS (not stats-less INT96), so
    # _time DOES carry a zone map — canonicalized to naive-UTC ISO
    assert stats["_time"] == ["2024-03-01 10:00:00",
                              "2024-03-02 10:00:00"]

    # rich-typed bounds on stats-less columns: no crash, nothing pruned
    got = t.read(spark, prune={"amt": (Decimal("99.0"), None)})
    assert sorted(r.id for r in got.collect()) == [1, 2]
    # ... while a disjoint bound on the stats-carrying timestamp prunes
    assert t.read(spark,
                  prune={"_time": (datetime(2030, 1, 1), None)}).count() == 0


def test_zone_map_canonicalization_orders():
    """The pure comparator layer: Decimal bounds canonicalize to
    NUMERIC floats (lexical str order would invert 9.00 > 10.00 and
    mis-prune), datetimes to ISO strings whose lexical order is
    chronological, float widening only ever grows the interval, and a
    bound/stat type mismatch keeps the batch."""
    from datetime import datetime
    from decimal import Decimal

    from rakam_api_collector_spark.manifest import (_batch_overlaps,
                                                    _canon_stat, _widen)

    assert _canon_stat(Decimal("9.00")) == 9.0
    assert _canon_stat(Decimal("10.00")) == 10.0   # numeric, not '10'<'9'
    a = _canon_stat(datetime(2024, 3, 1, 10, 0, 0))
    b = _canon_stat(datetime(2024, 3, 1, 10, 0, 0, 500))
    c = _canon_stat(datetime(2024, 3, 2))
    assert a < b < c                                # lexical == chrono
    assert _widen(9.0, True) < 9.0 < _widen(9.0, False)
    assert _widen(7, True) == 7                     # ints untouched

    m = {"stats": {"x": [10.0, 20.0], "s": ["b", "d"]}}
    assert not _batch_overlaps(m, {"x": (Decimal("25"), None)})
    assert _batch_overlaps(m, {"x": (Decimal("15"), None)})
    assert not _batch_overlaps(m, {"s": (None, "a")})
    assert _batch_overlaps(m, {"s": ("c", None)})
    # type-mismatched bound (datetime vs numeric stat): keep the batch
    assert _batch_overlaps(m, {"x": (datetime(2030, 1, 1), None)})
    # unknown column: keep
    assert _batch_overlaps(m, {"zzz": (0, 1)})


def test_clustered_write_and_compact_disjoint_file_ranges(spark, tmp_path):
    """cluster_by range-partitions + sorts so the written files carry
    DISJOINT key ranges (pinned from the parquet footers) — the layout
    that makes row-group pruning and the batch zone map maximally
    selective; compact(cluster_by=) is the OPTIMIZE form over a messy
    multi-batch table."""
    import os

    import pyarrow.parquet as pq

    def file_ranges(bdir, col="id"):
        out = []
        for root, _, fns in os.walk(bdir):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, fn)).metadata
                los, his = [], []
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        if c.path_in_schema == col and c.statistics:
                            los.append(c.statistics.min)
                            his.append(c.statistics.max)
                if los:
                    out.append((min(los), max(his)))
        return sorted(out)

    t = ManifestedTable(str(tmp_path), "proj", "events")
    # interleaved ids across two messy batches
    t.write(_df(spark, list(range(0, 100, 2))), batch_id="even")
    t.write(_df(spark, list(range(1, 100, 2))), batch_id="odd")
    cid = t.compact(spark, cluster_by=["id"], n_files=4)
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(100))
    cdir = next(m["dir"] for m in t.committed() if m["batch"] == cid)
    ranges = file_ranges(f"{t.batches_dir}/{cdir}")
    assert len(ranges) >= 3                      # actually split
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2                         # disjoint, ordered
    # clustered direct write: same property without a compaction
    t2 = ManifestedTable(str(tmp_path), "proj", "direct")
    bid = t2.write(_df(spark, list(range(50))[::-1]), batch_id="c1",
                   cluster_by=["id"], n_files=3)
    d = next(m["dir"] for m in t2.committed() if m["batch"] == bid)
    r2 = file_ranges(f"{t2.batches_dir}/{d}")
    assert len(r2) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(r2, r2[1:]):
        assert hi1 < lo2
    assert t2.committed()[0]["stats"]["id"] == [0, 49]


def test_zorder_clustering_prunes_on_every_key(spark, tmp_path):
    """cluster_mode="zorder": files cover small (x, y) hyper-
    rectangles, so a narrow predicate on EITHER key overlaps only a
    minority of per-file zone maps — whereas range clustering on
    (x, y) gives the ~1-file guarantee on x but spreads any y-range
    across every file. Quantitative pin on the manifest's own file
    stats (16 files, independent uniform keys, quarter-width probes)."""
    import itertools

    grid = [(x, y) for x, y in itertools.product(range(32), range(32))]
    df = spark.createDataFrame(
        [(x, y, datetime(2024, 3, 1, 10)) for x, y in grid],
        "x long, y long, _time timestamp")

    def overlapping(table, col, lo, hi):
        files = table.committed()[0]["files"]
        assert len(files) >= 12
        n = 0
        for f in files:
            fmin, fmax = f["stats"][col]
            if not (fmax < lo or fmin > hi):
                n += 1
        return n, len(files)

    tz = ManifestedTable(str(tmp_path), "proj", "zorder")
    tz.write(df, batch_id="b", cluster_by=["x", "y"], n_files=16,
             cluster_mode="zorder", partition_by_day=False)
    # sampled z-range boundaries straddle curve cells, so files are
    # not perfectly grid-aligned — pin "a minority-to-moderate share
    # overlaps on BOTH keys", and the real teeth are the contrast
    # with range mode below (second key: 100% useless)
    for col in ("x", "y"):
        hit, total = overlapping(tz, col, 0, 7)      # quarter width
        assert hit <= int(total * 0.7), (col, hit, total)

    tr = ManifestedTable(str(tmp_path), "proj", "ranged")
    tr.write(df, batch_id="b", cluster_by=["x", "y"], n_files=16,
             cluster_mode="range", partition_by_day=False)
    x_hit, total = overlapping(tr, "x", 0, 7)
    y_hit, _ = overlapping(tr, "y", 0, 7)
    assert x_hit <= total // 2                       # primary key: tight
    assert y_hit == total                            # second key: useless

    # correctness unchanged: same rows, zone-map pruned read exact
    got = tz.read(spark, prune={"y": (0, 7)}) \
        .filter(F.col("y") <= 7).count()
    assert got == 32 * 8

    # guard rails
    with pytest.raises(ValueError, match="zorder needs"):
        tz.write(df, cluster_by=["x"], cluster_mode="zorder")
    bad = df.withColumn("s", F.lit("a"))
    with pytest.raises(ValueError, match="order-preserving"):
        tz.write(bad, cluster_by=["x", "s"], cluster_mode="zorder")


def test_writer_maintenance_and_cdc_consumer_together(spark, tmp_path):
    """The round's pieces under concurrent load: a writer commits 20
    batches while the bin-packing sweep compacts sub-threshold ones
    and a CDC consumer tails changes_since — the consumer reconstructs
    EXACTLY the written rows (compaction folds are movement, appends
    are delivered once), and the live batch count stays bounded by the
    sweep instead of growing one-per-commit."""
    import threading

    from rakam_api_collector_spark.manifest import run_maintenance

    t = ManifestedTable(str(tmp_path), "proj", "events")
    N, SIZE = 20, 50
    seen: set[int] = set()
    stop = threading.Event()
    errors: list[str] = []

    def consume():
        cur = 0
        try:
            while True:
                df, cur = t.changes_since(spark, cur)
                if df is not None:
                    seen.update(r.id for r in df.collect())
                if stop.is_set():
                    df, cur = t.changes_since(spark, cur)
                    if df is not None:
                        seen.update(r.id for r in df.collect())
                    return
        except Exception as e:  # noqa: BLE001 — surfaced to the assert
            errors.append(f"{type(e).__name__}: {e}")

    c = threading.Thread(target=consume, daemon=True)
    c.start()
    for b in range(N):
        t.write(_df(spark, range(b * SIZE, (b + 1) * SIZE)),
                batch_id=f"b{b:03d}")
        if b % 5 == 4:
            run_maintenance(spark, str(tmp_path), min_batches=3,
                            target_rows=SIZE * 4, keep_versions=50,
                            grace_seconds=3600)
    stop.set()
    c.join(120)
    assert not errors, errors
    assert seen == set(range(N * SIZE))          # nothing lost, ever
    # the sweep kept the table from accreting one batch per commit
    assert len(t.committed()) < N
    assert t.rows() == N * SIZE


def test_fresh_cursor_survives_gc_and_compaction(spark, tmp_path):
    """A brand-new consumer (cursor 0) needs only the CURRENT version:
    after gc pruned the early history and compaction folded the
    original batches, changes_since(0) still delivers every live row
    (the chain walk is for advanced cursors; demanding v1..N retained
    would permanently strand fresh subscribers of any maintained
    table)."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="b1")
    t.write(_df(spark, [2]), batch_id="b2")
    t.compact(spark)
    t.write(_df(spark, [3]), batch_id="b3")
    t.gc(keep_versions=1, grace_seconds=0)       # only head retained

    df, cur = t.changes_since(spark, 0)
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
    assert cur == t.current_version()
    # an ADVANCED cursor across the pruned gap still fails fast
    with pytest.raises(FileNotFoundError, match="gc-pruned"):
        t.changes_since(spark, 1)


def test_zero_row_commits_read_and_compact(spark, tmp_path):
    """A batch with an empty authoritative file list (a zero-row
    DataSource-writer commit) reads as the schema-stable empty frame,
    folds through compaction, and is a no-op for DML — never a None
    or a crash."""
    from rakam_api_collector_spark.datasource import ManifestDataSource

    spark.dataSource.register(ManifestDataSource)
    t = ManifestedTable(str(tmp_path), "proj", "events")
    (_df(spark, []).write.format("manifest")
     .option("path", t.table_dir).option("batchId", "empty1")
     .mode("append").save())
    got = t.read(spark)
    assert got.count() == 0 and "id" in got.columns

    (_df(spark, []).write.format("manifest")
     .option("path", t.table_dir).option("batchId", "empty2")
     .mode("append").save())
    assert t.compact(spark) is not None          # folds the empties
    assert t.read(spark).count() == 0
    rep = t.delete_where(spark, F.col("id") == 1)
    assert rep["rows_deleted"] == 0

    t.write(_df(spark, [7]), batch_id="real")
    assert [r.id for r in t.read(spark).collect()] == [7]


def test_bloom_survives_special_characters_in_path(spark, tmp_path):
    """The bloom build maps executor file URIs back to manifest
    relpaths through URI decoding — a space in the table path must not
    produce all-zero filters (which would skip every file)."""
    base = tmp_path / "my tables"
    base.mkdir()
    t = ManifestedTable(str(base), "proj", "events")
    t.write(spark.createDataFrame(
        [(f"u{i}", datetime(2024, 3, 1, 10)) for i in range(40)],
        "user string, _time timestamp"),
        batch_id="b", bloom_for=["user"], partition_by_day=False)
    # a present key is found; an absent key prunes everything
    hit = t.read(spark, prune={"user": ("u7", "u7")}) \
        .filter(F.col("user") == "u7").count()
    assert hit == 1
    assert t.read(spark, prune={"user": ("zz", "zz")}).count() == 0


def test_restore_rolls_back_as_a_new_commit(spark, tmp_path):
    """restore(v) republishes an old snapshot as the writable head:
    the bad data disappears from head reads, history keeps every
    intermediate version (the rollback is itself audited), time travel
    still sees the rolled-back state, appends land on top of the
    restored set, and the incremental feed treats re-published batches
    it already delivered as seen."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="good")        # v1
    t.write(_df(spark, [666]), batch_id="bad")          # v2
    _, cur = t.changes_since(spark, 0)                  # cursor at v2

    v = t.restore(1)                                    # v3 = v1's set
    assert v == 3 and t.current_version() == 3
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    assert sorted(r.id for r in t.read(spark, version=2).collect()) \
        == [1, 2, 666]                                  # audit intact
    assert [h["n_batches"] for h in t.history()] == [1, 2, 1]

    t.write(_df(spark, [3]), batch_id="after")          # on top
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]

    # the append feed: 'good' was delivered at v1 and is not fresh at
    # the restore; only the new append surfaces
    df, cur = t.changes_since(spark, cur)
    assert sorted(r.id for r in df.collect()) == [3]

    with pytest.raises(FileNotFoundError, match="restore"):
        t.restore(99)


def test_binpacking_compaction_bounds_write_amplification(spark, tmp_path):
    """compact(max_rows=) is the form that survives a stream that
    never stops: only sub-threshold batches rewrite, a batch that
    crossed the threshold is never touched again (pinned by file
    mtimes), and a second round of small appends merges WITHOUT
    rewriting the previous round's output once it outgrew the
    threshold. One qualifying batch → None (no one-batch rewrites)."""
    import os

    def mtimes(table, bid):
        d = next(m["dir"] for m in table.committed()
                 if m["batch"] == bid)
        out = {}
        for root, _, fns in os.walk(f"{table.batches_dir}/{d}"):
            for fn in fns:
                p = os.path.join(root, fn)
                out[p] = os.stat(p).st_mtime_ns
        return out

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, range(100)), batch_id="big")
    for i in range(3):
        t.write(_df(spark, [1000 + i]), batch_id=f"s{i}")
    before = mtimes(t, "big")

    out = t.compact(spark, max_rows=50)
    assert out is not None
    names = {m["batch"] for m in t.committed()}
    assert "big" in names and out in names and len(names) == 2
    assert mtimes(t, "big") == before            # untouched, byte-for-byte
    assert sorted(r.id for r in t.read(spark).collect()) \
        == sorted(list(range(100)) + [1000, 1001, 1002])

    # second round: the merged output (3 rows < 50) still qualifies
    # and re-merges with the new smalls — hierarchical, O(log) rewrites
    for i in range(3, 5):
        t.write(_df(spark, [1000 + i]), batch_id=f"s{i}")
    out2 = t.compact(spark, max_rows=50)
    assert out2 is not None and mtimes(t, "big") == before
    assert t.rows() == 105

    # a single qualifying batch is pure write amplification: no-op
    assert t.compact(spark, max_rows=50) is None
    with pytest.raises(ValueError, match="not live"):
        t.compact(spark, only=["nope"])


def test_maintenance_target_rows_binpacking(spark, tmp_path):
    """run_maintenance(target_rows=): the sweep counts and compacts
    only sub-threshold batches, so the big batch survives sweeps
    untouched while epoch-accreted smalls stay bounded."""
    from rakam_api_collector_spark.manifest import run_maintenance

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, range(200)), batch_id="big")
    for i in range(4):
        t.write(_df(spark, [i]), batch_id=f"e{i}")
    big_dir = next(m["dir"] for m in t.committed()
                   if m["batch"] == "big")

    reps = run_maintenance(spark, str(tmp_path), min_batches=3,
                           target_rows=100, grace_seconds=0,
                           keep_versions=1)
    assert reps[0].get("compacted")
    live = {m["batch"]: m for m in t.committed()}
    assert "big" in live and live["big"]["dir"] == big_dir
    assert len(live) == 2 and t.rows() == 204

    # below min_batches of smalls → sweep leaves the table alone
    t.write(_df(spark, [99]), batch_id="e99")
    v = t.current_version()
    reps = run_maintenance(spark, str(tmp_path), min_batches=3,
                           target_rows=100, grace_seconds=0)
    assert "compacted" not in reps[0]
    assert t.current_version() == v


def test_bloom_point_lookup_skips_files(spark, tmp_path):
    """Per-file Bloom sidecars prune the shape zone maps cannot: a
    scattered STRING key overlaps every [min, max] but lives in one
    batch. Physical pin: the other batch's dir is deleted from disk —
    the bloom-pruned point read still succeeds, the full scan fails.
    delete_where with a point prune leaves bloom-negative batches
    byte-identical."""
    import os

    def udf_(spark, lo, n, step):
        return spark.createDataFrame(
            [(f"u{i:04d}", i, datetime(2024, 3, 1, 10))
             for i in range(lo, n, step)],
            "user string, v long, _time timestamp")

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(udf_(spark, 0, 400, 2), batch_id="even",
            bloom_for=["user"], partition_by_day=False)
    t.write(udf_(spark, 1, 400, 2), batch_id="odd",
            bloom_for=["user"], partition_by_day=False)
    ent = {m["batch"]: m for m in t.committed()}
    # zone maps alone CANNOT separate the batches (ranges interleave)
    assert ent["even"]["stats"]["user"][0] < ent["odd"]["stats"]["user"][1]
    assert all("user" in f["bloom"] for f in ent["even"]["files"])

    # membership: every key still found through the bloomed read path
    got = t.read(spark, prune={"user": ("u0101", "u0101")}) \
        .filter(F.col("user") == "u0101").collect()
    assert [(r.user, r.v) for r in got] == [("u0101", 101)]

    # point delete of an even key: odd batch must stay byte-identical
    def mtimes(bid):
        d = ent[bid]["dir"]
        return {p: os.stat(os.path.join(r, p)).st_mtime_ns
                for r, _, fs in os.walk(f"{t.batches_dir}/{d}")
                for p in fs}

    odd_before = mtimes("odd")
    rep = t.delete_where(spark, F.col("user") == "u0100",
                         prune={"user": ("u0100", "u0100")})
    assert rep["rows_deleted"] == 1 and mtimes("odd") == odd_before
    assert rep["kept"] >= 1

    # hard physical pin: delete the odd batch's DATA files (keeping
    # the _bloom sidecars — an unreadable sidecar conservatively keeps
    # the file); a bloom-guided point read of an even key never opens
    # them
    odd_dir = f"{t.batches_dir}/{ent['odd']['dir']}"
    for r, _, fs in os.walk(odd_dir):
        for fn in fs:
            if fn.endswith(".parquet"):
                os.remove(os.path.join(r, fn))
    ok = t.read(spark, prune={"user": ("u0202", "u0202")}) \
        .filter(F.col("user") == "u0202").collect()
    assert [r.v for r in ok] == [202]
    with pytest.raises(Exception):
        t.read(spark).count()

    # a key that exists nowhere prunes everything (schema-stable empty)
    none = t.read(spark, prune={"user": ("zzzz", "zzzz")})
    assert none.count() == 0 and "user" in none.columns


def test_file_level_zone_map_pruning(spark, tmp_path):
    """Per-file zone maps: a clustered batch's key-range read lists
    ONLY the overlapping file(s) into the scan (pinned by
    inputFiles()), day-partition columns survive the explicit file
    list via basePath, and results stay exact."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    bid = t.write(_df(spark, list(range(100))), batch_id="c1",
                  cluster_by=["id"], n_files=4)
    m = t.committed()[0]
    assert len(m["files"]) == 4
    assert all(f["stats"]["id"] for f in m["files"])

    narrow = t.read(spark, prune={"id": (10, 12)})
    assert sorted(r.id for r in narrow.collect()
                  if 10 <= r.id <= 12) == [10, 11, 12]
    assert len(narrow.inputFiles()) == 1          # 3 of 4 files skipped
    assert "_day" in narrow.columns               # basePath keeps it
    assert narrow.select("_day").distinct().count() == 1

    # unbounded side + full span: all files read, nothing lost
    full = t.read(spark, prune={"id": (None, None)})
    assert full.count() == 100

    # a second unclustered batch joins the scan untouched (its files
    # all overlap), batch-level pruning still applies to disjoint ones
    t.write(_df(spark, [500]), batch_id="far")
    got = t.read(spark, prune={"id": (480, None)})
    assert sorted(r.id for r in got.collect()) == [500]
    assert len(got.inputFiles()) >= 1
    assert not any(f"/{m['dir']}/" in f for f in got.inputFiles())


def test_prune_schema_stable_and_boundary_bounds(spark, tmp_path):
    """Review-hardening pins: (1) read(prune=) returns the SAME union
    schema for every prune interval — evolved columns survive even
    when their batch is pruned (schemas ride the manifest, no file
    access); (2) a bound exactly equal to a stat boundary keeps the
    batch, including a Decimal bound above 2^53 whose float conversion
    rounds past the int stat (bounds widen outward)."""
    from decimal import Decimal

    from rakam_api_collector_spark.manifest import _stats_overlap

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 5]), batch_id="lo")
    t.write(_df(spark, [100]).withColumn("extra", F.lit("x")),
            batch_id="hi")
    # prune away the batch that carries 'extra' — column must survive
    got = t.read(spark, prune={"id": (None, 50)})
    assert "extra" in got.columns
    assert sorted(r.id for r in got.collect()) == [1, 5]
    assert all(r.extra is None for r in got.collect())
    # all pruned: same schema again
    none = t.read(spark, prune={"id": (5000, None)})
    assert "extra" in none.columns and none.count() == 0

    # boundary equality: inclusive on both sides
    assert _stats_overlap({"id": [1, 5]}, {"id": (5, None)})
    assert _stats_overlap({"id": [1, 5]}, {"id": (None, 1)})
    # giant int stat vs Decimal bound at the same value: float
    # rounding must not prune the batch that holds the exact match
    big = 99999999999999999
    assert _stats_overlap({"id": [1, big]}, {"id": (Decimal(big), None)})


def test_canon_stat_timezone_normalization():
    """tz-aware datetimes canonicalize to UTC-naive strings so aware
    stats and naive-or-offset bounds compare on one clock."""
    from datetime import datetime, timedelta, timezone

    from rakam_api_collector_spark.manifest import _canon_stat

    utc = _canon_stat(datetime(2024, 3, 1, 10, tzinfo=timezone.utc))
    plus5 = _canon_stat(datetime(2024, 3, 1, 15,
                                 tzinfo=timezone(timedelta(hours=5))))
    naive = _canon_stat(datetime(2024, 3, 1, 10))
    assert utc == plus5 == naive == "2024-03-01 10:00:00"


def test_metadata_row_count_and_add_only_evolution(spark, tmp_path):
    """rows() answers from manifest metadata with no file access;
    a type-flipping batch is rejected at WRITE time (add-only
    evolution, the metastore rule) while an idempotent replay of the
    same batch id may carry a corrected type."""
    import shutil

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="b1")
    t.write(_df(spark, [3]), batch_id="b2")
    assert t.rows() == 3
    assert t.rows(version=1) == 2
    # metadata-only: counting works even with the data dirs gone
    shutil.rmtree(t.batches_dir)
    assert t.rows() == 3

    t2 = ManifestedTable(str(tmp_path), "proj", "typed")
    t2.write(_df(spark, [1]).withColumn("v", F.lit(1).cast("long")),
             batch_id="b1")
    with pytest.raises(ValueError, match="add-only"):
        t2.write(_df(spark, [2]).withColumn("v", F.lit("s")),
                 batch_id="b2")
    # adding a NEW column stays legal
    t2.write(_df(spark, [2]).withColumn("w", F.lit("s")), batch_id="b3")
    # same-batch-id replay may correct its own type
    t2.write(_df(spark, [9]).withColumn("w", F.lit(2).cast("int")),
             batch_id="b3")
    assert sorted(r.id for r in t2.read(spark).collect()) == [1, 9]


def test_delete_where_copy_on_write(spark, tmp_path):
    """Takedown semantics: zone-map-disjoint batches stay byte-
    untouched, matching batches rewrite without the rows in ONE
    version commit, a fully-matched batch drops, a no-match rewrite is
    discarded, NULL-evaluating conditions KEEP rows, and the previous
    version still time-travels to the pre-delete data until gc."""
    import os

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, list(range(10))), batch_id="lo")
    t.write(_df(spark, list(range(100, 110))), batch_id="hi")
    t.write(_df(spark, [55]), batch_id="solo")

    def mtimes(d):
        out = {}
        for root, _, fns in os.walk(f"{t.batches_dir}/{d}"):
            for fn in fns:
                p = os.path.join(root, fn)
                out[p] = os.path.getmtime(p)
        return out

    hi_dir = next(m["dir"] for m in t.committed() if m["batch"] == "hi")
    before = mtimes(hi_dir)
    res = t.delete_where(spark, (F.col("id") >= 5) & (F.col("id") <= 7),
                         prune={"id": (5, 7)})
    assert res == {"rewritten": 1, "kept": 2, "dropped": 0,
                   "rows_deleted": 3}       # hi and solo both pruned
    assert mtimes(hi_dir) == before          # zone-disjoint: untouched
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 8, 9, 55] + list(range(100, 110))
    # pre-delete snapshot still reads the original rows
    pre = sorted(r.id for r in t.read(spark, version=3).collect())
    assert 5 in pre and len(pre) == 21

    # full-batch match drops the batch; stats on the rewritten batch
    # reflect the post-delete range
    res2 = t.delete_where(spark, F.col("id") == 55, prune={"id": (55, 55)})
    assert res2["dropped"] == 1 and res2["rows_deleted"] == 1
    lo_entry = next(m for m in t.committed() if m["batch"] == "lo")
    assert lo_entry["stats"]["id"] == [0, 9]
    assert {m["batch"] for m in t.committed()} == {"lo", "hi"}

    # NULL-evaluating condition keeps rows; missing column keeps batch
    t.write(_df(spark, [200]).withColumn("tag", F.lit("x")),
            batch_id="tagged")
    res3 = t.delete_where(spark, F.col("tag") == "zzz")
    assert res3["rows_deleted"] == 0
    assert t.rows() == 7 + 10 + 1
    # no-match rewrites were discarded, not swapped in
    assert {m["batch"] for m in t.committed()} == {"lo", "hi", "tagged"}


def test_upsert_merge_on_key(spark, tmp_path):
    """MERGE semantics in one version commit: matched keys replace,
    new keys insert, key-range-disjoint batches stay byte-untouched,
    the pre-upsert snapshot time-travels, and a same-batch-id retry is
    idempotent (no duplicate keys ever)."""
    import os

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, list(range(10))), batch_id="lo")
    t.write(_df(spark, list(range(100, 105))), batch_id="hi")
    hi_dir = next(m["dir"] for m in t.committed() if m["batch"] == "hi")

    def mtimes(d):
        out = {}
        for root, _, fns in os.walk(f"{t.batches_dir}/{d}"):
            for fn in fns:
                p = os.path.join(root, fn)
                out[p] = os.path.getmtime(p)
        return out

    before = mtimes(hi_dir)
    updates = _df(spark, [3, 7, 42], day="2024-05-05T00:00:00")
    res = t.upsert(spark, updates, "id", batch_id="u1")
    assert res["rewritten"] == 1 and res["kept"] == 1
    assert res["rows_replaced"] == 2 and res["batch"] == "u1"
    assert mtimes(hi_dir) == before

    got = {r.id: str(r._day) for r in t.read(spark).collect()}
    assert sorted(got) == list(range(10)) + [42] + list(range(100, 105))
    assert len(got) == 16                      # no duplicate keys
    assert got[3] == "2024-05-05" and got[7] == "2024-05-05"
    assert got[42] == "2024-05-05" and got[0] == "2024-03-01"
    # pre-upsert snapshot
    pre = {r.id: str(r._day) for r in
           t.read(spark, version=2).collect()}
    assert pre[3] == "2024-03-01" and 42 not in pre

    # retry with the same batch id: state unchanged, still 16 keys
    t.upsert(spark, updates, "id", batch_id="u1")
    again = {r.id for r in t.read(spark).collect()}
    assert len(again) == 16

    # null keys rejected; empty updates are a no-op
    with pytest.raises(ValueError, match="non-null"):
        t.upsert(spark, _df(spark, [1]).withColumn(
            "id", F.lit(None).cast("long")), "id")
    res0 = t.upsert(spark, _df(spark, []), "id")
    assert res0["batch"] is None and res0["rows_replaced"] == 0


def test_cow_swap_detects_concurrent_replacement(spark, tmp_path):
    """The rewrite commit swaps by IDENTITY: a touched batch whose
    directory changed since the snapshot (concurrent compact/retry),
    or that left the live set entirely, raises CommitConflict instead
    of silently losing a takedown or resurrecting pre-delete data."""
    from rakam_api_collector_spark.manifest import CommitConflict

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="b1")
    m = t.committed()[0]
    mut = t._swap_mutate({"b1": None}, {"b1": m["dir"]})
    assert mut([dict(m)]) == []                     # clean swap drops it
    with pytest.raises(CommitConflict, match="replaced concurrently"):
        mut([{**m, "dir": "b1--deadbeef"}])
    with pytest.raises(CommitConflict, match="left the live set"):
        mut([])


def test_upsert_rejects_duplicate_source_keys_and_string_keys_work(
        spark, tmp_path):
    """Duplicate keys in the MERGE source are rejected up front (the
    Delta multiple-source-match rule); a STRING key disables the
    internal zone-map prune (correctness-bearing there) but the merge
    itself stays exact."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]).withColumn("k", F.lit("a")), batch_id="b1")
    dup = (_df(spark, [8, 9])
           .withColumn("k", F.lit("x")))            # both rows key 'x'
    with pytest.raises(ValueError, match="duplicate"):
        t.upsert(spark, dup, "k")
    upd = _df(spark, [7]).withColumn("k", F.lit("a"))
    res = t.upsert(spark, upd, "k", batch_id="u1")
    assert res["rows_replaced"] == 1 and res["dropped"] == 1
    rows = {r.k: r.id for r in t.read(spark).collect()}
    assert rows == {"a": 7}


def test_write_type_conflict_checked_inside_commit(spark, tmp_path):
    """The evolution check re-runs inside the OCC mutate against each
    attempt's live set, so a conflicting type cannot slip in between
    the pre-flight check and the version swap."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]).withColumn("v", F.lit(1).cast("long")),
            batch_id="b1")
    good = _df(spark, [2]).withColumn("v", F.lit("s"))
    # simulate the race: hand the mutate a live set that gained the
    # conflicting column after the pre-flight snapshot
    import json as _json
    fields = _json.loads(
        good.withColumn("_day", F.to_date("_time")).schema.json()
    )["fields"]
    with pytest.raises(ValueError, match="add-only"):
        t._check_evolution(t.committed(), fields, replacing="b2")


def test_run_maintenance_shard_organizer_sweep(spark, tmp_path):
    """The periodic sweep compacts only tables that accreted enough
    epoch batches, leaves small tables alone, clusters where told, and
    gc's the consumed inputs once outside the grace window — the
    reference's shard-organizer daemon as one idempotent function."""
    from rakam_api_collector_spark.manifest import run_maintenance

    big = ManifestedTable(str(tmp_path), "p1", "events")
    for i in range(4):
        big.write(_df(spark, [i]), batch_id=f"e{i}")
    small = ManifestedTable(str(tmp_path), "p1", "tiny")
    small.write(_df(spark, [99]), batch_id="only")

    reports = run_maintenance(spark, str(tmp_path), min_batches=3,
                              cluster_by={"events": ["id"]},
                              keep_versions=1, grace_seconds=0)
    by_coll = {r["collection"]: r for r in reports}
    assert by_coll["events"]["batches"] == 4
    assert by_coll["events"]["compacted"].startswith("compact-")
    assert by_coll["events"]["gc_removed"] == 4   # consumed inputs gone
    assert "compacted" not in by_coll["tiny"]
    assert sorted(r.id for r in big.read(spark).collect()) == [0, 1, 2, 3]
    assert sorted(r.id for r in small.read(spark).collect()) == [99]
    # idempotent: second sweep finds 1 batch each, nothing to do
    again = {r["collection"]: r for r in
             run_maintenance(spark, str(tmp_path), min_batches=3,
                             keep_versions=1, grace_seconds=0)}
    assert again["events"]["batches"] == 1
    assert "compacted" not in again["events"]
    # empty base: no-op
    assert run_maintenance(spark, str(tmp_path / "nope")) == []


def test_maintenance_reports_unreadable_table_as_error(spark, tmp_path):
    """A table whose manifest READ fails in the pre-scan must surface
    as that table's error report — not be silently treated as a
    healthy 0-batch table (never eligible, never deferred) with the
    failure swallowed when gc happens to succeed. Healthy siblings
    sweep normally in the same pass (r9 advice)."""
    import pathlib

    from rakam_api_collector_spark.manifest import run_maintenance

    good = ManifestedTable(str(tmp_path), "p1", "good")
    for i in range(3):
        good.write(_df(spark, [i]), batch_id=f"b{i}")
    bad = ManifestedTable(str(tmp_path), "p1", "bad")
    bad.write(_df(spark, [7]), batch_id="only")
    vdir = pathlib.Path(bad.versions_dir)
    for v in vdir.glob("v*.json"):
        v.write_text("{ not json")

    reps = {r["collection"]: r for r in run_maintenance(
        spark, str(tmp_path), min_batches=3,
        keep_versions=1, grace_seconds=0)}
    assert "error" in reps["bad"], reps["bad"]
    assert "gc_removed" not in reps["bad"]      # no gc on unreadable
    assert reps["good"]["compacted"].startswith("compact-")
    assert "error" not in reps["good"]


def test_maintenance_sweep_cap_throttles_compaction_wave(spark, tmp_path):
    """max_tables_per_sweep bounds a compaction wave: only the cap's
    worth of eligible tables compact (worst accretors first), the rest
    are reported ``deferred`` and lead the NEXT sweep — so a cold
    start where every collection is eligible at once cannot flood the
    executors, and every table still converges within a few sweeps."""
    from rakam_api_collector_spark.manifest import run_maintenance

    # three eligible tables with different accretion depths + one tiny
    for coll, n in (("aaa", 3), ("bbb", 5), ("ccc", 4)):
        t = ManifestedTable(str(tmp_path), "p1", coll)
        for i in range(n):
            t.write(_df(spark, [i]), batch_id=f"b{i}")
    ManifestedTable(str(tmp_path), "p1", "tiny").write(
        _df(spark, [99]), batch_id="only")

    reps = {r["collection"]: r for r in run_maintenance(
        spark, str(tmp_path), min_batches=3, max_tables_per_sweep=2,
        keep_versions=1, grace_seconds=0)}
    # the two DEEPEST tables compacted, the third deferred, tiny unmarked
    assert reps["bbb"]["compacted"].startswith("compact-")
    assert reps["ccc"]["compacted"].startswith("compact-")
    assert reps["aaa"].get("deferred") is True
    assert "compacted" not in reps["aaa"]
    assert "deferred" not in reps["tiny"]
    # next sweep picks up the deferred table; nothing else re-compacts
    again = {r["collection"]: r for r in run_maintenance(
        spark, str(tmp_path), min_batches=3, max_tables_per_sweep=2,
        keep_versions=1, grace_seconds=0)}
    assert again["aaa"]["compacted"].startswith("compact-")
    assert "compacted" not in again["bbb"]
    assert "deferred" not in again["bbb"]
    # no rows lost anywhere
    got = ManifestedTable(str(tmp_path), "p1", "aaa").read(spark)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2]


def test_maintenance_isolates_per_table_failures(spark, tmp_path):
    """A bad cluster key (or any per-table failure) is reported on that
    table and the sweep continues — one sick table must not starve the
    tables sorting after it. cluster_by accepts project-scoped keys."""
    from rakam_api_collector_spark.manifest import run_maintenance

    bad = ManifestedTable(str(tmp_path), "p1", "aaa")
    for i in range(3):
        bad.write(_df(spark, [i]), batch_id=f"b{i}")
    good = ManifestedTable(str(tmp_path), "p1", "zzz")
    for i in range(3):
        good.write(_df(spark, [i]), batch_id=f"b{i}")

    reports = run_maintenance(
        spark, str(tmp_path), min_batches=3,
        cluster_by={"aaa": ["no_such_column"], "p1/zzz": ["id"]},
        keep_versions=1, grace_seconds=0)
    by_coll = {r["collection"]: r for r in reports}
    assert "error" in by_coll["aaa"]          # reported, not fatal
    assert by_coll["zzz"]["compacted"].startswith("compact-")
    assert sorted(r.id for r in good.read(spark).collect()) == [0, 1, 2]
    # the failed table is untouched and still readable
    assert sorted(r.id for r in bad.read(spark).collect()) == [0, 1, 2]


def test_delete_where_missing_column_matches_null_semantics(spark, tmp_path):
    """A batch MISSING a condition column must be evaluated the way
    read() presents it — the column as NULL — so a NULL-matching
    takedown (isNull, NOT-IN shapes) erases those rows instead of
    silently skipping the batch (an incomplete right-to-erasure).
    Non-matching conditions still leave the batch byte-untouched."""
    import os

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2, 3]), batch_id="untagged")
    t.write(_df(spark, [10, 11]).withColumn("tag", F.lit("keep")),
            batch_id="tagged")
    # readers see untagged rows with tag IS NULL
    assert (t.read(spark).filter(F.col("tag").isNull()).count()) == 3

    # a non-NULL-matching predicate: untagged batch stays byte-identical
    udir = next(m["dir"] for m in t.committed()
                if m["batch"] == "untagged")
    full = f"{t.batches_dir}/{udir}"
    before = {os.path.join(r, fn): os.path.getmtime(os.path.join(r, fn))
              for r, _, fns in os.walk(full) for fn in fns}
    res0 = t.delete_where(spark, F.col("tag") == "zzz")
    assert res0["rows_deleted"] == 0
    after = {os.path.join(r, fn): os.path.getmtime(os.path.join(r, fn))
             for r, _, fns in os.walk(full) for fn in fns}
    assert after == before

    # the NULL-matching erasure: rows the reader sees as tag-NULL go
    res = t.delete_where(spark, F.col("tag").isNull())
    assert res["rows_deleted"] == 3 and res["dropped"] == 1
    got = t.read(spark)
    assert sorted(r.id for r in got.collect()) == [10, 11]
    assert got.filter(F.col("tag").isNull()).count() == 0
    # the rewritten/kept batch does NOT persist a materialized column
    # it never had — only 'tagged' remains and it owns tag physically
    assert {m["batch"] for m in t.committed()} == {"tagged"}

    # a column NO live batch carries is a caller error, not a no-op
    with pytest.raises(Exception):
        t.delete_where(spark, F.col("nope").isNull())


def test_prune_timestamp_bounds_use_session_timezone(spark, tmp_path):
    """read(prune=) on a non-UTC session: a caller passes the SAME
    naive datetimes they use in their row predicate (session-local
    instants). Interpreting them as UTC would prune the batch holding
    the matching rows — silent data loss; the bounds must convert
    session tz → UTC before meeting the stored (UTC) zone maps."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    # one instant: 2024-03-01 02:00 UTC == 2024-02-29 18:00 LA
    t.write(_df(spark, [7], day="2024-03-01T02:00:00"), batch_id="b")
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone",
                       "America/Los_Angeles")
        lo = datetime.fromisoformat("2024-02-29T17:00:00")
        hi = datetime.fromisoformat("2024-02-29T19:00:00")
        # row predicate as SQL literals — parsed in the SESSION zone,
        # the same instants the caller's naive prune bounds mean
        got = (t.read(spark, prune={"_time": (lo, hi)})
               .filter(F.expr("_time BETWEEN '2024-02-29 17:00:00' "
                              "AND '2024-02-29 19:00:00'")))
        assert [r.id for r in got.collect()] == [7]
        # disjoint local interval still prunes (no regression to
        # never-pruning): 10pm-11pm LA == 6-7am UTC next day
        lo2 = datetime.fromisoformat("2024-02-29T22:00:00")
        hi2 = datetime.fromisoformat("2024-02-29T23:00:00")
        pruned = t.read(spark, prune={"_time": (lo2, hi2)})
        assert pruned.count() == 0 and not pruned.inputFiles()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def test_maintenance_hook_bounds_live_batches_on_stream(spark, tmp_path):
    """The scheduled shard-organizer (verdict item: the reference runs
    compaction as a DAEMON, not a hand tool): a manifested stream with
    ``maintenance={...}`` sweeps every N epochs, so after K committed
    micro-batches each collection's live batch count stays bounded
    instead of accreting one batch per epoch — and every row survives
    the compact+gc cycles."""
    from rakam_api_collector_spark.ingest.catalog import Catalog
    from rakam_api_collector_spark.streaming import start_ingest_stream
    from tests.test_ingest import fabric
    from tests.test_streaming import NOW, SHARD_T, _write_lines

    src = tmp_path / "src"
    n_epochs = 6
    for i in range(n_epochs):
        _write_lines(src, [fabric("t", {"_time": "2020-06-01T10:00:00",
                                        "_user": f"u{i}", "v": i})],
                     name=f"b{i}.json")
    q = start_ingest_stream(
        spark, str(src), "fabric", Catalog(),
        table_base=str(tmp_path / "tables"),
        checkpoint=str(tmp_path / "ckpt"),
        now=NOW, shard_time=SHARD_T, dedup=False, manifested=True,
        max_files_per_trigger=1,
        maintenance={"every_epochs": 3, "min_batches": 2,
                     "inline": True, "grace_seconds": 0.0})
    q.awaitTermination(180)

    hook = q.maintenance
    assert hook is not None and len(hook.reports) == 2   # epochs 2, 5
    swept = [t for rep in hook.reports for t in rep["tables"]]
    assert any("compacted" in t for t in swept)
    t = ManifestedTable(str(tmp_path / "tables"), "testproject", "t")
    # bounded: without the sweep there would be 6 live batches; the
    # epoch-5 sweep leaves 1 compacted batch (+ none accreted after)
    assert len(t.committed()) <= 2
    assert sorted(r["v"] for r in t.read(spark).collect()) == \
        [float(i) for i in range(n_epochs)]
    # gc actually removed the aged-out inputs (grace 0 is safe inline:
    # the sweep runs inside foreachBatch, after the commit) — the first
    # epochs' dirs are gone; dirs referenced by the RETAINED versions
    # (keep_versions=2 reader grace) rightly survive
    import os as _os
    left = _os.listdir(t.batches_dir)
    assert not any(f"-epoch-{i}-" in d for d in left for i in range(3))


def test_maintenance_requires_manifested_sink(spark, tmp_path):
    from rakam_api_collector_spark.ingest.catalog import Catalog
    from rakam_api_collector_spark.streaming import start_ingest_stream

    with pytest.raises(ValueError, match="manifested"):
        start_ingest_stream(
            spark, str(tmp_path / "src"), "fabric", Catalog(),
            table_base=str(tmp_path / "tables"),
            checkpoint=str(tmp_path / "ckpt"),
            maintenance={"every_epochs": 4})


def test_upsert_conflicts_with_concurrent_overlapping_insert(
        spark, tmp_path):
    """Delta-style write-write conflict detection (the round-7
    documented caveat, closed): a writer that inserts an OVERLAPPING
    key between the merge's snapshot and its version swap raises
    CommitConflict — committing would leave two live rows for one key
    (a lost update). A key-DISJOINT concurrent write still commits."""
    from rakam_api_collector_spark.manifest import CommitConflict

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2, 3]), batch_id="base")

    def race_with(rows):
        """Patch the instance so the concurrent write lands after the
        merge's snapshot (taken before the rewrite) but before its
        commit — deterministically inside the merge's own file write."""
        orig = t._write_batch_files
        fired = {"done": False}

        def hooked(*a, **kw):
            if not fired["done"]:
                fired["done"] = True
                ManifestedTable(str(tmp_path), "proj", "events").write(
                    _df(spark, rows), batch_id=f"racer-{rows[0]}")
            return orig(*a, **kw)

        t._write_batch_files = hooked
        try:
            return t.upsert(spark, _df(spark, [2, 7]), "id",
                            batch_id="merge")
        finally:
            t._write_batch_files = orig

    # overlapping racer (key 7 collides with the merge's insert range)
    with pytest.raises(CommitConflict, match="overlaps"):
        race_with([7])
    # no partial state: the failed merge left nothing live
    assert {m["batch"] for m in t.committed()} == {"base", "racer-7"}
    # after the conflict the caller re-runs against the new state —
    # and the merge now sees the racer's row as a matched key
    res = t.upsert(spark, _df(spark, [2, 7]), "id", batch_id="merge")
    assert res["rows_replaced"] == 2
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3, 7]

    # key-disjoint racer: ids 100.. are outside (2, 7) — commits clean
    res2 = race_with([100])
    assert res2["batch"] == "merge"
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [1, 2, 3, 7, 100]


def test_upsert_extended_key_pruning_string_key(spark, tmp_path):
    """Opt-in string-key zone-map pruning for MERGE: with
    extended_key_pruning=True a key-disjoint batch stays byte-identical
    (mtime pin, as the numeric test does) while the merge stays exact;
    the default still rewrites conservatively."""
    import os

    t = ManifestedTable(str(tmp_path), "proj", "events")
    lo = _df(spark, [1, 2]).withColumn("k", F.concat(F.lit("a"),
                                                     F.col("id")))
    hi = _df(spark, [8, 9]).withColumn("k", F.concat(F.lit("z"),
                                                     F.col("id")))
    t.write(lo, batch_id="lo")
    t.write(hi, batch_id="hi")
    hi_dir = next(m["dir"] for m in t.committed() if m["batch"] == "hi")

    def mtimes(d):
        return {os.path.join(r, fn): os.path.getmtime(os.path.join(r, fn))
                for r, _, fns in os.walk(f"{t.batches_dir}/{d}")
                for fn in fns}

    before = mtimes(hi_dir)
    upd = _df(spark, [7]).withColumn("k", F.lit("a1"))
    res = t.upsert(spark, upd, "k", batch_id="u1",
                   extended_key_pruning=True)
    assert res["kept"] == 1 and res["rows_replaced"] == 1
    assert mtimes(hi_dir) == before          # z-keys proven disjoint
    rows = {r.k: r.id for r in t.read(spark).collect()}
    assert rows == {"a1": 7, "a2": 2, "z8": 8, "z9": 9}


def test_metadata_store_seam_object_store_shape(spark, tmp_path):
    """The version protocol runs entirely behind MetadataStore — an
    object-store deployment swaps the POSIX os.link CAS for a
    conditional PUT without touching protocol logic. Proven by running
    the racing-writers protocol against a store that keeps VERSION
    state in memory (data files still go through Spark's own FS):
    commits serialize through put_if_absent, no _versions directory
    ever touches disk, reads/time-travel/gc all work."""
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from rakam_api_collector_spark.manifest import LocalMetadataStore

    class VersionsInMemory(LocalMetadataStore):
        """Version-file ops in a dict (the S3 analog); everything else
        (batch data dirs) delegates to POSIX, as a real deployment
        delegates data paths to the Hadoop/Arrow FS."""

        def __init__(self):
            self.files: dict[str, str] = {}
            self.lock = threading.Lock()
            self.cas_calls = 0

        def list(self, d):
            if d.endswith("_versions"):
                with self.lock:
                    return [os.path.basename(p) for p in self.files
                            if os.path.dirname(p) == d]
            return super().list(d)

        def is_dir(self, path):
            # the S3 prefix-exists probe: a _versions "directory"
            # exists iff any version object lives under it
            if path.endswith("_versions"):
                with self.lock:
                    if any(os.path.dirname(p) == path
                           for p in self.files):
                        return True
            return super().is_dir(path)

        def read(self, path):
            if "_versions" in path:
                with self.lock:
                    return self.files[path]
            return super().read(path)

        def put_if_absent(self, path, content):
            if "_versions" in path:
                with self.lock:
                    self.cas_calls += 1
                    if path in self.files:
                        return False            # lost the conditional put
                    self.files[path] = content
                    return True
            return super().put_if_absent(path, content)

        def delete(self, path):
            if "_versions" in path:
                with self.lock:
                    self.files.pop(path, None)
                return
            super().delete(path)

    store = VersionsInMemory()

    def write_one(i):
        ManifestedTable(str(tmp_path), "proj", "events",
                        meta=store).write(_df(spark, [i]),
                                          batch_id=f"w{i}")

    with ThreadPoolExecutor(8) as ex:
        list(ex.map(write_one, range(8)))

    t = ManifestedTable(str(tmp_path), "proj", "events", meta=store)
    assert t.current_version() == 8
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(8))
    # every commit went through the CAS (retries add more when writers
    # actually collide — timing-dependent, so only the floor is pinned)
    assert store.cas_calls >= 8
    # version state lives ONLY in the store — nothing on disk
    assert not os.path.exists(f"{tmp_path}/proj/events/_versions")
    # time travel + gc operate through the same seam
    assert len(t.read(spark, version=3).columns) > 0
    t.gc(keep_versions=1, grace_seconds=0)
    assert t._version_numbers() == [8]
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(8))
    # maintenance sweep discovers tables through the seam too
    from rakam_api_collector_spark.manifest import run_maintenance
    reps = run_maintenance(spark, str(tmp_path), min_batches=1,
                           meta=store, grace_seconds=0)
    assert [r["collection"] for r in reps] == ["events"]
    assert "compacted" in reps[0]


class _FakeS3Client:
    """In-memory boto3-S3-shaped client: conditional PUT enforced
    atomically under a lock (what the service does server-side),
    ListObjectsV2 with Delimiter/ContinuationToken, LastModified
    heads, multi-object delete — the exact wire subset
    ObjectMetadataStore calls."""

    PAGE = 2        # tiny page size so pagination is actually exercised

    def __init__(self):
        import threading
        self.objects: dict[str, tuple[bytes, float]] = {}
        self.lock = threading.Lock()
        self.cas_conflicts = 0

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        import time as _t
        with self.lock:
            if IfNoneMatch == "*" and Key in self.objects:
                self.cas_conflicts += 1
                e = RuntimeError("PreconditionFailed")
                e.response = {"Error": {"Code": "PreconditionFailed"},
                              "ResponseMetadata": {"HTTPStatusCode": 412}}
                raise e
            self.objects[Key] = (Body, _t.time())

    def get_object(self, Bucket, Key):
        import io
        with self.lock:
            body, _ = self.objects[Key]
        return {"Body": io.BytesIO(body)}

    def head_object(self, Bucket, Key):
        import datetime
        with self.lock:
            _, ts = self.objects[Key]
        return {"LastModified":
                datetime.datetime.fromtimestamp(
                    ts, tz=datetime.timezone.utc)}

    def list_objects_v2(self, Bucket, Prefix="", Delimiter=None,
                        MaxKeys=None, ContinuationToken=None):
        with self.lock:
            keys = sorted(k for k in self.objects
                          if k.startswith(Prefix))
        contents, common = [], []
        for k in keys:
            if Delimiter:
                rest = k[len(Prefix):]
                if Delimiter in rest:
                    p = Prefix + rest.split(Delimiter)[0] + Delimiter
                    if p not in common:
                        common.append(p)
                    continue
            contents.append(k)
        start = 0
        if ContinuationToken is not None:
            start = int(ContinuationToken)
        limit = MaxKeys if MaxKeys is not None else self.PAGE
        page = contents[start:start + limit]
        truncated = start + limit < len(contents)
        return {"Contents": [{"Key": k} for k in page],
                "CommonPrefixes": ([{"Prefix": p} for p in common]
                                   if start == 0 else []),
                "KeyCount": len(page) + (len(common) if start == 0
                                         else 0),
                "IsTruncated": truncated,
                "NextContinuationToken": str(start + limit)}

    def delete_object(self, Bucket, Key):
        with self.lock:
            self.objects.pop(Key, None)     # missing key = success

    def delete_objects(self, Bucket, Delete):
        with self.lock:
            for o in Delete["Objects"]:
                self.objects.pop(o["Key"], None)


def test_object_metadata_store_ops():
    """ObjectMetadataStore's six ops against the S3 wire shape:
    key mapping strips the s3://bucket/ scheme, list is immediate-
    children-only (Delimiter semantics, paginated), is_dir is the
    prefix probe, put_if_absent translates 412 to False, delete_tree
    removes the whole prefix, mtime is LastModified."""
    from rakam_api_collector_spark.manifest import ObjectMetadataStore

    c = _FakeS3Client()
    s = ObjectMetadataStore(c, "bkt")
    base = "s3://bkt/warehouse/proj/events"

    assert s.put_if_absent(f"{base}/_versions/v1.json", '{"v":1}')
    assert not s.put_if_absent(f"{base}/_versions/v1.json", "loser")
    assert c.cas_conflicts == 1
    assert s.read(f"{base}/_versions/v1.json") == '{"v":1}'
    for i in range(2, 6):
        assert s.put_if_absent(f"{base}/_versions/v{i}.json", "{}")
    assert s.put_if_absent(f"{base}/_batches/b0/part-0.parquet", "d")
    # immediate children only, across pages (PAGE=2 forces pagination)
    assert sorted(s.list(f"{base}/_versions")) == [
        f"v{i}.json" for i in range(1, 6)]
    assert sorted(s.list(base)) == ["_batches", "_versions"]
    assert s.is_dir(f"{base}/_versions")
    assert s.is_dir(f"{base}/_batches/b0")
    assert not s.is_dir(f"{base}/_nope")
    assert s.mtime(f"{base}/_versions/v1.json") > 0
    s.delete(f"{base}/_versions/v5.json")
    s.delete(f"{base}/_versions/v5.json")   # idempotent
    assert sorted(s.list(f"{base}/_versions")) == [
        f"v{i}.json" for i in range(1, 5)]
    s.delete_tree(f"{base}/_batches")
    assert not s.is_dir(f"{base}/_batches")
    assert s.is_dir(f"{base}/_versions")


class _ThrottlingS3Client(_FakeS3Client):
    """Fault-injecting fake: serves 503 SlowDown for the first
    ``fail_first`` calls of each op (the S3 normal-operations
    throttle), counts every throttle served, and records
    delete_objects batch sizes so the 1000-key wire cap is pinned."""

    def __init__(self, fail_first=2):
        super().__init__()
        self.fail_first = fail_first
        self.calls: dict[str, int] = {}
        self.throttles = 0
        self.delete_batches: list[int] = []

    def _maybe_throttle(self, op):
        n = self.calls.get(op, 0)
        self.calls[op] = n + 1
        if n < self.fail_first:
            self.throttles += 1
            e = RuntimeError("SlowDown")
            e.response = {"Error": {"Code": "SlowDown"},
                          "ResponseMetadata": {"HTTPStatusCode": 503}}
            raise e

    def put_object(self, *a, **kw):
        self._maybe_throttle("put_object")
        return super().put_object(*a, **kw)

    def get_object(self, *a, **kw):
        self._maybe_throttle("get_object")
        return super().get_object(*a, **kw)

    def list_objects_v2(self, *a, **kw):
        self._maybe_throttle("list_objects_v2")
        return super().list_objects_v2(*a, **kw)

    def delete_objects(self, Bucket, Delete):
        self._maybe_throttle("delete_objects")
        self.delete_batches.append(len(Delete["Objects"]))
        return super().delete_objects(Bucket, Delete)


def test_object_metadata_store_retries_throttling():
    """503 SlowDown is S3's normal-operations backpressure: every op
    must retry it (capped backoff + jitter) and still return the
    right answer; a non-retryable status (403) propagates unchanged;
    retries exhaust into the final throttle error. The CAS meaning of
    412 survives throttling — a retried conditional PUT that then
    hits an existing key still returns False, never raises."""
    import pytest

    from rakam_api_collector_spark.manifest import ObjectMetadataStore

    c = _ThrottlingS3Client(fail_first=2)
    naps = []
    s = ObjectMetadataStore(c, "bkt", max_retries=5,
                            sleep=naps.append)
    base = "s3://bkt/wh/p/events"
    assert s.put_if_absent(f"{base}/_versions/v1.json", "{}")
    assert s.read(f"{base}/_versions/v1.json") == "{}"
    assert sorted(s.list(f"{base}/_versions")) == ["v1.json"]
    assert c.throttles == 6 and len(naps) == 6    # 2 per op, all slept
    # throttle then CAS-lose: still False, not an exception
    c.calls["put_object"] = 0
    assert s.put_if_absent(f"{base}/_versions/v1.json", "x") is False
    # retries exhaust: the 503 surfaces after max_retries+1 attempts
    c2 = _ThrottlingS3Client(fail_first=99)
    s2 = ObjectMetadataStore(c2, "bkt", max_retries=3,
                             sleep=lambda _t: None)
    with pytest.raises(RuntimeError, match="SlowDown"):
        s2.read("s3://bkt/wh/p/events/_versions/v1.json")
    assert c2.calls["get_object"] == 4
    # non-retryable wire errors pass through with zero retries
    c3 = _FakeS3Client()

    def forbidden(**kw):
        e = RuntimeError("AccessDenied")
        e.response = {"Error": {"Code": "AccessDenied"},
                      "ResponseMetadata": {"HTTPStatusCode": 403}}
        raise e
    c3.get_object = forbidden
    s3 = ObjectMetadataStore(c3, "bkt", sleep=lambda _t: None)
    with pytest.raises(RuntimeError, match="AccessDenied"):
        s3.read("s3://bkt/wh/p/x")


def test_put_if_absent_ambiguous_500_disambiguated_by_readback():
    """A conditional PUT that lands server-side before an ambiguous
    500 InternalError makes the retry see 412 from the writer's OWN
    object. put_if_absent must read the key back and report the CAS
    as WON (True) — returning False would make the committer re-read
    the version and duplicate its own commit. A retried 500 followed
    by a GENUINE conflict (another writer's content) is still a
    loss."""
    from rakam_api_collector_spark.manifest import ObjectMetadataStore

    class AmbiguousPut(_FakeS3Client):
        """First put_object applies server-side, then the response is
        lost to a 500 (the failure mode SDK retry policies exist
        for); later calls behave normally."""

        def __init__(self, land_first: bool):
            super().__init__()
            self.land_first = land_first
            self.first = True

        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            if self.first:
                self.first = False
                if self.land_first:
                    super().put_object(Bucket, Key, Body,
                                       IfNoneMatch=IfNoneMatch)
                else:
                    # request never reached the store; a rival's
                    # create wins in the meantime
                    super().put_object(Bucket, Key, b"rival")
                e = RuntimeError("InternalError")
                e.response = {
                    "Error": {"Code": "InternalError"},
                    "ResponseMetadata": {"HTTPStatusCode": 500}}
                raise e
            return super().put_object(Bucket, Key, Body,
                                      IfNoneMatch=IfNoneMatch)

    base = "s3://bkt/wh/p/events"
    won = ObjectMetadataStore(AmbiguousPut(land_first=True), "bkt",
                              sleep=lambda _t: None)
    assert won.put_if_absent(f"{base}/_versions/v1.json",
                             '{"v":1}') is True
    assert won.read(f"{base}/_versions/v1.json") == '{"v":1}'

    lost = ObjectMetadataStore(AmbiguousPut(land_first=False), "bkt",
                               sleep=lambda _t: None)
    assert lost.put_if_absent(f"{base}/_versions/v1.json",
                              '{"v":1}') is False


def test_object_metadata_store_delete_tree_wire_cap():
    """DeleteObjects takes at most 1000 keys per request: a >1000-key
    tree must split into wire-legal batches that together remove
    every key — under throttling, since a retried delete batch is
    idempotent."""
    from rakam_api_collector_spark.manifest import ObjectMetadataStore

    c = _ThrottlingS3Client(fail_first=1)
    s = ObjectMetadataStore(c, "bkt", sleep=lambda _t: None)
    base = "s3://bkt/wh/p/events"
    with c.lock:
        for i in range(1005):
            c.objects[f"wh/p/events/_batches/b/part-{i:05d}"] = (b"", 0)
    s.delete_tree(f"{base}/_batches")
    assert c.delete_batches == [1000, 5]
    assert not s.is_dir(f"{base}/_batches")
    assert c.throttles >= 2          # list page + delete both retried


def test_object_metadata_store_runs_version_protocol(spark, tmp_path):
    """The full OCC protocol (racing writers, time travel, gc,
    maintenance discovery) green against ObjectMetadataStore — the
    VERSION objects live in the fake S3 service through the REAL
    adapter (CAS = conditional PUT, 412 → retry), while batch-data
    paths delegate to POSIX exactly as a deployment delegates them to
    the Hadoop/Arrow filesystem."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from rakam_api_collector_spark.manifest import (LocalMetadataStore,
                                                    ObjectMetadataStore)

    client = _FakeS3Client()

    class Hybrid(ObjectMetadataStore):
        posix = LocalMetadataStore()

        def _is_meta(self, path):
            # version files AND clone markers are manifest-protocol
            # state — both ride the object-store seam in a deployment
            return "_versions" in path or "_clones" in path

        def list(self, d):
            if self._is_meta(d):
                return super().list(d)
            return self.posix.list(d)

        def is_dir(self, path):
            return (super().is_dir(path) if self._is_meta(path)
                    else self.posix.is_dir(path))

        def read(self, path):
            return (super().read(path) if self._is_meta(path)
                    else self.posix.read(path))

        def put_if_absent(self, path, content):
            if self._is_meta(path):
                return super().put_if_absent(path, content)
            return self.posix.put_if_absent(path, content)

        def delete(self, path):
            if self._is_meta(path):
                super().delete(path)
            else:
                self.posix.delete(path)

        def delete_tree(self, d):
            if self._is_meta(d):
                super().delete_tree(d)
            else:
                self.posix.delete_tree(d)

        def mtime(self, path):
            return (super().mtime(path) if self._is_meta(path)
                    else self.posix.mtime(path))

    store = Hybrid(client, "bkt", strip_prefix="")

    def write_one(i):
        ManifestedTable(str(tmp_path), "proj", "events",
                        meta=store).write(_df(spark, [i]),
                                          batch_id=f"w{i}")

    with ThreadPoolExecutor(8) as ex:
        list(ex.map(write_one, range(8)))

    t = ManifestedTable(str(tmp_path), "proj", "events", meta=store)
    assert t.current_version() == 8
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(8))
    # the service-side CAS is what serializes commits: a write to an
    # already-committed version loses with False (412 translated),
    # never clobbers (actual mid-race collisions are timing-dependent,
    # so provoke the loss deterministically instead of asserting one)
    key = f"{tmp_path}/proj/events/_versions/v{8:010d}.json"
    assert store.put_if_absent(key, "usurper") is False
    assert client.cas_conflicts >= 1
    # version state lives ONLY in the object store
    assert not os.path.exists(f"{tmp_path}/proj/events/_versions")
    assert len(t.read(spark, version=3).columns) > 0
    t.gc(keep_versions=1, grace_seconds=0)
    assert t._version_numbers() == [8]
    from rakam_api_collector_spark.manifest import run_maintenance
    reps = run_maintenance(spark, str(tmp_path), min_batches=1,
                           meta=store, grace_seconds=0)
    assert [r["collection"] for r in reps] == ["events"]
    assert "compacted" in reps[0]

    # the r15 clone registry rides the SAME seam: markers are objects
    # in the store (nothing lands on POSIX), and the source's gc
    # consults them through it
    cl = ManifestedTable(str(tmp_path), "proj", "events_clone",
                         meta=store)
    cl.clone_from(t)
    assert t.registered_clones() == [cl.table_dir]
    assert not os.path.exists(f"{tmp_path}/proj/events/_clones")
    t.compact(spark)                         # source rewrites itself
    t.gc(keep_versions=1, grace_seconds=0)
    assert sorted(r.id for r in cl.read(spark).collect()) \
        == list(range(8))                    # protected through S3 CAS
    t.unregister_clone(cl.table_dir)
    assert t.registered_clones() == []
    assert t.gc(keep_versions=1, grace_seconds=0)  # now reclaimable


def test_changes_since_incremental_read(spark, tmp_path):
    """The Delta-CDF-append analog: a version cursor yields exactly the
    batches the consumer has not seen — new appends show once,
    compaction (moved data) never reappears, a DML rewrite reappears
    post-DML (at-least-once on the batch id), and a gc-pruned cursor
    fails fast instead of silently replaying everything."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    df0, cur = ManifestedTable(str(tmp_path), "proj",
                               "events").changes_since(spark, 0)
    assert df0 is None and cur == 0

    t.write(_df(spark, [1, 2]), batch_id="b1")
    df1, cur = t.changes_since(spark, 0)
    assert sorted(r.id for r in df1.collect()) == [1, 2] and cur == 1
    # caught up: nothing new
    dfx, cur2 = t.changes_since(spark, cur)
    assert dfx is None and cur2 == cur

    t.write(_df(spark, [3]), batch_id="b2")
    t.write(_df(spark, [4]), batch_id="b3")
    df2, cur = t.changes_since(spark, cur)
    assert sorted(r.id for r in df2.collect()) == [3, 4] and cur == 3

    # compaction is movement, not change
    t.compact(spark)
    df3, cur = t.changes_since(spark, cur)
    assert df3 is None and cur == 4

    # a DML rewrite re-emits the surviving rows of the touched batch
    t.delete_where(spark, F.col("id") == 3, prune={"id": (3, 3)})
    df4, cur = t.changes_since(spark, cur)
    assert sorted(r.id for r in df4.collect()) == [1, 2, 4]
    # (the compacted batch was rewritten without id 3 — at-least-once)

    # unknown / gc-pruned cursor fails fast
    with pytest.raises(FileNotFoundError, match="cursor"):
        t.changes_since(spark, 99)


def test_maintenance_hook_background_and_overlap(spark, tmp_path):
    """The daemon half of MaintenanceHook: an every-N-epochs trigger
    runs the sweep on a background thread, a sweep still running when
    the next trigger epoch lands is skipped (never stacked), and
    wait() joins for orderly shutdown. Inline mode is covered by the
    stream test; this pins the async contract itself."""
    import threading
    import time as _time

    from rakam_api_collector_spark.manifest import MaintenanceHook

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="b1")
    t.write(_df(spark, [2]), batch_id="b2")

    hook = MaintenanceHook(spark, str(tmp_path), every_epochs=2,
                           min_batches=2, grace_seconds=0.0)
    hook.after_epoch(0)                      # (0+1) % 2 != 0: no fire
    assert hook.reports == [] and hook._worker is None

    hook.after_epoch(1)                      # fires on the 2nd epoch
    hook.wait(60)
    assert len(hook.reports) == 1
    swept = hook.reports[0]["tables"]
    assert swept[0]["collection"] == "events"
    assert "compacted" in swept[0]
    assert len(t.committed()) == 1           # 2 batches -> 1

    # overlap: a sweep still running means the next trigger is skipped
    blocker = threading.Thread(target=_time.sleep, args=(5,),
                               daemon=True)
    blocker.start()
    hook._worker = blocker
    hook.after_epoch(3)
    assert hook.skipped_overlap == 1 and len(hook.reports) == 1

    with pytest.raises(ValueError, match="every_epochs"):
        MaintenanceHook(spark, str(tmp_path), every_epochs=0)


def test_shallow_clone_snapshot_divergence_and_gc_safety(spark, tmp_path):
    """clone_from publishes a metadata-only snapshot referencing the
    source's files in place (zero data copied), after which the tables
    diverge: source writes never appear in the clone, clone writes
    never appear in the source; the clone's gc() lists only its OWN
    batches dir, so it cannot delete source files; and compact() on
    the clone localizes every cloned batch, after which the clone
    survives the source's directories disappearing entirely."""
    import shutil

    src = ManifestedTable(str(tmp_path), "proj", "events")
    src.write(_df(spark, [1, 2]), batch_id="b1")
    src.write(_df(spark, [3]), batch_id="b2")

    cl = ManifestedTable(str(tmp_path), "proj", "events_clone")
    assert cl.clone_from(src) == 1
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2, 3]
    # metadata-only: the clone's own batches dir holds no data dirs
    assert cl.orphans() == [] and not cl.meta.list(cl.batches_dir)
    assert cl.rows() == 3                    # manifest rows came along

    src.write(_df(spark, [4]), batch_id="b3")      # post-clone append
    cl.write(_df(spark, [9]), batch_id="c1")       # clone-local write
    assert sorted(r.id for r in src.read(spark).collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2, 3, 9]

    # clone gc: even with zero retention/grace it removes nothing of
    # the source's (it only ever lists its own batches dir)
    cl.gc(keep_versions=1, grace_seconds=0)
    assert sorted(r.id for r in src.read(spark).collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2, 3, 9]

    # deep-copy escape: compact localizes the foreign batches...
    assert cl.compact(spark) is not None
    assert all("base" not in m for m in cl.committed())
    cl.gc(keep_versions=1, grace_seconds=0)  # drop pre-compact refs
    # ...so the clone survives the source vanishing outright
    shutil.rmtree(src.table_dir)
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2, 3, 9]


def test_shallow_clone_pinned_version_and_validation(spark, tmp_path):
    """Cloning a historical version pins that snapshot; a non-empty
    target and a gc-pruned source version both refuse loudly; cloning
    a clone keeps the ORIGINAL physical base."""
    src = ManifestedTable(str(tmp_path), "proj", "events")
    src.write(_df(spark, [1]), batch_id="b1")        # v1
    src.write(_df(spark, [2]), batch_id="b2")        # v2

    old = ManifestedTable(str(tmp_path), "proj", "clone_v1")
    old.clone_from(src, version=1)
    assert sorted(r.id for r in old.read(spark).collect()) == [1]

    second = ManifestedTable(str(tmp_path), "proj", "clone_of_clone")
    second.clone_from(old)
    assert sorted(r.id for r in second.read(spark).collect()) == [1]
    assert all(m["base"] == src.batches_dir
               for m in second.committed())          # original base

    with pytest.raises(ValueError, match="already has committed"):
        old.clone_from(src)
    empty = ManifestedTable(str(tmp_path), "proj", "clone_v9")
    with pytest.raises(FileNotFoundError, match="version 9"):
        empty.clone_from(src, version=9)


def test_shallow_clone_pruning_and_blooms_cross_base(spark, tmp_path):
    """Zone-map batch/file skipping and per-file Bloom sidecars keep
    working THROUGH a clone: the copied manifests' stats prune, and
    bloom probes resolve sidecars under the source's physical base."""
    src = ManifestedTable(str(tmp_path), "proj", "events")
    src.write(_df(spark, [1, 2]), batch_id="lo", bloom_for=["id"])
    src.write(_df(spark, [100, 200]), batch_id="hi", bloom_for=["id"])

    cl = ManifestedTable(str(tmp_path), "proj", "events_clone")
    cl.clone_from(src)
    got = cl.read(spark, prune={"id": (100, 100)})
    assert sorted(r.id for r in got.collect()) == [100]
    # the pruned clone scan reads only the matching SOURCE batch dir
    files = got.inputFiles()
    assert files and all(f"{src.batches_dir}/hi" in f for f in files)


def test_check_constraints_enforced_and_carried(spark, tmp_path):
    """CHECK constraints (Delta ADD CONSTRAINT shape): a violating
    write refuses BEFORE any file lands (no orphan), NULL passes (ANSI
    CHECK), the property survives unrelated commits (compaction,
    restore), gates upsert's incoming rows, copies through clone_from,
    and ADD over violating existing data refuses."""
    from rakam_api_collector_spark.manifest import ConstraintViolation

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1, 2]), batch_id="b1")
    t.add_constraint("pos_id", "id > 0", spark=spark)
    assert t.constraints == {"pos_id": "id > 0"}

    with pytest.raises(ConstraintViolation, match="pos_id"):
        t.write(_df(spark, [-5, 3]), batch_id="bad")
    assert t.orphans() == []                 # refused before any file
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]

    # NULL passes (ANSI CHECK), and unrelated commits carry the property
    nulls = spark.createDataFrame(
        [(None, datetime.fromisoformat("2024-03-01T10:00:00"))],
        "id long, _time timestamp")
    t.write(nulls, batch_id="b2")
    t.write(_df(spark, [7]), batch_id="b3")
    t.compact(spark)
    t.restore(t.current_version() - 1)
    assert t.constraints == {"pos_id": "id > 0"}

    with pytest.raises(ConstraintViolation):
        t.upsert(spark, _df(spark, [-1]), key="id")

    # clone copies constraints; dropping re-opens the gate
    cl = ManifestedTable(str(tmp_path), "proj", "events_c")
    cl.clone_from(t)
    assert cl.constraints == {"pos_id": "id > 0"}
    t.drop_constraint("pos_id")
    t.write(_df(spark, [-5]), batch_id="now_ok")
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("pos_id", "id > 0", spark=spark)
    with pytest.raises(ValueError, match="identifier"):
        t.add_constraint("no spaces", "id > 0")
    with pytest.raises(KeyError):
        t.drop_constraint("ghost")


def test_constraint_mutations_compose_under_occ_race(spark, tmp_path):
    """Property mutations must derive from each OCC attempt's CURRENT
    state: a constraint committed by a racer between this add's read
    and its CAS survives alongside it (a static extra dict would
    silently drop the racer's — the lost-update shape the batch
    mutate() hook already guards against)."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="b1")

    orig = t._try_commit
    raced = []

    def racing(n, state):
        if not raced:
            raced.append(True)
            r = ManifestedTable(str(tmp_path), "proj", "events")
            r.add_constraint("from_racer", "id != -999")
        return orig(n, state)

    t._try_commit = racing
    t.add_constraint("from_loser", "id != -888")
    assert set(t.constraints) == {"from_racer", "from_loser"}
    t.drop_constraint("from_racer")
    assert set(t.constraints) == {"from_loser"}


def test_tags_pin_versions_and_survive_gc(spark, tmp_path):
    """Iceberg-style tags: read(version='name') time-travels to the
    pinned snapshot; gc keeps a TAGGED version's files and version
    file regardless of keep_versions; dropping the tag releases the
    pin; re-tagging moves the name; validation refuses numeric names,
    unknown versions, ghost drops."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="b1")            # v1
    assert t.tag("gold") == 1
    t.write(_df(spark, [2]), batch_id="b2")
    t.write(_df(spark, [3]), batch_id="b3")

    assert sorted(r.id for r in
                  t.read(spark, version="gold").collect()) == [1]
    t.gc(keep_versions=1, grace_seconds=0)
    assert sorted(r.id for r in
                  t.read(spark, version="gold").collect()) == [1]
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]

    moved = t.tag("gold")                              # move to head
    assert t.tags["gold"] == moved > 1
    t.drop_tag("gold")
    t.gc(keep_versions=1, grace_seconds=0)
    with pytest.raises(FileNotFoundError, match="no tag"):
        t.read(spark, version="gold")
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]

    with pytest.raises(ValueError, match="non-numeric"):
        t.tag("123")
    with pytest.raises(FileNotFoundError, match="version 99"):
        t.tag("x", version=99)
    with pytest.raises(KeyError):
        t.drop_tag("ghost")


def test_add_constraint_on_empty_table_trivially_succeeds(spark, tmp_path):
    """r14 ADVICE: the canonical create-table-then-add-constraint flow
    — ADD with spark= on a table with no committed batches validates
    trivially (zero rows satisfy any CHECK) instead of raising
    read()'s FileNotFoundError, and the constraint then gates the
    first write."""
    from rakam_api_collector_spark.manifest import ConstraintViolation

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.add_constraint("pos_id", "id > 0", spark=spark)
    assert t.constraints == {"pos_id": "id > 0"}
    with pytest.raises(ConstraintViolation, match="pos_id"):
        t.write(_df(spark, [-1]), batch_id="bad")
    assert t.orphans() == []
    t.write(_df(spark, [1]), batch_id="ok")
    assert [r.id for r in t.read(spark).collect()] == [1]


def test_constraint_enforcement_one_job_over_pinned_rows(spark, tmp_path):
    """r15 (r14 verdict item 3 + ADVICE medium): N CHECK constraints
    are enforced by ONE aggregate job (statusTracker job-count pin —
    previously one filter().count() job per constraint), over a
    localCheckpointed frame, so the rows CHECKED are exactly the rows
    WRITTEN even when the input's lineage is non-deterministic
    (rand(), re-read external data): the frame reaching the file
    writer scans the materialized LogicalRDD, never re-evaluates the
    source."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, [1]), batch_id="seed")
    for i, c in enumerate(["id > 0", "id < 1000", "id != 13"]):
        t.add_constraint(f"c{i}", c)
    assert len(t.constraints) == 3

    # job-count pin: enforcement cost is INDEPENDENT of N — the same
    # number of Spark jobs whether 1 or 3 constraints are installed
    # (previously one filter().count() job per constraint). AQE may
    # split the single aggregate into a fixed small number of jobs,
    # so the pin compares N=3 against N=1 rather than against 1.
    pinned = _df(spark, [2, 3]).localCheckpoint()
    sc = spark.sparkContext

    def jobs_for(table, group):
        sc.setJobGroup(group, "constraint pre-pass")
        try:
            out = table._enforce_constraints(pinned, pinned=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert out is pinned                 # already-pinned: no rewrap
        return len(sc.statusTracker().getJobIdsForGroup(group))

    t1 = ManifestedTable(str(tmp_path), "proj", "one_constraint")
    t1.add_constraint("c0", "id > 0")
    assert jobs_for(t, "enforce_pin_r15_n3") \
        == jobs_for(t1, "enforce_pin_r15_n1")

    # pinning: the enforced frame is a materialized LogicalRDD scan,
    # and write() hands exactly that frame to the file writer
    seen = {}
    orig = t._write_batch_files

    def spy(out, bid, fmt, rows=None, partition=None):
        seen["plan"] = out._jdf.queryExecution().analyzed().toString()
        return orig(out, bid, fmt, rows=rows, partition=partition)

    t._write_batch_files = spy
    try:
        t.write(_df(spark, [5, 6]).withColumn("v", F.rand()),
                batch_id="nd")
    finally:
        t._write_batch_files = orig
    assert "LogicalRDD" in seen["plan"], seen["plan"]
    got = t.read(spark).filter("id >= 5").collect()
    assert sorted(r.id for r in got) == [5, 6]
    # a violating batch still reports the right constraint + count
    from rakam_api_collector_spark.manifest import ConstraintViolation
    with pytest.raises(ConstraintViolation, match="2 rows.*c0"):
        t.write(_df(spark, [-1, -2, 5]), batch_id="bad2")


def test_source_gc_is_clone_aware_single_metastore(spark, tmp_path):
    """r15 (r14 verdict item 5): a registered shallow clone pins the
    SOURCE batch dirs it still references across the source's gc /
    run_maintenance — shortening source retention no longer breaks the
    clone (the Delta shallow-clone hole, closed for the
    single-metastore case). Protection follows the clone's RETAINED
    versions: once the clone compacts (deep-copy escape) and gc's its
    pre-compaction versions, the source's next gc reclaims the dirs.
    Stale markers (deleted clones) are pruned; unregister_clone is the
    accept-Delta-semantics escape."""
    import shutil

    src = ManifestedTable(str(tmp_path), "proj", "events")
    src.write(_df(spark, [1, 2]), batch_id="b1")       # v1
    cl = ManifestedTable(str(tmp_path), "proj", "events_clone")
    cl.clone_from(src)
    assert src.registered_clones() == [cl.table_dir]

    # source rewrites itself away from b1 and gc's aggressively:
    # b1's dir is referenced by NO retained source version, only by
    # the clone — it must survive
    src.delete_where(spark, F.col("id") == 2)                  # v2: b1 rewritten
    removed = src.gc(keep_versions=1, grace_seconds=0)
    assert not any(d.startswith("b1--") for d in removed), removed
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2]
    assert sorted(r.id for r in src.read(spark).collect()) == [1]

    # deep-copy escape: clone compacts (localizes), gc's its
    # pre-compaction version -> no retained clone version references
    # the source -> the source's next gc reclaims b1's dir
    cl.compact(spark)
    cl.gc(keep_versions=1, grace_seconds=0)
    removed = src.gc(keep_versions=1, grace_seconds=0)
    assert any(d.startswith("b1--") for d in removed), removed
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2]
    assert src.registered_clones() == [cl.table_dir]   # marker remains

    # stale marker: delete the clone wholesale. gc(grace_seconds=0)
    # does NOT prune a fresh manifest-less marker (r16: it could be
    # another process's in-flight clone_from — pruning rides a
    # conservative age floor, never the caller's writer-grace); once
    # the marker is older than the floor it prunes.
    shutil.rmtree(cl.table_dir)
    src.gc(keep_versions=1, grace_seconds=0)
    assert src.registered_clones() == [cl.table_dir]   # too young
    marker = os.path.join(src.clones_dir, os.listdir(src.clones_dir)[0])
    old = time.time() - 2 * manifest_mod._CLONE_MARKER_MIN_AGE
    os.utime(marker, (old, old))
    src.gc(keep_versions=1, grace_seconds=0)
    assert src.registered_clones() == []

    # unregister escape: a second clone protects until unregistered
    src.write(_df(spark, [5]), batch_id="b5")
    cl2 = ManifestedTable(str(tmp_path), "proj", "events_clone2")
    cl2.clone_from(src)
    src.delete_where(spark, F.col("id") == 5)
    assert not any(d.startswith("b5--")
                   for d in src.gc(keep_versions=1, grace_seconds=0))
    src.unregister_clone(cl2.table_dir)
    assert any(d.startswith("b5--")
               for d in src.gc(keep_versions=1, grace_seconds=0))
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException, match="b5--"):
        cl2.read(spark).collect()                      # Delta semantics


def test_clone_register_to_commit_window_protected(spark, tmp_path):
    """The register-to-commit race (r15 review finding): a gc running
    between a clone's marker registration and its first commit sees a
    manifest-less marker — within the grace it must protect the
    marker's pinned SOURCE version wholesale (dirs AND version file)
    so the in-flight clone_from still completes; past the grace the
    manifest-less marker is stale and prunes."""
    src = ManifestedTable(str(tmp_path), "proj", "events")
    src.write(_df(spark, [1, 2]), batch_id="b1")       # v1
    src.delete_where(spark, F.col("id") == 2)          # v2 rewrites b1

    # simulate the in-flight window: registered, not yet committed
    cl = ManifestedTable(str(tmp_path), "proj", "events_cl")
    src._register_clone(cl.table_dir, 1)
    removed = src.gc(keep_versions=1, grace_seconds=3600)
    assert not any(d.startswith("b1--") for d in removed), removed
    assert 1 in src._version_numbers()                 # file kept too

    # the clone completes against the still-present snapshot
    assert cl.clone_from(src, version=1) == 1
    assert sorted(r.id for r in cl.read(spark).collect()) == [1, 2]

    # a manifest-less marker is stale only past the conservative
    # marker floor (r16) — gc(grace_seconds=0) mid-window must NOT
    # prune it (the in-flight clone would commit unregistered)
    cl2 = ManifestedTable(str(tmp_path), "proj", "events_cl2")
    src._register_clone(cl2.table_dir, 2)
    src.gc(keep_versions=1, grace_seconds=0)
    assert sorted(src.registered_clones()) == sorted(
        [cl.table_dir, cl2.table_dir])                 # both survive
    m2 = next(m for m in os.listdir(src.clones_dir)
              if json.loads(open(os.path.join(src.clones_dir, m))
                            .read())["table_dir"] == cl2.table_dir)
    old = time.time() - 2 * manifest_mod._CLONE_MARKER_MIN_AGE
    os.utime(os.path.join(src.clones_dir, m2), (old, old))
    src.gc(keep_versions=1, grace_seconds=0)
    assert src.registered_clones() == [cl.table_dir]


def test_reclone_refreshes_marker_version_and_mtime(spark, tmp_path):
    """r15 review: a RE-clone into the same emptied target must
    refresh the marker (source_version + mtime) — the old marker
    would protect the wrong snapshot and carry a stale mtime outside
    the register-to-commit grace."""
    import json as _json
    import os

    src = ManifestedTable(str(tmp_path), "proj", "events")
    src.write(_df(spark, [1]), batch_id="b1")          # v1
    src.write(_df(spark, [2]), batch_id="b2")          # v2

    cl = ManifestedTable(str(tmp_path), "proj", "events_cl")
    cl.clone_from(src, version=1)
    marker_dir = src.clones_dir
    marker = os.path.join(marker_dir, os.listdir(marker_dir)[0])
    with open(marker) as f:
        assert _json.load(f)["source_version"] == 1

    # empty the target and re-clone at v2: marker must say v2 now
    import shutil
    shutil.rmtree(cl.table_dir)
    cl2 = ManifestedTable(str(tmp_path), "proj", "events_cl")
    cl2.clone_from(src, version=2)
    with open(marker) as f:
        assert _json.load(f)["source_version"] == 2
    assert src.registered_clones() == [cl2.table_dir]


def test_footer_rows_exact_with_zero_row_file(spark, tmp_path):
    """The footer walk sums every file's num_rows — a zero-row file
    adds 0 and stays out of the scan list — so a batch's row count
    needs no Spark job; a write of an empty frame commits rows=0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "batch" / "_day=2024-03-01"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"id": [1, 2, 3]}), d / "part-0.parquet")
    pq.write_table(pa.table({"id": pa.array([], pa.int64())}),
                   d / "part-1.parquet")
    stats, files, rows = manifest_mod._footer_stats(
        str(tmp_path / "batch"), "parquet")
    assert rows == 3
    assert [f["path"] for f in files] == ["_day=2024-03-01/part-0.parquet"]
    assert stats == {"id": [1, 3]}
    assert manifest_mod._footer_stats(str(tmp_path / "missing"),
                                      "parquet") == (None, None, None)

    t = ManifestedTable(str(tmp_path), "proj", "events")
    t.write(_df(spark, []).repartition(3), batch_id="empty",
            partition_by_day=False)
    t.write(_df(spark, range(7)).repartition(3), batch_id="full")
    assert {m["batch"]: m["rows"] for m in t.committed()} == \
        {"empty": 0, "full": 7}
    assert t.last_entry["batch"] == "full"
    assert t.read(spark).count() == 7


def test_orc_entry_rows_exact(spark, tmp_path):
    """ORC has no footer walk: its entry rows still come out exact
    (from a Spark count over the written files)."""
    t = ManifestedTable(str(tmp_path), "proj", "events")
    df = _df(spark, range(4)).union(_df(spark, range(4, 9),
                                        day="2024-03-02T10:00:00"))
    t.write(df.repartition(4), batch_id="o1", fmt="orc")
    assert t.last_entry["rows"] == 9
    assert [m["rows"] for m in t.committed()] == [9]


# --- grouped manifested commit (one parquet write per schema group) ---------

def _ingest_six(spark, cat):
    """Six same-shape collections in one schema group: ``p`` and ``q``
    hold one column set in different catalog orders, and four names
    Spark escapes in paths. Four rows each over three days."""
    from pyspark.sql import types as T

    from rakam_api_collector_spark.ingest import ingest_batch
    from tests.test_ingest import fabric

    a, b = T.StructField("a", T.DoubleType()), T.StructField("b",
                                                             T.StringType())
    cat.create_table("testproject", "p", [a, b])
    cat.create_table("testproject", "q", [b, a])
    names = ["p", "q", "a=b", "x:y", "50%", "a b"]
    lines = [fabric(c, {"_time": f"2020-06-0{d}T10:{i:02d}:00",
                        "_user": f"{c}-{d}-{i}", "a": i * 1.5 - d,
                        "b": f"{c}{i}"})
             for c in names for d in (1, 2, 3) for i in range(4)]
    raw = spark.createDataFrame([(ln,) for ln in lines], ["value"]) \
        .repartition(3)
    return names, ingest_batch(spark, raw, "fabric", cat,
                               shard_time="2020-06-01 00:00:00")


def _stats_by_day(entry: dict) -> dict:
    """Per ``_day=`` dir, the zone map merged over its listed files."""
    by_day: dict = {}
    for f in entry["files"]:
        by_day.setdefault(f["path"].split("/")[0], []).append(f["stats"])
    return {day: {c: [min(s[c][0] for s in stats),
                      max(s[c][1] for s in stats)]
                  for c in set.intersection(*(set(s) for s in stats))}
            for day, stats in by_day.items()}


def test_grouped_commit_matches_per_table_write(spark, tmp_path):
    """A manifested epoch committed with one parquet write per schema
    group gives each collection what the per-collection write() gives
    it: the same read() rows, columns and column order, the same
    format("manifest") result, exact entry rows, the same schema and
    zone maps, and a file list that names exactly the files written —
    one per (collection, day)."""
    from rakam_api_collector_spark.datasource import ManifestDataSource
    from rakam_api_collector_spark.ingest import Catalog
    from rakam_api_collector_spark.streaming.pipeline import _commit_tables

    spark.dataSource.register(ManifestDataSource)
    cat = Catalog()
    names, res = _ingest_six(spark, cat)
    assert len(res.groups) == 1
    assert res.orders[("testproject", "p")][-2:] == ["a", "b"]
    assert res.orders[("testproject", "q")][-2:] == ["b", "a"]
    gbase, tbase = str(tmp_path / "grouped"), str(tmp_path / "per_table")
    got_g = _commit_tables(res, gbase, True, "ckpt", 0)
    got_t = _commit_tables(dict(res), tbase, True, "ckpt", 0)
    assert got_g == got_t == {("testproject", c): 12 for c in names}

    def sort(rows):
        return sorted(tuple(r) for r in rows)

    for c in names:
        g = ManifestedTable(gbase, "testproject", c)
        t = ManifestedTable(tbase, "testproject", c)
        [eg], [et] = g.committed(), t.committed()
        assert eg["rows"] == et["rows"] == 12
        assert eg["batch"] == et["batch"]
        assert eg["schema"] == et["schema"]
        assert [f["name"] for f in eg["schema"]["fields"]] == \
            res.orders[("testproject", c)] + ["_day"]
        assert eg["stats"] == et["stats"]
        assert _stats_by_day(eg) == _stats_by_day(et)
        on_disk = sorted(
            os.path.relpath(os.path.join(root, f), g._batch_path(eg))
            for root, _, fs in os.walk(g._batch_path(eg))
            for f in fs if f.endswith(".parquet"))
        assert sorted(f["path"] for f in eg["files"]) == on_disk
        assert len(on_disk) == 3                 # one file per day
        rg, rt = g.read(spark), t.read(spark)
        assert rg.columns == rt.columns == \
            [f["name"] for f in et["schema"]["fields"]]
        assert sort(rg.collect()) == sort(rt.collect())
        mg, mt = (spark.read.format("manifest").option("path", x.table_dir)
                  .load() for x in (g, t))
        assert mg.columns == mt.columns
        assert sort(mg.collect()) == sort(mt.collect())
    assert not os.listdir(os.path.join(gbase, "_staging"))


def test_grouped_commit_constrained_table_still_refuses(spark, tmp_path):
    """A table with a CHECK constraint commits from its schema group's
    one write too: its check runs on the staged files, the rows it would
    commit. Violating rows refuse the epoch and leave that table empty;
    with a looser bound every collection commits."""
    from rakam_api_collector_spark.ingest import Catalog
    from rakam_api_collector_spark.manifest import ConstraintViolation
    from rakam_api_collector_spark.streaming.pipeline import _commit_tables

    for base, bound, refused in (("bad", 0, True), ("ok", -10, False)):
        base = str(tmp_path / base)
        guarded = ManifestedTable(base, "testproject", "p")
        guarded.add_constraint("a_floor", f"a >= {bound}")
        names, res = _ingest_six(spark, Catalog())
        if refused:
            with pytest.raises(ConstraintViolation, match="a_floor"):
                _commit_tables(res, base, True, "ckpt", 0)
            assert guarded.committed() == []
            continue
        assert _commit_tables(res, base, True, "ckpt", 0) == \
            {("testproject", c): 12 for c in names}
        for c in names:
            assert ManifestedTable(base, "testproject", c).read(spark) \
                .count() == 12
