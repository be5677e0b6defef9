"""Manifest-committed tables: a transactional-metadata analog for K1.

The reference's Raptor sink registers every flushed shard inside a MySQL
transaction (``RaptorDatabaseHandler.java:312-339`` — shard UUIDs, row
counts, and table version move atomically), so a crashed writer leaves
no half-visible data and concurrent writers cannot double-commit.
Structured Streaming's epoch-committed file sink gives the same
guarantee for a SINGLE writer; this module adds the multi-writer /
crash-visibility half on plain parquet — the version-file protocol that
Delta (_delta_log) and Iceberg (metadata pointer) implement in full:

1. Each batch writes its files under a private directory
   ``<table>/_batches/<batch_id>/`` — invisible to readers. A
   many-collection epoch may instead write every collection's files in
   one job under ``<base>/_staging/`` and rename each collection's part
   into its own ``_batches`` (``commit_groups``).
2. The table state is a VERSION FILE ``<table>/_versions/v<N>.json``
   listing every live batch. Commit = atomically creating version N+1
   (``os.link`` create-if-absent — POSIX's compare-and-swap; an object
   store uses a conditional put). Two writers racing to N+1: one wins,
   the other re-reads the new state and retries on N+2 — optimistic
   concurrency, serialized history, no lost updates.
3. Readers load the highest version file and read ONLY its batches.
   Crashed writers leave orphan batch dirs no version references.

Caller-supplied ``batch_id`` doubles as an idempotency key: a retried
write with the same id lands in a FRESH physical directory and the
commit swaps it in for the id's previous entry — exactly-once
visibility under at-least-once execution (the same rule the
dead-letter spool uses per epoch) without ever deleting files a
pinned reader may still be scanning.

The version history is also what makes maintenance transactional:
``compact()`` rewrites the live batches as one and publishes a version
where the inputs are swapped for the output in a single commit (readers
see either the old set or the new set, never both), and ``gc()``
deletes batch dirs no retained version references — the shard-organizer
analog. Scale notes: a version file is metadata-tiny (one JSON row per
live batch); very long histories prune via ``gc(keep_versions=…)``.
Readers union per-batch scans, so day partition pruning still applies
inside every batch directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Clone markers with no committed manifest are pruned only past this
# age (seconds), REGARDLESS of how aggressive a gc(grace_seconds=...)
# call is — the marker may belong to another process's in-flight
# clone_from (see ManifestedTable._clone_protection).
_CLONE_MARKER_MIN_AGE = 3600.0


class ConstraintViolation(RuntimeError):
    """A write carried rows that evaluate a table CHECK constraint to
    FALSE (ANSI semantics: NULL passes). Raised before any file is
    written, so a refused batch leaves no orphan."""


class CommitConflict(RuntimeError):
    """Raised when the optimistic-concurrency retry budget is exhausted."""


def is_missing_error(exc: Exception) -> bool:
    """True when ``exc`` is any store's shape of "no such object":
    POSIX FileNotFoundError, a mapping KeyError, or the S3-wire
    404 / NoSuchKey ClientError. The ONE place the shape is encoded
    (r17 review: ``read_if_exists`` and the index root's probes each
    carried a partial copy)."""
    if isinstance(exc, (FileNotFoundError, KeyError)):
        return True
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        status = (resp.get("ResponseMetadata") or {}).get(
            "HTTPStatusCode")
        code = (resp.get("Error") or {}).get("Code")
        return status == 404 or code in ("NoSuchKey", "404")
    return False


class MetadataStore:
    """Filesystem seam for the manifest PROTOCOL — version files,
    directory listings, and gc deletes (the reference keeps this state
    in its MySQL shard registry; Delta keeps it in _delta_log).

    The default :class:`LocalMetadataStore` speaks POSIX. An
    object-store deployment implements the same six operations with:
    ``list`` → ListObjectsV2 (delimiter '/'), ``read`` → GET,
    ``put_if_absent`` → conditional PUT (``If-None-Match: *`` — the
    compare-and-swap the POSIX ``os.link`` create-if-absent maps to),
    ``delete``/``delete_tree`` → DeleteObject(s), ``mtime`` →
    LastModified, ``is_dir`` → prefix-exists. Spark and pyarrow DATA
    reads/writes resolve their paths through their own Hadoop/Arrow
    filesystems and are deliberately NOT behind this seam — only the
    transaction metadata is."""

    def list(self, d: str) -> list[str]:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def read(self, path: str) -> str:
        raise NotImplementedError

    def put_if_absent(self, path: str, content: str) -> bool:
        """Atomic create-if-absent. True on win; False if the path
        already exists (another writer committed first)."""
        raise NotImplementedError

    def put(self, path: str, content: str) -> None:
        """Atomic LAST-WRITER-WINS overwrite of one small object —
        POSIX rename / plain S3 PUT (both atomic per object). For
        records that are monotone and single-writer by contract (the
        signature/DSIR stores' ``_merged`` id set) — version-CAS
        state keeps using :meth:`put_if_absent`."""
        raise NotImplementedError

    def read_if_exists(self, path: str) -> str | None:
        """:meth:`read`, with a missing object mapped to ``None``
        (POSIX FileNotFoundError; S3-wire 404 / NoSuchKey)."""
        try:
            return self.read(path)
        except Exception as e:  # noqa: BLE001 — typed by shape below
            if is_missing_error(e):
                return None
            raise

    def delete(self, path: str) -> None:
        """Remove one file; missing is success (a concurrent sweep
        winning the race means the garbage is gone)."""
        raise NotImplementedError

    def delete_tree(self, d: str) -> None:
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        raise NotImplementedError


def resolve_meta_store(path: str, meta_store, what: str
                       ) -> "MetadataStore":
    """The one seam-resolution rule every protocol-state surface
    shares (r16): an explicit store wins; otherwise default POSIX —
    unless the path is a URI, where ``os.*`` would silently create
    mangled local paths, so refuse loudly and name the escape hatch.
    ``what`` names the surface in the error (store / index model /
    checkpoint bookkeeping / catalog / checkpoint offsets)."""
    if meta_store is not None:
        return meta_store
    if "://" in path:
        raise ValueError(
            f"{what} at {path!r} is a URI — pass a meta_store (e.g. "
            "manifest.ObjectMetadataStore); the default metadata "
            "seam is local-POSIX only")
    return LocalMetadataStore()


class VersionLog:
    """The shared version-file protocol (r17, review): monotonically
    numbered ``v%010d.json`` states under a ``_versions`` dir, each
    committed by create-if-absent through the :class:`MetadataStore`
    CAS — one writer wins each number, losers re-read and retry. Both
    versioned stores speak it — :class:`ManifestedTable` (batch sets)
    and :class:`~rakam_api_collector_spark.operators.indexroot.
    VersionedIndex` (ANN generations) — so filename-convention or
    parse fixes land once."""

    def __init__(self, versions_dir: str, meta: MetadataStore) -> None:
        self.versions_dir = versions_dir
        self.meta = meta

    def path_of(self, n: int) -> str:
        return f"{self.versions_dir}/v{n:010d}.json"

    def numbers(self) -> list[int]:
        names = self.meta.list(self.versions_dir)   # [] when absent
        return sorted(int(x[1:-5]) for x in names
                      if x.startswith("v") and x.endswith(".json"))

    def latest(self) -> int:
        ns = self.numbers()
        return ns[-1] if ns else 0

    def read(self, n: int) -> dict:
        return json.loads(self.meta.read(self.path_of(n)))

    def try_commit(self, n: int, state: dict) -> bool:
        """Atomic create-if-absent of version ``n``. True on win;
        False if another writer committed it first (POSIX os.link
        EEXIST / object-store conditional-put compare-and-swap,
        behind MetadataStore.put_if_absent)."""
        return self.meta.put_if_absent(self.path_of(n),
                                       json.dumps(state))


class LocalMetadataStore(MetadataStore):
    """POSIX implementation (the default): create-if-absent rides
    ``os.link``'s EEXIST semantics."""

    def list(self, d: str) -> list[str]:
        try:
            return os.listdir(d)
        except FileNotFoundError:
            return []

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def read(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def put_if_absent(self, path: str, content: str) -> bool:
        # dirname('') for a bare relative name: makedirs('') raises
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = os.path.join(os.path.dirname(path),
                           f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            f.write(content)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def put(self, path: str, content: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = os.path.join(os.path.dirname(path),
                           f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            f.write(content)
        os.replace(tmp, path)           # atomic overwrite

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def delete_tree(self, d: str) -> None:
        import shutil

        shutil.rmtree(d)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)


class ObjectMetadataStore(MetadataStore):
    """Object-store implementation over an S3-wire-shaped client — the
    deployable half of the seam the :class:`MetadataStore` docstring
    maps out. ``client`` is any object speaking the boto3 S3 client
    subset this class calls (``put_object`` honoring
    ``IfNoneMatch='*'``, ``get_object``, ``list_objects_v2``,
    ``head_object``, ``delete_object``/``delete_objects``); a real
    deployment passes ``boto3.client('s3')`` (S3 has supported
    conditional writes natively since 2024-08; GCS/Azure expose the
    same compare-and-swap via if-generation-match / If-None-Match),
    and :func:`ObjectMetadataStore.for_boto3` builds one behind an
    import-try so this module never imports boto3 itself.

    Semantics per operation (the docstring contract made concrete):

    - ``put_if_absent`` → ``PutObject`` + ``If-None-Match: *``; a 412
      PreconditionFailed (or 409 ConditionalRequestConflict under
      concurrent creates — retried by re-reading, so callers just see
      False) means another writer won the version. A 412 seen AFTER a
      retried ambiguous 500/503 is disambiguated by reading the key
      back: our own content means the first attempt landed
      server-side and the CAS was WON, not lost.
    - ``list`` → ``ListObjectsV2`` with ``Delimiter='/'``; immediate
      children are Contents basenames + CommonPrefixes basenames.
    - ``is_dir`` → prefix-exists probe (any key under ``path/``).
    - ``mtime`` → ``LastModified`` epoch seconds, so gc's grace window
      measures object age exactly as it measures POSIX file age.
    - ``delete_tree`` → paginated multi-object delete of the prefix
      (1000 keys per DeleteObjects request, the wire-protocol cap).
    - every call retries 503 SlowDown / 500 InternalError with capped
      exponential backoff + full jitter (``max_retries``, default 5)
      — S3 throttles under normal operations and every op here is
      idempotent or server-side-atomic, so blind retry is safe; all
      other wire errors propagate unchanged (412/409 keep their CAS
      meaning in ``put_if_absent``).

    Paths arrive as ``{base}/{project}/{collection}/...`` strings; the
    key mapping strips ``s3://{bucket}/`` (or any configured
    ``strip_prefix``) and leading slashes, so the SAME base string the
    Spark/Hadoop data paths use addresses the metadata objects."""

    def __init__(self, client, bucket: str,
                 strip_prefix: str | None = None,
                 max_retries: int = 5,
                 sleep=None) -> None:
        self.client = client
        self.bucket = bucket
        self.strip_prefix = (strip_prefix if strip_prefix is not None
                             else f"s3://{bucket}/")
        self.max_retries = max_retries
        self._sleep = sleep if sleep is not None else time.sleep

    @classmethod
    def for_boto3(cls, bucket: str, **client_kwargs
                  ) -> "ObjectMetadataStore":
        try:
            import boto3  # optional — never a package-level import
        except ImportError as e:  # pragma: no cover — env-dependent
            raise ImportError(
                "ObjectMetadataStore.for_boto3 needs boto3; pass any "
                "S3-shaped client to the constructor instead") from e
        return cls(boto3.client("s3", **client_kwargs), bucket)

    def _key(self, path: str) -> str:
        if path.startswith(self.strip_prefix):
            path = path[len(self.strip_prefix):]
        return path.lstrip("/")

    @staticmethod
    def _http_status(exc: Exception) -> int | None:
        resp = getattr(exc, "response", None)
        if isinstance(resp, dict):
            return (resp.get("ResponseMetadata") or {}).get(
                "HTTPStatusCode")
        return None

    # S3 serves 503 SlowDown (and occasional 500 InternalError) as
    # normal-operations throttling — callers are expected to back off
    # and retry, and the version-CAS protocol above this store is
    # retry-safe by construction (conditional PUT is atomic server-
    # side; reads/lists/deletes are idempotent). Non-retryable wire
    # errors (403, 404, 412...) propagate to the caller unchanged.
    _RETRY_STATUSES = frozenset({500, 503})

    def _call(self, op: str, **kwargs):
        delay = 0.1
        for attempt in range(self.max_retries + 1):
            try:
                return getattr(self.client, op)(Bucket=self.bucket,
                                                **kwargs)
            except Exception as e:  # noqa: BLE001 — typed by status
                if (self._http_status(e) not in self._RETRY_STATUSES
                        or attempt == self.max_retries):
                    raise
                # capped exponential backoff + full jitter (the AWS
                # SDK envelope; streaming/committer.py uses the same)
                self._sleep(random.uniform(0.0, min(delay, 2.0)))
                delay *= 2

    def _list_page(self, **kwargs) -> "Iterator[dict]":
        token = None
        while True:
            if token:
                kwargs["ContinuationToken"] = token
            page = self._call("list_objects_v2", **kwargs)
            yield page
            if not page.get("IsTruncated"):
                return
            token = page.get("NextContinuationToken")

    def list(self, d: str) -> list[str]:
        prefix = self._key(d).rstrip("/") + "/"
        names: list[str] = []
        for page in self._list_page(Prefix=prefix, Delimiter="/"):
            names += [c["Key"][len(prefix):]
                      for c in page.get("Contents", [])
                      if c["Key"] != prefix]
            names += [p["Prefix"][len(prefix):].rstrip("/")
                      for p in page.get("CommonPrefixes", [])]
        return names

    def is_dir(self, path: str) -> bool:
        prefix = self._key(path).rstrip("/") + "/"
        for page in self._list_page(Prefix=prefix, MaxKeys=1):
            return bool(page.get("KeyCount") or page.get("Contents"))
        return False

    def read(self, path: str) -> str:
        body = self._call("get_object", Key=self._key(path))["Body"]
        data = body.read()
        return data.decode() if isinstance(data, bytes) else data

    def put_if_absent(self, path: str, content: str) -> bool:
        # own retry loop rather than _call: a retried conditional PUT
        # is NOT blindly idempotent. If attempt 1 succeeded
        # server-side before an ambiguous 500/503, the retry sees 412
        # — and reporting False would make the caller believe it LOST
        # the CAS race it actually won (it would then re-read the
        # version and duplicate its own commit). After any retried
        # attempt ends in 412/409, read the key back and compare:
        # own-content means our write landed (True).
        key = self._key(path)
        delay, retried = 0.1, False
        for attempt in range(self.max_retries + 1):
            try:
                self.client.put_object(Bucket=self.bucket, Key=key,
                                       Body=content.encode(),
                                       IfNoneMatch="*")
                return True
            except Exception as e:  # noqa: BLE001 — typed by status
                status = self._http_status(e)
                # 412 = key exists; 409 = concurrent conditional
                # creates collided (S3 docs: one wins, retriers see
                # 409) — a FIRST-attempt 412/409 is a genuine loss
                if status in (409, 412):
                    if not retried:
                        return False
                    try:
                        return self.read(path) == content
                    except Exception:  # noqa: BLE001 — lost either way
                        return False
                if (status not in self._RETRY_STATUSES
                        or attempt == self.max_retries):
                    raise
                retried = True
                self._sleep(random.uniform(0.0, min(delay, 2.0)))
                delay *= 2

    def put(self, path: str, content: str) -> None:
        # unconditional PUT — atomic last-writer-wins per object
        self._call("put_object", Key=self._key(path),
                   Body=content.encode())

    def delete(self, path: str) -> None:
        # S3 DeleteObject on a missing key is already a success
        self._call("delete_object", Key=self._key(path))

    def delete_tree(self, d: str) -> None:
        prefix = self._key(d).rstrip("/") + "/"
        keys = [c["Key"] for page in self._list_page(Prefix=prefix)
                for c in page.get("Contents", [])]
        if hasattr(self.client, "delete_objects"):
            for i in range(0, len(keys), 1000):   # wire-protocol cap
                self._call("delete_objects",
                           Delete={"Objects": [{"Key": k}
                                               for k in keys[i:i + 1000]]})
        else:
            for k in keys:
                self._call("delete_object", Key=k)

    def mtime(self, path: str) -> float:
        head = self._call("head_object", Key=self._key(path))
        lm = head["LastModified"]
        return lm.timestamp() if hasattr(lm, "timestamp") else float(lm)


def run_maintenance(spark: SparkSession, base: str,
                    min_batches: int = 8,
                    cluster_by: dict | None = None,
                    keep_versions: int = 2,
                    grace_seconds: float = 3600.0,
                    meta: "MetadataStore | None" = None,
                    parallelism: int = 8,
                    target_rows: int | None = None,
                    max_tables_per_sweep: int | None = None,
                    scheduler_pool: str | None = None,
                    index_roots: list | None = None) -> list[dict]:
    """The shard-organizer sweep (the reference runs this as a periodic
    daemon over its Raptor shard registry): walk every
    ``base/<project>/<collection>`` table, compact any whose live batch
    count reached ``min_batches`` — streaming commits one batch per
    epoch per collection, so small batches accrete continuously —
    optionally range-clustering per collection (``cluster_by
    = {collection: [cols]}``), then gc aged versions/orphans. A table
    whose compaction loses a concurrency race is reported and skipped
    (the next sweep retries); per-table reports list batches before,
    the compacted batch id, and dirs removed.

    Per-table compactions overlap across a ``parallelism``-wide thread
    pool (the same fan-out shape as the streaming commit path — Spark
    schedules concurrent jobs fine, and each table's commit is
    independent): sequential sweeps over a many-collection stream were
    measured at ~1 s/table, long enough for an every-N-epochs daemon
    sweep to outlive the epochs that scheduled it. Reports stay in
    sorted table order regardless of completion order.

    ``target_rows`` turns the sweep into BIN-PACKING (the form that
    survives 100 TB): only batches below the threshold count toward
    ``min_batches`` and only THEY rewrite — a batch the sweep already
    grew past target_rows is never rewritten again, so per-row rewrite
    cost is O(log) over the table's life instead of once per sweep.
    Without it, every sweep rewrites the whole table (fine for tests
    and small tables, quadratic for a stream that never stops).

    ``max_tables_per_sweep`` throttles the COMPACTION WAVE: when a
    cold start or a cadence beat makes every collection eligible at
    once (100 collections × ~1 s of rewrite co-resident with a live
    stream was measured at ~3× a steady trigger interval), a capped
    sweep compacts only the ``max_tables_per_sweep`` tables with the
    MOST pending small batches (worst accretors first, name-ordered
    among ties for determinism) and reports the rest as
    ``deferred`` — they lead the next sweep, so the per-table bound
    degrades by at most one cadence interval while no single sweep
    can flood the executors. gc still runs for every table (metadata-
    only deletes, no Spark jobs).

    ``index_roots`` (r17, VERDICT r16 item 6) registers persisted ANN
    index roots (:class:`~rakam_api_collector_spark.operators.
    indexroot.VersionedIndex` instances or root path strings resolved
    through this sweep's ``meta``) so ONE cadence owns all
    maintenance: each root contributes a report row with its live
    version, row count, cell imbalance, whether the drift trigger
    fires (``rebuild_due`` — the reference's shard-organizer health
    column applied to indexes), and the age of the last full build
    (the small-file-accretion clock). Health only — the sweep never
    rebuilds an index (that is the index maintainer's single-writer
    window); a due rebuild is the operator's or the ANN stream's
    (``on_drift="rebuild"``) to run. Errors are isolated per root,
    like per-table errors.

    The sweep also deletes every ``base/_staging`` dir (a
    ``commit_groups`` attempt that died and was never replayed) older
    than ``grace_seconds`` — the grace gc() gives in-flight batch dirs,
    so a live epoch's staging dir survives."""
    meta = meta or LocalMetadataStore()
    staging, now = f"{base}/{STAGING_DIR}", time.time()
    for d in meta.list(staging):
        try:
            if now - meta.mtime(f"{staging}/{d}") >= grace_seconds:
                meta.delete_tree(f"{staging}/{d}")
        except FileNotFoundError:
            continue                     # a concurrent sweep won
    tables = []
    for proj in sorted(meta.list(base)):
        pdir = os.path.join(base, proj)
        if not meta.is_dir(pdir):
            continue
        for coll in sorted(meta.list(pdir)):
            if meta.is_dir(os.path.join(pdir, coll, "_versions")):
                tables.append((proj, coll))

    def _pending(key) -> tuple[int, int]:
        """(live batches, small batches counting toward min_batches) —
        metadata-only, no Spark jobs."""
        proj, coll = key
        t = ManifestedTable(base, proj, coll, meta=meta)
        live = t.committed()
        if target_rows is not None:
            n = sum(1 for b in live if b.get("rows", 0) < target_rows)
        else:
            n = len(live)
        return len(live), n

    counts: dict[tuple[str, str], tuple[int, int]] = {}
    scan_errors: dict[tuple[str, str], Exception] = {}
    for key in tables:
        try:
            counts[key] = _pending(key)
        except Exception as e:  # noqa: BLE001 — reported by sweep_one
            # a table whose manifest READ fails is an error row, not a
            # silently-healthy (0, 0) table: record the exception so
            # sweep_one reports it even when gc would have succeeded
            counts[key] = (0, 0)
            scan_errors[key] = e
    eligible = [k for k in tables if counts[k][1] >= min_batches]
    if max_tables_per_sweep is not None and max_tables_per_sweep >= 0:
        eligible.sort(key=lambda k: (-counts[k][1], k))
        selected = set(eligible[:max_tables_per_sweep])
    else:
        selected = set(eligible)

    def sweep_one(key):
        proj, coll = key
        if scheduler_pool is not None:
            # per-thread (PySpark pinned-thread mode: pool workers do
            # NOT inherit the caller's local properties, so each
            # worker claims the pool itself before any Spark action)
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", scheduler_pool)
        t = ManifestedTable(base, proj, coll, meta=meta)
        report = {"project": proj, "collection": coll}
        if key in scan_errors:
            # the pre-scan couldn't read this table's manifest: report
            # THAT error (the old per-table-committed() behavior) —
            # attempting gc against unreadable metadata helps nobody
            e = scan_errors[key]
            report["error"] = f"{type(e).__name__}: {e}"
            return report
        # per-table fault isolation: a daemon sweep must not let one
        # bad table (corrupt file, bad cluster key, races) starve
        # every table sorting after it
        try:
            report["batches"] = counts[key][0]
            if key in selected:
                keys = (cluster_by or {}).get(
                    f"{proj}/{coll}", (cluster_by or {}).get(coll))
                try:
                    out = t.compact(spark, cluster_by=keys,
                                    max_rows=target_rows)
                    if out is not None:
                        report["compacted"] = out
                except CommitConflict:
                    report["conflict"] = True
            elif counts[key][1] >= min_batches:
                report["deferred"] = True
            report["gc_removed"] = len(
                t.gc(keep_versions=keep_versions,
                     grace_seconds=grace_seconds))
        except Exception as e:  # noqa: BLE001 — reported, not fatal
            report["error"] = f"{type(e).__name__}: {e}"
        return report

    # pool tagging is a THREAD-LOCAL property: the serial branch and
    # the index-health loop run on the CALLER's thread (which for an
    # inline MaintenanceHook is the stream-execution thread), so the
    # property is saved and restored — leaking it would run every
    # subsequent production micro-batch in the organizer's low-weight
    # pool, inverting the isolation (r17 review). Pool-executor worker
    # threads need no restore: they die with the executor.
    prior_pool = (spark.sparkContext.getLocalProperty(
        "spark.scheduler.pool") if scheduler_pool is not None else None)
    try:
        if len(tables) <= 1 or parallelism <= 1:
            reports = [sweep_one(k) for k in tables]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(parallelism,
                                        len(tables))) as pool:
                reports = list(pool.map(sweep_one, tables))

        if index_roots and scheduler_pool is not None:
            # health() can launch a Spark job (the distributed cell
            # count above the file threshold) — it rides the
            # organizer's pool like every sweep job
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", scheduler_pool)
        for root in index_roots or []:
            from rakam_api_collector_spark.operators.indexroot import \
                VersionedIndex
            vi = (root if isinstance(root, VersionedIndex)
                  else VersionedIndex(root, meta_store=meta))
            row = {"index": vi.root}
            try:
                row.update(vi.health(spark))
            except Exception as e:  # noqa: BLE001 — reported row
                row["error"] = f"{type(e).__name__}: {e}"
            reports.append(row)
        return reports
    finally:
        if scheduler_pool is not None:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
                                                prior_pool)


class MaintenanceHook:
    """Every-N-epochs scheduler around :func:`run_maintenance` — the
    reference runs its shard organizer as a periodic DAEMON, not a hand
    tool, so a long-running stream must not accrete one batch per epoch
    per collection until an operator intervenes. The manifested sink
    calls :meth:`after_epoch` at the end of every committed micro-batch;
    each ``every_epochs``-th epoch triggers a sweep over ``base``.

    The sweep runs on a daemon thread by default (Spark schedules jobs
    from concurrent threads fine, and the reference's organizer is
    async to ingest) so compaction cost never lands inside a batch's
    trigger budget; non-overlapping by construction — a sweep still
    running when the next trigger epoch arrives is simply skipped
    (``skipped_overlap`` counts them). ``inline=True`` runs the sweep
    synchronously inside foreachBatch — deterministic for tests and for
    availableNow catch-up runs. Replayed epochs re-trigger at most one
    extra sweep, which is idempotent (compaction below ``min_batches``
    no-ops; concurrent sweeps race safely via the OCC protocol).

    ``reports`` keeps the last ``max_reports`` sweep reports (newest
    last) — the observability surface tests and operators read."""

    def __init__(self, spark: SparkSession, base: str,
                 every_epochs: int = 16, inline: bool = False,
                 min_batches: int = 8, cluster_by: dict | None = None,
                 keep_versions: int = 2, grace_seconds: float = 3600.0,
                 parallelism: int = 8,
                 max_reports: int = 64,
                 target_rows: int | None = None,
                 max_tables_per_sweep: int | None = None,
                 meta: "MetadataStore | None" = None,
                 index_roots: list | None = None) -> None:
        if every_epochs < 1:
            raise ValueError(f"every_epochs must be >= 1, "
                             f"got {every_epochs}")
        self.spark = spark
        self.base = base
        self.every_epochs = every_epochs
        self.inline = inline
        self.sweep_kwargs = {"min_batches": min_batches,
                             "cluster_by": cluster_by,
                             "keep_versions": keep_versions,
                             "grace_seconds": grace_seconds,
                             "parallelism": parallelism,
                             "target_rows": target_rows,
                             "max_tables_per_sweep":
                                 max_tables_per_sweep,
                             # scheduler-pool isolation: inert under
                             # the default FIFO scheduler; on a
                             # cluster run with
                             # spark.scheduler.mode=FAIR and a low-
                             # weight pool in the allocation file the
                             # organizer cannot starve trigger-
                             # interval batches of executor slots
                             "scheduler_pool": "manifest-maintenance",
                             # r17: the daemon cadence owns index
                             # health too, and sweeps object-store
                             # bases through an explicit store
                             "meta": meta,
                             "index_roots": index_roots}
        self.max_reports = max_reports
        self.reports: list[dict] = []
        self.skipped_overlap = 0
        self._worker = None

    def after_epoch(self, epoch_id: int) -> None:
        if (epoch_id + 1) % self.every_epochs:
            return
        if self.inline:
            self._sweep(epoch_id)
            return
        if self._worker is not None and self._worker.is_alive():
            self.skipped_overlap += 1
            return
        import threading

        self._worker = threading.Thread(
            target=self._sweep, args=(epoch_id,), daemon=True,
            name=f"manifest-maintenance-{epoch_id}")
        self._worker.start()

    def wait(self, timeout: float | None = None) -> None:
        """Block until an in-flight background sweep finishes (tests,
        orderly shutdown)."""
        if self._worker is not None:
            self._worker.join(timeout)

    def _sweep(self, epoch_id: int) -> None:
        report = {"epoch": epoch_id, "swept_at": time.time()}
        try:
            report["tables"] = run_maintenance(
                self.spark, self.base, **self.sweep_kwargs)
        except Exception as e:  # noqa: BLE001 — a daemon must not die
            report["error"] = f"{type(e).__name__}: {e}"
        self.reports.append(report)
        del self.reports[:-self.max_reports]


def _canon_stat(v):
    """Canonicalize a footer statistic (or a caller's prune bound) to a
    JSON-storable value whose PYTHON comparison order matches the
    column's true order — the property zone-map pruning rides on.

    - bool/None/bytes → None (no zone map for these)
    - int/float → as-is (numeric order)
    - str → as-is (both sides compare with the same str ordering)
    - Decimal → float, WIDENED one ulp outward by the caller (numeric
      order, never narrower than the true interval)
    - datetime → tz-aware instants normalize to UTC then drop the
      offset; the emitted naive ISO string (space separator,
      fixed-width date prefix) compares lexically = chronologically on
      both sides. Naive datetimes are taken as already-UTC — mixing
      naive bounds against tz-aware data assumes that convention.
    Anything else → None (unknown ordering — safer to keep the batch
    than to prune on a stringified type whose lexical order diverges
    from its real order, e.g. Decimal('9') > Decimal('10') as strings).
    """
    import datetime as _dt
    import decimal as _dec

    if isinstance(v, bool) or v is None or isinstance(v, bytes):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dec.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _widen(v, lo_side: bool):
    """One-ulp outward widening for float-canonicalized stats, so a
    lossy Decimal→float rounding can never shrink the true interval."""
    import math

    if isinstance(v, float):
        return math.nextafter(v, -math.inf if lo_side else math.inf)
    return v


def _one_file_stats(md, max_cols: int = 32) -> dict:
    """{col: [min, max]} from ONE parquet file's footer metadata — a
    column qualifies only if EVERY row group carries min/max (one
    stats-less chunk means partial coverage, and pruning on partial
    coverage silently loses rows). Shared by the driver-side batch
    walk (_footer_stats) and the DataSource writer's executor-side
    per-task stats (datasource.py), so both sides canonicalize and
    widen identically."""
    mins: dict = {}
    maxs: dict = {}
    chunks_seen: dict = {}
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                lo = _widen(_canon_stat(st.min), True)
                hi = _widen(_canon_stat(st.max), False)
            except Exception:
                continue
            if lo is None or hi is None:
                continue
            name = col.path_in_schema
            if name not in mins and len(mins) >= max_cols:
                continue
            chunks_seen[name] = chunks_seen.get(name, 0) + 1
            mins[name] = lo if name not in mins \
                else min(mins[name], lo)
            maxs[name] = hi if name not in maxs \
                else max(maxs[name], hi)
    return {c: [mins[c], maxs[c]] for c in mins
            if chunks_seen[c] == md.num_row_groups}


def _footer_stats(path: str, fmt: str, max_cols: int = 32,
                  max_files: int = 64
                  ) -> tuple[dict | None, list | None, int | None]:
    """Zone maps and the row count from parquet FOOTERS only (no data
    pages read, no Spark job): (batch_stats, file_stats, rows).

    - batch_stats: {col: [min, max]} across every row group of every
      file — the manifest-entry zone map read() uses to skip whole
      batch directories (the Raptor per-shard min/max analog,
      RaptorDatabaseHandler.java — K1's per-shard stats).
    - file_stats: [{"path": rel, "stats": {col: [min, max]}}...] — the
      Delta-style per-file skipping granularity; with range-clustered
      writes the files carry disjoint ranges, so a key-range read opens
      ~1 file. Omitted (None) past ``max_files`` to bound manifest
      size — batch-level pruning still applies.
    - rows: the sum of every footer's ``num_rows``, zero-row files
      included — the batch's exact row count.

    ORC, and a path that is not a local directory, return
    (None, None, None): never pruned, always read, counted by the
    caller. A column
    qualifies at a granularity only if EVERY row group in its scope
    carries min/max — one stats-less chunk (all-null chunk, writer
    with statistics disabled, pyarrow-unextractable physical type)
    means partial coverage, and pruning on partial coverage silently
    loses rows."""
    if fmt != "parquet" or not os.path.isdir(path):
        return None, None, None
    import pyarrow.parquet as pq

    per_file: list = []
    rows = 0
    for root, _, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root, fn)
            md = pq.ParquetFile(full).metadata
            rows += md.num_rows
            if md.num_rows == 0:
                # a zero-row file (empty upstream partition) has no
                # stats and no rows to lose: keeping it would void the
                # batch zone map (stats must cover EVERY listed file)
                # and always survive file pruning — drop it from the
                # scan list instead
                continue
            per_file.append({"path": os.path.relpath(full, path),
                             "stats": _one_file_stats(md, max_cols)})
    if not per_file:
        return None, None, rows
    # batch level: a column must be fully covered in EVERY file
    batch: dict = {}
    common = set(per_file[0]["stats"])
    for f in per_file[1:]:
        common &= set(f["stats"])
    for c in common:
        batch[c] = [min(f["stats"][c][0] for f in per_file),
                    max(f["stats"][c][1] for f in per_file)]
    files = per_file if len(per_file) <= max_files else None
    return (batch or None), files, rows


def _bloom_build(spark: SparkSession, path: str, fmt: str,
                 entry: dict, cols: list[str],
                 bits_per_row: int = 10, k: int = 7) -> None:
    """Per-file Bloom filters for point-lookup file skipping — the
    shape zone maps cannot cover: a scattered key (user id in a
    takedown, string or numeric alike) overlaps every file's [min,
    max] yet lives in almost none of them. One Spark job per column
    computes ``pmod(xxhash64(col, seed), m)`` for k seeds, aggregates
    DISTINCT bit positions per file (map-side partial collect_set, so
    the shuffle carries ≤ m ints per file regardless of row count),
    and the driver writes each file's bitset as a sidecar under
    ``<batch>/_bloom/`` — underscore-prefixed, so Spark's scans never
    see it, and it travels/dies with the batch dir. The manifest entry
    stores only {m, k, dt} per column (metadata stays tiny; the bytes
    live data-adjacent, the Iceberg-puffin shape).

    ``dt`` records the column's Spark type because xxhash64 hashes the
    TYPED value — a probe must cast its literal to the same type or
    the hash (and the skip) would be garbage."""
    files = entry.get("files")
    if not files:
        return                  # no per-file granularity to attach to
    rows = max(1, entry.get("rows", 1))
    m = max(1024, min(1 << 23, rows * bits_per_row))
    dts = dict()
    src = spark.read.option("basePath", path).format(fmt).load(path)
    for f_ in src.schema.fields:
        dts[f_.name] = f_.dataType.simpleString()
    bloom_dir = os.path.join(path, "_bloom")
    for col in cols:
        if col not in dts:
            raise ValueError(f"bloom_for column {col!r} not in batch")
        pos = F.array(*[
            F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m))
            for s in range(k)])
        agg = (src.filter(F.col(col).isNotNull())
               .select(F.input_file_name().alias("_f"),
                       F.explode(pos).alias("_p"))
               .groupBy("_f").agg(F.collect_set("_p").alias("ps"))
               ).collect()
        from urllib.parse import unquote, urlparse

        by_rel = {}
        for r in agg:
            # input_file_name() returns a percent-encoded URI; decode
            # through urlparse so paths with spaces/special characters
            # still line up with the manifest's filesystem relpaths
            # (a mismatch here would write all-zero blooms that skip
            # every file)
            fpath = unquote(urlparse(r["_f"]).path) or r["_f"]
            by_rel[os.path.relpath(fpath, path)] = r["ps"]
        listed = {f["path"] for f in files}
        if by_rel and not (set(by_rel) & listed):
            raise ValueError(
                "bloom build cannot map scanned files to manifest "
                f"paths under {path!r} — refusing to write filters "
                "that would skip everything")
        os.makedirs(bloom_dir, exist_ok=True)
        for f in files:
            bits = bytearray((m + 7) // 8)
            for p in by_rel.get(f["path"], ()):
                bits[p >> 3] |= 1 << (p & 7)
            with open(os.path.join(
                    bloom_dir, _bloom_name(f["path"], col)), "wb") as fh:
                fh.write(bytes(bits))
            f.setdefault("bloom", {})[col] = {
                "m": m, "k": k, "dt": dts[col]}


def _bloom_name(rel: str, col: str) -> str:
    return rel.replace(os.sep, "__") + "." + col + ".bloom"


def _bloom_probe(spark: SparkSession, values: dict[str, tuple],
                 k_max: int = 7) -> dict[str, list[int]]:
    """Raw seeded hashes for probe values: {col: [xxhash64(cast(value,
    dt), seed) for seed in 0..k)]} via a 1-row Spark job, so the JVM's
    xxhash64 — not a Python reimplementation — produces the bits.
    ``values`` maps col → (value, dt)."""
    if not values:
        return {}
    exprs = []
    names = []
    for col, (v, dt) in values.items():
        for s in range(k_max):
            exprs.append(F.xxhash64(F.lit(v).cast(dt), F.lit(s))
                         .alias(f"{col}__{s}"))
            names.append((col, s))
    row = spark.range(1).select(*exprs).first()
    out: dict[str, list[int]] = {}
    for (col, _s), val in zip(names, row):
        out.setdefault(col, []).append(val)
    return out


def _bloom_passes(batch_path: str, f: dict,
                  probes: dict[str, list[int]]) -> bool:
    """False only when some probed column's sidecar bloom proves the
    point value absent from this file. Missing/unreadable sidecars,
    type mismatches, or absent blooms keep the file — skipping is an
    optimization, never a correctness filter."""
    meta = f.get("bloom")
    if not meta or not probes:
        return True
    for col, hashes in probes.items():
        spec = meta.get(col)
        if not spec:
            continue
        try:
            with open(os.path.join(batch_path, "_bloom",
                                   _bloom_name(f["path"], col)),
                      "rb") as fh:
                bits = fh.read()
        except OSError:
            continue
        m, k = spec["m"], spec["k"]
        if len(bits) != (m + 7) // 8:
            continue
        hit = True
        for h in hashes[:k]:
            p = h % m           # Python % matches pmod for m > 0
            if not bits[p >> 3] & (1 << (p & 7)):
                hit = False
                break
        if not hit:
            return False
    return True


def _tz_normalize_prune(spark: SparkSession | None,
                        prune: dict | None) -> dict | None:
    """Normalize a caller's prune bounds to the UTC-instant convention
    the stored zone maps use (parquet footer timestamps are UTC
    instants; _canon_stat emits them as naive UTC ISO strings).

    Spark renders and filters timestamps in the SESSION time zone, so
    a caller who passes the same naive datetime they use in their row
    filter means a session-local instant, not a UTC one. Interpreting
    it as UTC on a non-UTC session could prune a batch that contains
    matching rows — silent data loss, because prune callers rely on
    their predicate running over the pruned scan. Naive datetime
    bounds are therefore converted FROM the active session time zone
    TO UTC here (a no-op on UTC sessions); tz-aware bounds already
    normalize inside _canon_stat. An unresolvable session zone keeps
    the bound unconverted (the documented already-UTC convention)."""
    import datetime as _dt

    if not prune or not any(
            isinstance(b, _dt.datetime) and b.tzinfo is None
            for lo_hi in prune.values() for b in lo_hi):
        return prune
    tz = None
    if spark is not None:
        try:
            from zoneinfo import ZoneInfo
            tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
        except Exception:  # noqa: BLE001 — unresolvable zone: keep UTC
            tz = None
    if tz is None:
        return prune

    def conv(b):
        if isinstance(b, _dt.datetime) and b.tzinfo is None:
            return (b.replace(tzinfo=tz)
                    .astimezone(_dt.timezone.utc).replace(tzinfo=None))
        return b

    return {c: (conv(lo), conv(hi)) for c, (lo, hi) in prune.items()}


def _stats_overlap(stats: dict, prune: dict) -> bool:
    """True unless some pruned column's stored [min, max] is disjoint
    from the requested (lo, hi) interval (None bound = unbounded). A
    scope with no stats for the column is kept — pruning is only ever
    an optimization, never a correctness filter. Bounds pass through
    the same canonicalization as write-time stats (datetime/date →
    ISO string, Decimal → float), so callers prune timestamps with
    datetime objects directly; a bound whose canonical type still
    differs from the stored stat's type keeps the scope."""
    for col, (lo, hi) in prune.items():
        if col not in stats:
            continue
        bmin, bmax = stats[col]
        # widen canonicalized bounds OUTWARD: a Decimal bound above
        # 2^53 can round past the true value under float conversion,
        # and pruning must never be narrower than the caller asked
        lo = _widen(_canon_stat(lo), True)
        hi = _widen(_canon_stat(hi), False)
        num = (int, float)

        def _comparable(bound, stat):
            return (isinstance(bound, num) and isinstance(stat, num)) \
                or (isinstance(bound, str) and isinstance(stat, str))

        if lo is not None and _comparable(lo, bmax) and bmax < lo:
            return False
        if hi is not None and _comparable(hi, bmin) and bmin > hi:
            return False
    return True


def _batch_overlaps(manifest: dict, prune: dict) -> bool:
    return _stats_overlap(manifest.get("stats") or {}, prune)


def _point_probes(spark: SparkSession, manifests: list[dict],
                  prune: dict | None) -> dict[str, list[int]]:
    """Bloom probe hashes for every pruned column bound that is a
    POINT (lo == hi) and has a bloom spec somewhere in the scan —
    empty dict otherwise (zone maps alone)."""
    if not prune:
        return {}
    import datetime as _dt

    vals: dict[str, tuple] = {}
    for col, (lo, hi) in prune.items():
        if lo is None or hi is None or lo != hi:
            continue
        # datetime probes are skipped: the tz-normalized naive bound
        # would be RE-interpreted in the session zone by F.lit() on
        # its way to the hash, so the probed bits could differ from
        # the build-side bits of the true instants — and a false
        # "definitely absent" silently loses rows. Zone maps already
        # prune time ranges; blooms are for ids/strings. (date objects
        # are calendar values, tz-free, and stay probe-able.)
        if isinstance(lo, _dt.datetime):
            continue
        for m in manifests:
            spec = next((f["bloom"][col] for f in m.get("files") or []
                         if col in (f.get("bloom") or {})), None)
            if spec:
                vals[col] = (lo, spec["dt"])
                break
    return _bloom_probe(spark, vals) if vals else {}


class ManifestedTable:
    """Atomically-committed parquet/ORC table at ``base/project/collection``."""

    def __init__(self, base: str, project: str, collection: str,
                 max_commit_retries: int = 20,
                 meta: MetadataStore | None = None) -> None:
        self.table_dir = f"{base}/{project}/{collection}"
        self.batches_dir = f"{self.table_dir}/_batches"
        self.versions_dir = f"{self.table_dir}/_versions"
        self.max_commit_retries = max_commit_retries
        # the metadata seam: version files, listings, and gc deletes go
        # through here (MetadataStore docstring maps each op to its
        # object-store equivalent); Spark/pyarrow data paths do not
        self.meta = meta or LocalMetadataStore()
        self._log = VersionLog(self.versions_dir, self.meta)
        #: the manifest entry the last write() committed; its ``rows``
        #: is the batch's exact count, so a caller accounting per
        #: commit reads it instead of counting the frame again
        self.last_entry: dict | None = None

    # -- version protocol (the shared VersionLog, batch-set states) ----------

    def _version_numbers(self) -> list[int]:
        return self._log.numbers()

    def current_version(self) -> int:
        """Highest committed version; 0 = empty table."""
        return self._log.latest()

    def _read_version(self, n: int) -> dict:
        if n == 0:
            return {"version": 0, "batches": []}
        return self._log.read(n)

    def _try_commit(self, next_n: int, state: dict) -> bool:
        return self._log.try_commit(next_n, state)

    _CORE_STATE = ("version", "parent", "committed_at", "batches")

    def _commit(self, mutate, extra: dict | None = None) -> dict:
        """OCC loop: read current state, apply ``mutate(live_batches) ->
        new_batches``, try to publish; on a race, re-read and retry.
        Non-core state fields (table properties — e.g. ``constraints``)
        are carried forward from the current version so every commit
        path preserves them; ``extra`` overrides/installs fields on
        top (the property-mutation hook). A callable ``extra`` is
        re-evaluated against each attempt's CURRENT state — property
        mutations must derive from in-loop state or two racing
        add_constraint calls would silently drop one (the same
        lost-update rule mutate() already follows for batches)."""
        for _ in range(self.max_commit_retries):
            n = self.current_version()
            cur = self._read_version(n)
            state = {k: v for k, v in cur.items()
                     if k not in self._CORE_STATE}
            ext = extra(cur) if callable(extra) else extra
            if ext:
                state.update(ext)
            state.update({"version": n + 1, "parent": n,
                          "committed_at": time.time(),
                          "batches": mutate(list(cur["batches"]))})
            if self._try_commit(n + 1, state):
                return state
        raise CommitConflict(
            f"lost {self.max_commit_retries} consecutive version races "
            f"under {self.table_dir}")

    # -- write --------------------------------------------------------------

    @staticmethod
    def _zorder_expr(df: DataFrame, cols: list[str], bits: int = 6):
        """Z-value column: per key, an approx-quantile bucket rank in
        ``[0, 2^bits)`` (computed once per column — a bounded driver
        collect of ≤ 2^bits-1 cut points, the same sampling pass
        Delta's OPTIMIZE ZORDER runs), bit-interleaved across keys so
        nearby z-values are nearby in EVERY key. Rank-based bucketing
        (not equal-width) keeps skewed keys from collapsing into one
        bucket. Numeric, date, and timestamp keys cluster; other types
        raise — a lexical type has no cheap order-preserving rank here
        and silently hashing it would destroy the locality the caller
        asked for."""
        dtypes = dict(df.dtypes)
        probs = [i / (1 << bits) for i in range(1, 1 << bits)]
        nums = []
        for c in cols:
            dt = dtypes[c]
            if dt == "date":
                num = F.datediff(F.col(c), F.lit("1970-01-01")) \
                    .cast("double")
            elif dt.startswith("timestamp") \
                    or dt in ("tinyint", "smallint", "int", "bigint",
                              "float", "double") \
                    or dt.startswith("decimal"):
                num = F.col(c).cast("double")
            else:
                raise ValueError(
                    f"zorder key {c!r} has type {dt} — only numeric/"
                    "date/timestamp keys have an order-preserving rank")
            nums.append(num)
        # ONE sampling pass for every key (approxQuantile takes a
        # column list) — per-key calls would re-scan the input per key
        names = [f"_z{i}" for i in range(len(nums))]
        all_cuts = df.select(*[n.alias(a) for n, a in zip(nums, names)]) \
            .approxQuantile(names, probs, 1.0 / (4 << bits))
        buckets = []
        for num, cuts in zip(nums, all_cuts):
            arr = F.array(*[F.lit(float(b)) for b in sorted(set(cuts))])
            buckets.append(F.size(F.filter(arr, lambda b: b <= num))
                           .cast("long"))
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for ci, bucket in enumerate(buckets):
                pos = bit * len(buckets) + ci
                z = z.bitwiseOR(F.shiftleft(
                    F.shiftright(bucket, bit).bitwiseAND(F.lit(1)), pos))
        return z

    @staticmethod
    def _clustered(df: DataFrame, cluster_by: list[str] | None,
                   n_files: int | None,
                   mode: str = "range") -> DataFrame:
        """Cluster the batch so its files prune maximally — the
        pay-once step behind Delta's OPTIMIZE (Z)ORDER / Raptor's
        temporal shard organizer.

        ``mode="range"``: range-partition + sort on the key tuple —
        files carry DISJOINT ranges of the FIRST key (a key-range scan
        opens ~1 file); later keys only break ties.
        ``mode="zorder"``: range-partition + sort on the interleaved
        z-value — every file covers a small hyper-rectangle, so
        single-key predicates on ANY of the keys skip most files (the
        multi-dimensional trade: no key gets the ~1-file guarantee,
        every key gets a ~n^(1-1/k) one)."""
        if not cluster_by:
            return df
        if mode == "zorder":
            if len(cluster_by) < 2:
                raise ValueError("zorder needs ≥ 2 keys — use range "
                                 "clustering for a single key")
            cols = [ManifestedTable._zorder_expr(df, cluster_by)]
        elif mode == "range":
            cols = [F.col(c) for c in cluster_by]
        else:
            raise ValueError(f"unknown cluster mode {mode!r}")
        n = n_files or df.sparkSession.sparkContext.defaultParallelism
        return (df.repartitionByRange(n, *cols)
                .sortWithinPartitions(*cols))

    def write(self, df: DataFrame, batch_id: str | None = None,
              fmt: str = "parquet", partition_by_day: bool = True,
              cluster_by: list[str] | None = None,
              n_files: int | None = None,
              cluster_mode: str = "range",
              bloom_for: list[str] | None = None) -> str:
        """Write one batch and commit it atomically. Returns the batch
        id. Re-running with the same ``batch_id`` (an at-least-once
        retry) replaces the batch instead of duplicating it — by
        writing a FRESH physical directory and swapping it in at
        commit, so a reader pinned to the current version never sees
        its files deleted mid-scan (the previous physical dir becomes
        an orphan for gc()). ``cluster_by`` range-clusters the batch on
        the given key(s) into ``n_files`` files with disjoint key
        ranges (see _clustered)."""
        bid = batch_id or uuid.uuid4().hex
        if "/" in bid or bid.startswith("."):
            raise ValueError(f"invalid batch_id: {bid!r}")
        out = df
        if partition_by_day and "_time" in df.columns:
            out = out.withColumn("_day", F.to_date("_time"))
        fields = json.loads(out.schema.json())["fields"]
        # fail fast before writing files; re-validated inside the OCC
        # loop below against each attempt's ACTUAL live set, closing
        # the window where two concurrent writers both pass a
        # snapshot-time check and commit conflicting types
        self._check_evolution(self.committed(), fields, replacing=bid)
        out = self._enforce_constraints(out)
        out = self._clustered(out, cluster_by, n_files, cluster_mode)
        entry = self._write_batch_files(
            out, bid, fmt,
            partition=partition_by_day and "_day" in out.columns)
        if bloom_for:
            _bloom_build(df.sparkSession,
                         f"{self.batches_dir}/{entry['dir']}", fmt,
                         entry, bloom_for)

        self._commit_entry(entry)
        return bid

    def _commit_entry(self, entry: dict) -> None:
        """Publish ``entry`` in the next version, replacing any live
        batch with its id (an at-least-once retry); the add-only schema
        check re-runs against each OCC attempt's live set."""
        bid, fields = entry["batch"], entry["schema"]["fields"]

        def mutate(live):
            self._check_evolution(live, fields, replacing=bid)
            return [b for b in live if b["batch"] != bid] + [entry]

        self._commit(mutate)
        self.last_entry = entry

    def _write_batch_files(self, out: DataFrame, bid: str, fmt: str,
                           rows: int | None = None,
                           partition: bool | None = None) -> dict:
        """Write one batch's files to a fresh physical dir and build
        its manifest entry (schema + zone maps) — NO commit; callers
        fold the entry into their own version commit. ``partition``
        defaults to "_day is present" (the rewrite paths reproduce the
        layout they read); write() passes its partition_by_day intent
        so an explicit opt-out is honored even when the caller's frame
        carries its own _day column."""
        pdir = f"{bid}--{uuid.uuid4().hex[:8]}"
        path = f"{self.batches_dir}/{pdir}"
        writer = out.write.mode("overwrite").format(fmt)
        if partition is None:
            partition = "_day" in out.columns
        if partition:
            writer = writer.partitionBy("_day")
        writer.save(path)
        entry = self._entry_of(bid, pdir, fmt, json.loads(out.schema.json()),
                               rows)
        if entry["rows"] is None:
            # ORC: no footer walk, so a Spark count over the written
            # files (schema inference + count, two jobs)
            entry["rows"] = out.sparkSession.read.format(fmt) \
                .load(path).count()
        return entry

    def _entry_of(self, bid: str, pdir: str, fmt: str, schema: dict,
                  rows: int | None = None) -> dict:
        """The manifest entry of the batch files already written under
        ``batches_dir/pdir``: zone maps, the file list and, unless the
        caller counted them, the rows from the parquet footers (None
        for ORC)."""
        stats, files, footer_rows = _footer_stats(
            f"{self.batches_dir}/{pdir}", fmt)
        entry = {"batch": bid, "dir": pdir,
                 "rows": footer_rows if rows is None else rows,
                 "format": fmt, "schema": schema}
        if stats:
            entry["stats"] = stats
        if files:
            entry["files"] = files
        return entry

    def adopt(self, staged: str, batch_id: str, schema: dict,
              fmt: str = "parquet") -> dict:
        """Commit, as batch ``batch_id``, the files another job already
        wrote under the local directory ``staged`` (hive ``_day=…``
        partitions or flat files): the directory is renamed into a
        fresh ``_batches/<batch_id>--<uuid8>`` dir, so the batch has the
        layout write() gives it, then committed as write() commits.
        ``schema`` is the entry's column order, which readers restore
        (``_read_batches``) when the files carry another. A missing
        ``staged`` dir is a zero-row batch. Returns the entry."""
        pdir = f"{batch_id}--{uuid.uuid4().hex[:8]}"
        target = f"{self.batches_dir}/{pdir}"
        os.makedirs(self.batches_dir, exist_ok=True)
        if os.path.isdir(staged):
            os.rename(staged, target)
        else:
            os.makedirs(target)
        entry = self._entry_of(batch_id, pdir, fmt, schema)
        if entry["rows"] == 0:
            entry["files"] = []          # authoritative: nothing to scan
        self._commit_entry(entry)
        return entry

    @staticmethod
    def _check_evolution(live: list[dict], fields: list[dict],
                         replacing: str | None = None) -> None:
        """Add-only schema evolution (the reference metastore's rule,
        `ingest/catalog.py` semantics at the table-commit layer): a new
        batch may ADD columns, but a column shared with any live batch
        must keep its exact type — a silent int→string flip would fail
        only at read time, in whichever reader happens to union the
        two. Validated against a CALLER-SUPPLIED live set so commit
        loops can re-check each OCC attempt. Type COERCION is the
        ingest layer's job (ingest/rules.py); by the time data reaches
        the sink its types are settled."""
        have = {}
        for m in live:
            if m["batch"] == replacing:
                continue    # a replayed batch may carry a corrected type
            for f in (m.get("schema") or {}).get("fields", []):
                have.setdefault(f["name"], (f["type"], m["batch"]))
        for f in fields:
            prior = have.get(f["name"])
            if prior is not None and prior[0] != f["type"]:
                raise ValueError(
                    f"schema evolution conflict on column "
                    f"{f['name']!r}: batch {prior[1]!r} committed type "
                    f"{prior[0]}, new batch has {f['type']} — evolution "
                    f"is add-only; coerce upstream (ingest/rules.py)")

    def _cow_rewrite(self, spark: SparkSession, inputs: list[dict],
                     transform, prune: dict | None,
                     fmt: str) -> tuple[dict, dict, dict]:
        """Shared copy-on-write engine for delete_where/upsert: for
        each input batch either skip it (zone-map-disjoint, or
        ``transform`` returns None) or rewrite it without its matched
        rows. Returns (replacements, orig_dirs, counters) —
        replacements maps batch id → new entry (None = drop), and
        orig_dirs records each touched batch's snapshot directory so
        the commit can detect a concurrent replacement instead of
        silently losing the rewrite."""
        kept = rewritten = dropped = removed = 0
        replacements: dict[str, dict | None] = {}
        orig_dirs: dict[str, str] = {}
        # point bounds probe per-file blooms: a batch none of whose
        # files may contain the key skips the rewrite entirely (the
        # scattered-key takedown shape zone maps can't prune)
        bloom = _point_probes(spark, inputs, prune)
        for m in inputs:
            if prune and not _batch_overlaps(m, prune):
                kept += 1
                continue
            if bloom and m.get("files"):
                bpath = self._batch_path(m)
                if not any(_bloom_passes(bpath, f, bloom)
                           for f in m["files"]):
                    kept += 1
                    continue
            src = self._read_batches(spark, [m])
            if src is None:          # zero-row commit: nothing to edit
                kept += 1
                continue
            out = transform(src)
            if out is None:
                kept += 1
                continue
            rows = out.count()
            if rows == m.get("rows"):
                kept += 1
                continue
            removed += m.get("rows", 0) - rows
            orig_dirs[m["batch"]] = self._dir_of(m)
            if rows == 0:
                dropped += 1
                replacements[m["batch"]] = None
                continue
            replacements[m["batch"]] = self._write_batch_files(
                out, m["batch"], fmt, rows=rows)
            rewritten += 1
        return replacements, orig_dirs, {
            "rewritten": rewritten, "kept": kept, "dropped": dropped,
            "removed": removed}

    def _swap_mutate(self, replacements: dict, orig_dirs: dict,
                     extra: dict | None = None,
                     extra_fields: list[dict] | None = None,
                     snapshot_dirs: dict | None = None,
                     conflict_prune: dict | None = None):
        """Mutate callback swapping rewritten batches in by IDENTITY:
        a touched batch whose directory changed since the snapshot (a
        concurrent compact/retry replaced it) raises CommitConflict —
        losing a takedown or resurrecting pre-delete data silently is
        never acceptable. ``extra`` appends a new batch in the same
        commit (upsert's insert), re-validating schema evolution
        against each attempt's live set.

        ``snapshot_dirs`` ({batch id → dir} for EVERY input the DML
        read) + ``conflict_prune`` ({key: (lo, hi)} canonical bounds)
        add the Delta-style write-write conflict check: a batch the
        snapshot never saw (added concurrently) or whose directory
        changed since (replaced concurrently) whose zone map OVERLAPS
        the DML's key range — or that carries no stats for the key,
        which cannot be proven disjoint — raises CommitConflict
        instead of committing a lost update (e.g. a MERGE landing
        beside a concurrent insert of the same key would otherwise
        leave two live rows for one key). Key-DISJOINT concurrent
        writes still commit."""

        def mutate(live):
            seen: set[str] = set()
            out_live = []
            for b in live:
                bid = b["batch"]
                if bid in replacements:
                    if self._dir_of(b) != orig_dirs.get(bid):
                        raise CommitConflict(
                            f"batch {bid!r} was replaced concurrently "
                            f"— re-run against the new table state")
                    seen.add(bid)
                    rep = replacements[bid]
                    if rep is not None:
                        out_live.append(rep)
                elif extra is not None and bid == extra["batch"]:
                    continue               # retry replaces its own batch
                else:
                    if conflict_prune is not None \
                            and snapshot_dirs is not None \
                            and snapshot_dirs.get(bid) != self._dir_of(b) \
                            and _stats_overlap(b.get("stats") or {},
                                               conflict_prune):
                        raise CommitConflict(
                            f"batch {bid!r} committed concurrently and "
                            f"overlaps this DML's key range — re-run "
                            f"against the new table state")
                    out_live.append(b)
            gone = set(replacements) - seen
            if gone:
                raise CommitConflict(
                    f"batches {sorted(gone)} left the live set "
                    f"concurrently — re-run against the new table state")
            if extra is not None:
                self._check_evolution(out_live, extra_fields or [],
                                      replacing=extra["batch"])
                out_live = out_live + [extra]
            return out_live

        return mutate

    # -- read ---------------------------------------------------------------

    def committed(self) -> list[dict]:
        """Live batch manifests of the current version."""
        return self._read_version(self.current_version())["batches"]

    def rows(self, version: int | None = None) -> int:
        """Row count from manifest metadata alone — no file access (the
        write path already counted each batch from its footers)."""
        if version is None:
            version = self.current_version()
        return sum(m.get("rows", 0)
                   for m in self._read_version(version)["batches"])

    @staticmethod
    def _dir_of(m: dict) -> str:
        return m.get("dir", m["batch"])

    def _batch_path(self, m: dict) -> str:
        """Physical directory of a batch: this table's own batches dir
        or, for manifests carrying a ``base`` (shallow clones —
        clone_from), the foreign table's. gc()/orphans() deliberately
        do NOT use this: they list only the LOCAL batches dir, so a
        clone can never delete its source's files."""
        return f"{m.get('base', self.batches_dir)}/{self._dir_of(m)}"

    def _read_batches(self, spark: SparkSession, manifests: list[dict],
                      prune: dict | None = None,
                      bloom: dict | None = None) -> DataFrame | None:
        """Union the batches' scans. A manifest-listed file set is
        AUTHORITATIVE when present: only those files are scanned (the
        DataSource stream writer re-uses one epoch dir across retry
        attempts, so unlisted files in a batch dir may be dead attempt
        garbage, and zero-row upstream partitions are never listed at
        all); ``prune`` then drops listed files whose [min, max] zone
        map is disjoint from the interval (basePath keeps partition
        columns) — file-level skipping on top of batch-level. Batches
        with no file list (ORC, >max_files) scan their whole dir.
        Returns None when pruning leaves nothing."""
        dfs = []
        for m in manifests:
            path = self._batch_path(m)
            target: str | list[str] = path
            files = m.get("files")
            if files is not None:
                keep = [f for f in files
                        if (not prune
                            or _stats_overlap(f["stats"], prune))
                        and (not bloom
                             or _bloom_passes(path, f, bloom))]
                if not keep:
                    continue
                target = [os.path.join(path, f["path"]) for f in keep]
            df = spark.read.option("basePath", path) \
                .format(m["format"]).load(target)
            # a batch adopted from a grouped write stores its columns
            # name-sorted; the entry schema holds the order to return
            names = [f["name"] for f in (m.get("schema") or {})
                     .get("fields", [])]
            if names != df.columns and sorted(names) == sorted(df.columns):
                df = df.select(*names)
            dfs.append(df)
        if not dfs:
            return None
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d, allowMissingColumns=True)
        return df

    @property
    def tags(self) -> dict[str, int]:
        """Named version pins: {tag: version} (Iceberg tag shape)."""
        return dict(self._read_version(self.current_version())
                    .get("tags") or {})

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under a NAME (Iceberg's tag): ``read(spark,
        version=t.tags["name"])`` — or ``read(version="name")``
        directly — time-travels to it long after the version number
        stopped being memorable; ``gc()`` keeps every TAGGED version's
        files regardless of keep_versions, so a tag is also a
        retention pin (audit snapshots, reproducibility anchors for a
        training run's exact input). Stored as a table property and
        carried across every commit — but NOT copied by clone_from
        (tag values are version numbers of THIS table's history; in a
        clone's fresh single-version history they would dangle).
        Re-tagging an existing name moves it; same lost-update-safe
        in-loop derivation as the constraint mutators."""
        if not name or name.isdigit():
            raise ValueError(f"tag must be a non-numeric, non-empty "
                             f"name (got {name!r})")
        v = self.current_version() if version is None else version
        if v not in self._version_numbers():
            raise FileNotFoundError(
                f"version {v} not committed (or gc-pruned) under "
                f"{self.table_dir} — cannot tag")
        self._commit(lambda live: live,
                     extra=lambda cur: {"tags": {**(cur.get("tags")
                                                    or {}), name: v}})
        return v

    def drop_tag(self, name: str) -> None:
        if name not in self.tags:
            raise KeyError(f"no tag {name!r} on {self.table_dir}")

        def ext(cur: dict) -> dict:
            tags = dict(cur.get("tags") or {})
            tags.pop(name, None)          # concurrent drop already won
            return {"tags": tags}

        self._commit(lambda live: live, extra=ext)

    def _resolve_version(self, version) -> int:
        if isinstance(version, str):
            tags = self.tags
            if version not in tags:
                raise FileNotFoundError(
                    f"no tag {version!r} on {self.table_dir}")
            return tags[version]
        return version

    def read(self, spark: SparkSession,
             version: int | None = None,
             prune: dict | None = None) -> DataFrame:
        """Union of a committed version's batches — uncommitted or
        orphaned batch directories are invisible, the Raptor-transaction
        reader guarantee. ``version`` time-travels to an older snapshot
        (files survive until gc() drops the version from retention, so
        a pinned historical read stays consistent — the Delta/Iceberg
        ``versionAsOf`` semantics). Raises if nothing is committed or
        the requested version is unknown/pruned.

        ``prune={col: (lo, hi)}`` skips whole batch directories whose
        manifest zone map ([min, max] from write-time parquet footers)
        is disjoint from the interval (None bound = unbounded) — the
        Raptor per-shard min/max shard-pruning analog, one metadata
        lookup instead of opening any pruned batch's files — and then
        skips individual FILES inside surviving batches via the
        per-file zone maps (Delta-style file skipping; with cluster_by
        layouts a key-range read opens ~1 file). Pruning is an
        OPTIMIZATION on the scan list, not a row filter: callers still
        apply their predicate; batches/files without stats always
        read."""
        if version is None:
            version = self.current_version()
        else:
            version = self._resolve_version(version)
            if version not in self._version_numbers():
                raise FileNotFoundError(
                    f"version {version} not committed (or gc-pruned) "
                    f"under {self.table_dir}")
        manifests = self._read_version(version)["batches"]
        if not manifests:
            raise FileNotFoundError(
                f"no committed batches under {self.table_dir}")
        prune = _tz_normalize_prune(spark, prune)
        if prune:
            kept = [m for m in manifests if _batch_overlaps(m, prune)]
            # point bounds additionally probe per-file blooms (one
            # 1-row hash job) — the skip zone maps can't make
            bloom = _point_probes(spark, kept, prune)
            got = self._read_batches(spark, kept, prune, bloom) \
                if kept else None
            # union a zero-row frame carrying the version's FULL column
            # set (from manifest-stored schemas — no file access), so
            # the result schema is identical for EVERY prune interval,
            # including ones that drop the batches holding evolved
            # columns or drop everything
            empty = self._empty_of(spark, manifests)
            if got is None:
                return empty
            return got.unionByName(empty, allowMissingColumns=True)
        got = self._read_batches(spark, manifests)
        if got is None:
            # every batch carries an empty authoritative file list
            # (zero-row commits, e.g. an empty micro-batch through the
            # DataSource writer) — the schema-stable empty frame, not
            # None
            return self._empty_of(spark, manifests)
        return got

    def _empty_of(self, spark: SparkSession,
                  manifests: list[dict]) -> DataFrame:
        """Zero-row DataFrame with the union schema of the batches —
        built from the schemas stored in the manifest entries; falls
        back to an always-false filtered scan for pre-schema manifests
        (metadata-only either way)."""
        from pyspark.sql.types import StructType

        schemas = [m.get("schema") for m in manifests]
        if schemas and all(s is not None for s in schemas):
            dfs = [spark.createDataFrame([], StructType.fromJson(s))
                   for s in schemas]
            df = dfs[0]
            for d in dfs[1:]:
                df = df.unionByName(d, allowMissingColumns=True)
            return df
        return self._read_batches(spark, manifests).filter(F.lit(False))

    def appended_between(self, from_v: int, to_v: int) -> list[dict]:
        """Manifest entries a cursor at ``from_v`` has not seen by
        ``to_v`` — the metadata half of :meth:`changes_since`, shared
        with the streaming DataSource (datasource.py).

        This walks EVERY version transition in ``(from_v, to_v]``
        rather than diffing the two endpoints: an endpoint diff loses
        data when a compaction folds in a batch the cursor never saw
        (append b2 at v+1, compact at v+2 → the compact- output looks
        like pure moved data and b2's rows would silently vanish).
        Per-step, a compact- batch whose id is NEW against the
        PREVIOUS version is skipped (it moves rows that version
        already presented); everything else fresh is collected, and a
        batch rewritten again later in the window collapses to its
        final dir so one result never unions two copies of the same
        batch id. The walk needs each intermediate version retained —
        a gc-pruned gap raises instead of guessing (the same
        cannot-resume-without-data-loss honesty as a pruned cursor).

        A cursor at 0 (a BRAND-NEW consumer) needs no walk at all:
        everything it hasn't seen is exactly version ``to_v``'s live
        set (compact- outputs included — they hold data this consumer
        never received), so only ``to_v`` itself must be retained and
        a gc'd early history never strands a fresh subscriber."""
        if to_v == from_v:
            return []
        if from_v > to_v:
            raise FileNotFoundError(
                f"cursor version {from_v} is ahead of version {to_v} "
                f"under {self.table_dir}")
        known = set(self._version_numbers())
        if from_v == 0:
            if to_v not in known:
                raise FileNotFoundError(
                    f"version {to_v} not committed (or gc-pruned) "
                    f"under {self.table_dir}")
            return list(self._read_version(to_v)["batches"])
        for v in range(from_v, to_v + 1):
            if v not in known:
                raise FileNotFoundError(
                    f"version {v} not committed (or gc-pruned) under "
                    f"{self.table_dir} — incremental read cannot "
                    f"cover ({from_v}, {to_v}] without data loss")
        out: dict[str, dict] = {}
        prev = self._read_version(from_v)["batches"]
        for v in range(from_v + 1, to_v + 1):
            prev_keys = {(m["batch"], self._dir_of(m)) for m in prev}
            prev_ids = {b for b, _ in prev_keys}
            cur = self._read_version(v)["batches"]
            for m in cur:
                if (m["batch"], self._dir_of(m)) in prev_keys:
                    continue
                if m["batch"].startswith("compact-") \
                        and m["batch"] not in prev_ids:
                    continue       # moved data, not new data
                out[m["batch"]] = m
            prev = cur
        return list(out.values())

    def changes_since(self, spark: SparkSession,
                      version: int) -> tuple[DataFrame | None, int]:
        """Incremental read (the Delta Change-Data-Feed append shape):
        ``(appended_rows, current_version)`` — every batch appended (or
        rewritten) after ``version`` that the cursor has not seen,
        computed by the per-transition walk of
        :meth:`appended_between`. Returns ``(None, current)`` when
        nothing new landed. Drive it as a polling cursor::

            cur = 0
            while True:
                df, cur = t.changes_since(spark, cur)
                if df is not None: process(df)

        Append-feed semantics: a batch REWRITTEN by upsert/delete_where
        (same id, new dir) reappears in full — the consumer sees the
        post-DML rows again and must be idempotent on the batch id
        (exactly the at-least-once contract the streaming sink's
        epoch-keyed writes already assume); for an ADVANCED cursor a
        compaction's output never reappears (it moves rows an
        already-walked version presented) and rows appended then fully
        erased inside one polling window still surface once (the feed
        reports appends, not deletes — a takedown pipeline consumes
        snapshots, not this feed). A cursor at 0 — a brand-new
        consumer — receives exactly the CURRENT snapshot: compaction
        outputs ARE delivered (they hold data it never saw, possibly
        under compact- batch ids) and rows erased before its first
        poll are NOT replayed (a new subscriber never receives
        taken-down data; this also keeps cursor 0 usable after gc
        prunes the early history).
        Physically this is metadata diff + a pruned union scan — no
        data is read for batches the cursor already covered."""
        cur = self.current_version()
        if version == cur:
            return None, cur
        fresh = self.appended_between(version, cur)
        if not fresh:
            return None, cur
        return self._read_batches(spark, fresh), cur

    def restore(self, version: int) -> int:
        """Make an older snapshot the WRITABLE head (Delta's RESTORE):
        publish a NEW version whose batch set is ``version``'s —
        history is never rewritten, the rollback is itself an audited
        commit, and readers pinned to intermediate versions keep
        working. Goes through the same OCC CAS as every writer, so a
        concurrent append either lands before the restore (and is
        rolled back with everything else) or after (on top of the
        restored state) — never interleaved. The restored batches'
        dirs exist as long as ``version`` itself is still retained
        (gc keeps every dir a retained version references), which the
        version lookup enforces."""
        if version not in self._version_numbers():
            raise FileNotFoundError(
                f"version {version} not committed (or gc-pruned) "
                f"under {self.table_dir} — cannot restore")
        batches = self._read_version(version)["batches"]

        def mutate(live):
            return list(batches)

        return self._commit(mutate)["version"]

    @property
    def constraints(self) -> dict[str, str]:
        """Current CHECK constraints: {name: boolean SQL expression}."""
        return dict(self._read_version(self.current_version())
                    .get("constraints") or {})

    def add_constraint(self, name: str, expr: str,
                       spark: SparkSession | None = None) -> None:
        """Install a CHECK constraint (Delta's ALTER TABLE ADD
        CONSTRAINT shape): every subsequent ``write()`` / ``upsert()``
        refuses batches carrying a row where ``expr`` evaluates FALSE
        (ANSI CHECK: NULL passes) — enforcement happens BEFORE any
        file is written, so a refused batch leaves no orphan. Stored
        as a table property in the version state, carried across
        every commit (compaction, restore, DML) and copied by
        ``clone_from``. Pass ``spark`` to also validate the EXISTING
        rows (the Delta posture: an ADD CONSTRAINT that current data
        violates must fail, not create a table that refuses its own
        contents). Known race, documented: a write that began before
        the constraint committed enforces the constraint set it read
        at start."""
        if not name.isidentifier():
            raise ValueError(f"constraint name must be an identifier "
                             f"(got {name!r})")
        if name in self.constraints:
            raise ValueError(f"constraint {name!r} already exists — "
                             "drop_constraint first")
        # zero committed rows trivially satisfy any CHECK — the
        # canonical create-table-then-add-constraint flow must not
        # trip over read()'s no-committed-batches error
        if spark is not None and self.committed():
            cur = self.read(spark)
            bad = cur.filter(
                F.expr(f"not coalesce(({expr}), true)")).count()
            if bad:
                raise ConstraintViolation(
                    f"cannot add {name!r}: {bad} existing rows "
                    f"violate ({expr})")

        # the new map derives from each OCC attempt's CURRENT state —
        # a racing add_constraint lands beside this one, never under it
        def ext(state: dict) -> dict:
            cons = dict(state.get("constraints") or {})
            if name in cons:
                raise ValueError(f"constraint {name!r} already exists "
                                 "— drop_constraint first")
            cons[name] = expr
            return {"constraints": cons}

        self._commit(lambda live: live, extra=ext)

    def drop_constraint(self, name: str) -> None:
        if name not in self.constraints:
            raise KeyError(f"no constraint {name!r} on {self.table_dir}")

        def ext(state: dict) -> dict:
            cons = dict(state.get("constraints") or {})
            cons.pop(name, None)         # concurrent drop already won
            return {"constraints": cons}

        self._commit(lambda live: live, extra=ext)

    def _enforce_constraints(self, df: DataFrame, pinned: bool = False,
                             cons: dict[str, str] | None = None
                             ) -> DataFrame:
        """Refuse the frame if any row evaluates a CHECK constraint to
        FALSE. Returns the frame the caller must WRITE: when
        constraints exist the input is localCheckpointed first, so the
        rows checked are exactly the rows persisted — a
        non-deterministic source (rand(), a re-read external table)
        must not pass the pre-check and then materialize different,
        violating rows when the write job re-evaluates the lineage
        (``pinned=True`` = the caller already checkpointed). All
        constraints are evaluated in ONE aggregate job (a conditional
        sum per constraint), so N constraints cost one batch scan, not
        N — Delta fuses the check into the write job; a single bounded
        pre-pass keeps the refused-batch-leaves-no-orphan property
        instead. ``cons`` is the constraint map when the caller already
        read the table's version."""
        if cons is None:
            cons = self.constraints
        if not cons:
            return df
        if not pinned:
            df = df.localCheckpoint()
        names = list(cons)
        row = df.agg(*[
            F.sum(F.when(
                ~F.coalesce(F.expr(f"({cons[nm]})"), F.lit(True)),
                1).otherwise(0)).alias(f"_v{i}")
            for i, nm in enumerate(names)]).first()
        for i, nm in enumerate(names):
            bad = row[f"_v{i}"] or 0
            if bad:
                raise ConstraintViolation(
                    f"{bad} rows violate CHECK {nm!r} ({cons[nm]}) — "
                    f"batch refused, nothing written")
        return df

    def clone_from(self, source: "ManifestedTable",
                   version: int | None = None) -> int:
        """SHALLOW CLONE (Delta's CLONE shape): publish THIS table's
        first version with the source snapshot's batch manifests
        referencing the source's data files IN PLACE — metadata-only,
        zero rows copied, committed through the same CAS protocol, so
        cloning a live table yields a consistent single-version
        snapshot. Afterwards the tables diverge freely: new writes
        land in this table's own directories; DML/compaction here
        rewrite into local dirs (cloned batches progressively
        localize — ``compact()`` right after cloning is the deep-copy
        escape); ``gc()`` here lists only the LOCAL batches dir
        (``_batch_path``) and can never delete source files.

        SINGLE-METASTORE clones are also registered under the
        source's metadata dir (``_clones/`` marker, written BEFORE
        the clone commits; a gc racing the register-to-commit window
        sees a young manifest-less marker and protects the pinned
        source version wholesale under the same mtime grace in-flight
        writers get — so with a sane ``grace_seconds`` no gc window
        exists): the source's ``gc()``/``run_maintenance`` reads each
        registered clone's retained manifests through its own
        MetadataStore and keeps every local batch dir a clone still
        references — shortening
        the source's retention can no longer break a registered
        clone (the hole Delta shallow clones have). The escapes:
        ``compact()`` the clone (deep-copy, batches localize) then
        ``source.unregister_clone(clone.table_dir)``, or unregister
        alone to accept Delta semantics.

        CAVEAT (narrowed from Delta parity): a CROSS-metastore
        clone's manifests are invisible to the source's store — its
        marker reads as deleted and is pruned, so such clones get no
        gc protection (the original Delta caveat). Deep-copy when
        the source's metastore is not this one.

        The target must be empty (no committed batches): cloning is a
        create-time operation, not a merge. Returns the committed
        version (1). Note that ``write()``'s batch-id idempotency
        spans cloned batches — a writer reusing a SOURCE batch id here
        replaces that cloned batch as a retry would. That is the
        correct replay semantics when a stream migrates to the clone
        WITH its checkpoint (its epoch-keyed ids must keep deduping);
        writers with fresh checkpoints get fresh namespaced ids and
        never collide."""
        if self.committed():
            raise ValueError(
                f"clone_from target {self.table_dir} already has "
                "committed batches — clone into an empty table")
        v = source.current_version() if version is None else version
        if v not in source._version_numbers():
            raise FileNotFoundError(
                f"version {v} not committed (or gc-pruned) under "
                f"{source.table_dir} — cannot clone")
        foreign = []
        for m in source._read_version(v)["batches"]:
            fm = dict(m)
            # a clone of a clone keeps the ORIGINAL base: the field
            # names where the files physically live, not the lineage
            fm.setdefault("base", source.batches_dir)
            foreign.append(fm)

        def mutate(live):
            if live:
                raise CommitConflict(
                    f"{self.table_dir} grew batches mid-clone — "
                    "clone into an empty table")
            return foreign

        # register FIRST, with the pinned source version: a gc racing
        # the register-to-commit window protects that whole snapshot
        # via the marker's mtime grace (the reverse order would leave
        # a committed clone unprotected against a racing source gc);
        # a marker whose clone never commits goes stale past the
        # grace and the source's next gc prunes it
        source._register_clone(self.table_dir, v)
        src_state = source._read_version(v)
        extra = ({"constraints": src_state["constraints"]}
                 if src_state.get("constraints") else None)
        return self._commit(mutate, extra=extra)["version"]

    # -- clone registry (the source side of clone_from) ----------------------

    @property
    def clones_dir(self) -> str:
        return f"{self.table_dir}/_clones"

    def _register_clone(self, clone_table_dir: str,
                        source_version: int) -> None:
        """Marker keyed by a digest of the clone's table dir. The
        pinned source version rides along so a gc racing the
        register-to-commit window can protect the right snapshot
        before the clone has any manifests of its own. A RE-clone
        into the same (emptied) target must REFRESH the marker —
        keeping the old one would carry a stale mtime (no grace
        protection for the new window) and the old source_version
        (protecting the wrong snapshot) — so this is delete +
        create-if-absent; the instant between the two is no wider
        than the pre-register state the grace already covers."""
        token = hashlib.md5(clone_table_dir.encode()).hexdigest()[:16]
        marker = f"{self.clones_dir}/{token}.json"
        content = json.dumps({"table_dir": clone_table_dir,
                              "source_version": source_version})
        if not self.meta.put_if_absent(marker, content):
            self.meta.delete(marker)
            self.meta.put_if_absent(marker, content)

    def registered_clones(self) -> list[str]:
        """Table dirs of clones registered against this source (stale
        markers — deleted clones — are pruned by gc, not here)."""
        out = []
        for f in sorted(self.meta.list(self.clones_dir)):
            try:
                out.append(json.loads(
                    self.meta.read(f"{self.clones_dir}/{f}"))
                    ["table_dir"])
            except (FileNotFoundError, KeyError, ValueError):
                continue
        return out

    def unregister_clone(self, clone_table_dir: str) -> None:
        """Drop a clone's gc protection (after deep-copying via the
        clone's compact(), or to accept Delta shallow-clone
        semantics). Missing marker is success."""
        token = hashlib.md5(clone_table_dir.encode()).hexdigest()[:16]
        self.meta.delete(f"{self.clones_dir}/{token}.json")

    def _clone_protection(self, grace_seconds: float
                          ) -> tuple[set[int], set[str]]:
        """(pinned source versions, protected local batch dir names)
        from the registered clones. Protected dirs are everything any
        clone's RETAINED versions still reference (``base`` == this
        table's batches dir) — every retained clone version counts: a
        clone that compacted away from the source may still
        time-travel to a pre-compaction version until its own gc
        prunes it. A marker whose clone has NO manifests yet is
        either a clone_from inside its register-to-commit window or a
        deleted clone: within ``grace_seconds`` of the marker's mtime
        the pinned SOURCE version (recorded at register time) is
        protected wholesale — version file and dirs — so the racing
        gc cannot break the in-flight clone (the same mtime-grace
        rule in-flight writers get); past the grace the marker is
        stale (deleted clone — or cross-metastore, the documented
        no-protection case) and is pruned."""
        pinned: set[int] = set()
        protected: set[str] = set()
        now = time.time()
        for f in self.meta.list(self.clones_dir):
            marker = f"{self.clones_dir}/{f}"
            try:
                info = json.loads(self.meta.read(marker))
                cdir = info["table_dir"]
            except (FileNotFoundError, KeyError, ValueError):
                self.meta.delete(marker)
                continue
            vdir = f"{cdir}/_versions"
            vnames = [n for n in self.meta.list(vdir)
                      if n.startswith("v") and n.endswith(".json")]
            if not vnames:
                # marker PRUNING never rides the caller's writer-grace:
                # gc(grace_seconds=0) is a legitimate "my own writers
                # are quiesced" assertion, but a clone_from in ANOTHER
                # process may be inside its register-to-commit window —
                # deleting its marker would let the clone commit
                # unregistered and silently unprotected from every
                # future source gc. Staleness for markers uses a
                # conservative floor of its own.
                horizon = max(grace_seconds, _CLONE_MARKER_MIN_AGE)
                try:
                    young = (now - self.meta.mtime(marker)
                             < horizon)
                except FileNotFoundError:
                    continue                   # concurrent sweep won
                if young and "source_version" in info:
                    # in-flight clone_from: protect its pinned snapshot
                    v = info["source_version"]
                    pinned.add(v)
                    try:
                        protected |= {
                            self._dir_of(b)
                            for b in self._read_version(v)["batches"]}
                    except FileNotFoundError:
                        pass                   # already gone pre-register
                elif not young:
                    self.meta.delete(marker)   # clone gone: stale
                continue
            for vn in vnames:
                try:
                    state = json.loads(self.meta.read(f"{vdir}/{vn}"))
                except FileNotFoundError:
                    continue                   # clone's own gc raced us
                protected |= {self._dir_of(b)
                              for b in state.get("batches", [])
                              if b.get("base") == self.batches_dir}
        return pinned, protected

    def history(self) -> list[dict]:
        """Commit log, oldest first: (version, parent, committed_at,
        n_batches, rows) per retained version — the audit surface the
        reference keeps in its MySQL shard/table-version tables."""
        out = []
        for n in self._version_numbers():
            v = self._read_version(n)
            out.append({"version": v["version"],
                        "parent": v.get("parent"),
                        "committed_at": v.get("committed_at"),
                        "n_batches": len(v["batches"]),
                        "rows": sum(b.get("rows", 0)
                                    for b in v["batches"])})
        return out

    # -- maintenance --------------------------------------------------------

    def compact(self, spark: SparkSession, fmt: str = "parquet",
                cluster_by: list[str] | None = None,
                n_files: int | None = None,
                cluster_mode: str = "range",
                only: list[str] | None = None,
                max_rows: int | None = None,
                bloom_for: list[str] | None = None) -> str | None:
        """Rewrite live batches as ONE batch and publish a version
        swapping inputs for output atomically — readers see the old
        set or the new set, never both (the shard-organizer analog).
        Batches committed concurrently DURING the rewrite survive: the
        swap only removes the inputs it actually read. ``cluster_by``
        makes this the OPTIMIZE step: the rewrite range-clusters the
        table so the compacted files carry disjoint key ranges —
        ``cluster_mode="zorder"`` interleaves ≥2 keys instead so
        predicates on ANY clustered key skip most files (OPTIMIZE
        ZORDER).

        By default every live batch rewrites — fine for a table that
        fits a sweep, quadratic write amplification for one that
        grows forever. ``max_rows`` selects only batches smaller than
        the threshold (metadata-only decision — rows live in the
        manifest), the Raptor/Delta BIN-PACKING form: epoch-accreted
        small batches merge, outputs that cross the threshold are
        never rewritten again, so each row is rewritten O(log) times
        over the table's life instead of once per sweep. ``only``
        names explicit batch ids instead. Returns the new batch id,
        or None when fewer than two batches qualify (a one-batch
        rewrite is pure write amplification)."""
        inputs = self.committed()
        if not inputs:
            raise FileNotFoundError(f"nothing to compact in {self.table_dir}")
        if only is not None:
            want = set(only)
            missing = want - {b["batch"] for b in inputs}
            if missing:
                raise ValueError(f"not live, cannot compact: "
                                 f"{sorted(missing)}")
            inputs = [b for b in inputs if b["batch"] in want]
        elif max_rows is not None:
            inputs = [b for b in inputs
                      if b.get("rows", 0) < max_rows]
        if len(inputs) < 2 and (only is not None or max_rows is not None):
            return None
        bid = f"compact-{uuid.uuid4().hex}"
        df = self._read_batches(spark, inputs)
        if df is None:
            # all inputs are zero-row commits: fold them into one
            # schema-preserving empty batch
            df = self._empty_of(spark, inputs)
        df = self._clustered(df, cluster_by, n_files, cluster_mode)
        entry = self._write_batch_files(df, bid, fmt)
        if bloom_for:
            _bloom_build(spark, f"{self.batches_dir}/{entry['dir']}",
                         fmt, entry, bloom_for)
        consumed = {b["batch"]: self._dir_of(b) for b in inputs}

        def mutate(live):
            out_live = []
            for b in live:
                if b["batch"] in consumed:
                    # identity check: a consumed input replaced
                    # concurrently (delete/upsert/retry) holds data
                    # the compacted output was NOT built from —
                    # removing it would resurrect the pre-rewrite rows
                    if self._dir_of(b) != consumed[b["batch"]]:
                        raise CommitConflict(
                            f"batch {b['batch']!r} was replaced during "
                            f"compaction — re-run compact()")
                    continue
                out_live.append(b)
            return out_live + [entry]

        self._commit(mutate)
        return bid

    def delete_where(self, spark: SparkSession, condition,
                     prune: dict | None = None,
                     fmt: str = "parquet") -> dict:
        """Copy-on-write delete — the takedown/right-to-erasure
        operation a training corpus needs: batches whose zone map
        proves they CANNOT contain matching rows are left byte-
        untouched; every other batch is rewritten without the matching
        rows and swapped in atomically (one version commit — readers
        see all-old or all-new). A rewrite that removes nothing is
        discarded (no churn); a rewrite that removes everything drops
        the batch from the version. Old versions still read the
        original data until gc() ages them out — deletion becomes
        PERMANENT only after gc, which is the auditable two-step
        (tombstone then vacuum) Delta/Iceberg use.

        ``condition`` is a pyspark Column; ``prune`` is the same
        {col: (lo, hi)} interval map read() takes and should cover the
        condition (it is an optimization — rewriting extra batches is
        correct, skipping a matching batch is not, so zone maps only
        SKIP batches proven disjoint). A batch a concurrent commit
        replaced mid-delete raises CommitConflict rather than silently
        losing the erasure; a batch APPENDED concurrently is NOT a
        conflict — the serialization order is delete-then-insert
        (Delta's WriteSerializable rule for blind appends), so its
        rows legitimately survive; re-run the delete if the predicate
        must also cover them. Returns {"rewritten", "kept", "dropped",
        "rows_deleted"}.

        A batch MISSING a condition column is evaluated exactly the
        way read() presents it: read() unions batches with
        allowMissingColumns=True, so readers see the absent column as
        NULL — and a condition that can be TRUE on NULL (isNull(),
        coalesce defaults, NOT-IN shapes) must therefore match those
        rows here too. The missing columns are added to the batch as
        typed NULL literals (types from the live manifests' stored
        schemas) before evaluating, then dropped again before the
        rewrite is written, so an erasure predicate sees the same
        logical table readers do while the stored batch keeps its own
        physical schema."""
        from pyspark.sql.types import StructType

        prune = _tz_normalize_prune(spark, prune)
        # union column set of the current version, as read() builds it
        union_fields: dict[str, object] = {}
        for m in self.committed():
            for fld in (m.get("schema") or {}).get("fields", []):
                if fld["name"] not in union_fields:
                    union_fields[fld["name"]] = StructType.fromJson(
                        {"type": "struct", "fields": [fld]})[0].dataType

        def transform(src):
            # delete only rows where the condition is TRUE: a NULL
            # evaluation must KEEP the row (filter(~cond) alone would
            # silently drop NULL-evaluating rows). Columns this batch
            # lacks are presented as typed NULLs (read()'s union
            # semantics); a column NO live batch carries is a genuine
            # caller error and surfaces as the unresolved-column
            # AnalysisException — it must not masquerade as a
            # completed takedown.
            added = [c for c in union_fields if c not in src.columns]
            probe = src
            for c in added:
                probe = probe.withColumn(
                    c, F.lit(None).cast(union_fields[c]))
            out = probe.filter(~F.coalesce(condition, F.lit(False)))
            return out.drop(*added) if added else out

        replacements, orig_dirs, counters = self._cow_rewrite(
            spark, self.committed(), transform, prune, fmt)
        if replacements:
            self._commit(self._swap_mutate(replacements, orig_dirs))
        return {"rewritten": counters["rewritten"],
                "kept": counters["kept"], "dropped": counters["dropped"],
                "rows_deleted": counters["removed"]}

    def upsert(self, spark: SparkSession, updates: DataFrame, key: str,
               batch_id: str | None = None,
               fmt: str = "parquet",
               extended_key_pruning: bool = False) -> dict:
        """Copy-on-write MERGE on ``key``: live rows whose key appears
        in ``updates`` are replaced, new keys insert — the Delta MERGE
        WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT shape.
        The updates' key [min, max] (one bounded aggregate) prunes via
        each batch's zone map, so key-disjoint batches stay byte-
        untouched; overlapping batches rewrite via a LEFT ANTI join
        against the update keys; the updates land as one new batch.
        All swaps plus the insert publish in ONE version commit.
        Retrying with the same ``batch_id`` is idempotent: the already-
        replaced keys anti-join to nothing and the new batch swaps for
        its previous incarnation. Updates must carry UNIQUE, non-null
        keys (Delta MERGE's multiple-source-match error), and the
        updates frame is localCheckpointed first so every evaluation
        (bounds, per-batch anti-joins, the insert) sees one immutable
        snapshot. A batch a concurrent commit replaced mid-merge
        raises CommitConflict — and so does a batch COMMITTED
        CONCURRENTLY (added or replaced since this merge's snapshot)
        whose zone map overlaps the updates' key range, the
        Delta-style write-write conflict check: without it, a racing
        insert of the same key would land beside this merge's row and
        leave two live rows for one key (a lost update). Key-disjoint
        concurrent writes still commit; a concurrent batch with no
        stats for the key cannot be proven disjoint and conflicts
        conservatively.

        ``extended_key_pruning=True`` opts string/date/timestamp keys
        into the zone-map prune (numeric keys always prune). The
        canonical conventions: strings compare in code-point order
        (parquet min/max are order-preserving supersets even when
        truncated, and UTF-8 byte order equals code-point order);
        dates as ISO strings; naive datetime bounds mean
        SESSION-time-zone instants and convert to UTC before meeting
        the stored (UTC) stats. Off by default because a caller whose
        data predates these conventions (e.g. pre-micros INT96 stats,
        exotic collations) must not silently mis-prune a MERGE.
        Returns {"rewritten", "kept", "dropped", "rows_replaced",
        "batch"}."""
        bid = batch_id or uuid.uuid4().hex
        if "/" in bid or bid.startswith("."):
            raise ValueError(f"invalid batch_id: {bid!r}")
        updates = updates.localCheckpoint()
        # CHECK constraints gate the merge's incoming rows exactly as
        # write()'s append path; surviving pre-existing rows were
        # checked when they landed (rewrites only move them)
        self._enforce_constraints(updates, pinned=True)
        bounds = updates.agg(
            F.min(F.col(key)).alias("_lo"),
            F.max(F.col(key)).alias("_hi"),
            F.count(F.lit(1)).alias("_n"),
            F.count(key).alias("_nk"),
            F.countDistinct(key).alias("_nd")).collect()[0]
        if bounds._n == 0:
            return {"rewritten": 0, "kept": len(self.committed()),
                    "dropped": 0, "rows_replaced": 0, "batch": None}
        if bounds._nk != bounds._n:
            raise ValueError(f"upsert key {key!r} must be non-null")
        if bounds._nd != bounds._n:
            raise ValueError(
                f"updates carry duplicate {key!r} values — a MERGE "
                f"source must match each key at most once")
        # the internal prune is CORRECTNESS-bearing (a wrongly skipped
        # batch keeps its old row alongside the new one): numeric keys
        # always prune; str/date/datetime keys prune only under the
        # opt-in canonical conventions (see docstring) — naive datetime
        # bounds are session-local instants, normalized to UTC
        lo, hi = _canon_stat(bounds._lo), _canon_stat(bounds._hi)
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            prune = {key: (bounds._lo, bounds._hi)}
        elif extended_key_pruning and isinstance(lo, str) \
                and isinstance(hi, str):
            prune = _tz_normalize_prune(
                spark, {key: (bounds._lo, bounds._hi)})
        else:
            prune = None
        # the write-write conflict range is NOT an optimization: with
        # un-canonicalizable bounds every concurrent batch conflicts
        # (unbounded interval — cannot be proven key-disjoint)
        conflict_prune = prune if prune is not None \
            else {key: (None, None)}
        upd_keys = updates.select(F.col(key)).distinct()

        def transform(src):
            if key not in src.columns:
                return None
            return src.join(F.broadcast(upd_keys), key, "left_anti")

        inputs = [m for m in self.committed() if m["batch"] != bid]
        snapshot_dirs = {m["batch"]: self._dir_of(m) for m in inputs}
        replacements, orig_dirs, counters = self._cow_rewrite(
            spark, inputs, transform, prune, fmt)

        # the updates batch itself, folded into the SAME commit as the
        # rewrites — no intermediate version ever shows an old and a
        # new row for the same key
        upd = updates
        if "_time" in upd.columns:
            upd = upd.withColumn("_day", F.to_date("_time"))
        fields = json.loads(upd.schema.json())["fields"]
        self._check_evolution(self.committed(), fields, replacing=bid)
        new_entry = self._write_batch_files(upd, bid, fmt)
        self._commit(self._swap_mutate(replacements, orig_dirs,
                                       extra=new_entry,
                                       extra_fields=fields,
                                       snapshot_dirs=snapshot_dirs,
                                       conflict_prune=conflict_prune))
        return {"rewritten": counters["rewritten"],
                "kept": counters["kept"], "dropped": counters["dropped"],
                "rows_replaced": counters["removed"], "batch": bid}

    def orphans(self) -> list[str]:
        """Batch dirs the CURRENT version does not reference — crashed
        writers and compacted-away inputs. GC candidates (subject to
        reader grace / version retention — see gc())."""
        dirs = set(self.meta.list(self.batches_dir))
        if not dirs:
            return []
        live = {self._dir_of(m) for m in self.committed()}
        return sorted(d for d in dirs if d not in live)

    def gc(self, keep_versions: int = 2,
           grace_seconds: float = 3600.0) -> list[str]:
        """Delete batch dirs referenced by NONE of the newest
        ``keep_versions`` versions, then prune older version files.
        The retention window is the reader grace period (an in-flight
        reader pinned to a retained version still finds its files), and
        ``grace_seconds`` protects IN-FLIGHT WRITERS: a directory
        younger than the grace is a write() that has not yet published
        its version — deleting it would lose the batch the moment the
        writer commits (the same mtime-grace rule Delta/Iceberg vacuum
        applies). Pass 0 only when no writer can be active.

        TAGGED versions' files survive any keep_versions setting, and
        so do local dirs a REGISTERED shallow clone's retained
        versions still reference (clone_from / _clone_protected_dirs
        — the single-metastore close of Delta's shallow-clone
        retention hole)."""
        ns = self._version_numbers()
        kept = set(ns[-keep_versions:] if keep_versions else [])
        # a TAG is a retention pin: its version (and files) survive
        # any keep_versions setting until the tag is dropped
        kept |= {v for v in self.tags.values() if v in ns}
        # registered shallow clones pin the local dirs they still
        # reference (clone_from docstring) — same skip as tags; an
        # in-flight clone_from (marker younger than the grace, no
        # clone manifests yet) pins its whole source version
        pinned, clone_dirs = self._clone_protection(grace_seconds)
        kept |= {v for v in pinned if v in ns}
        referenced: set[str] = set()
        for n in kept:
            referenced |= {self._dir_of(b)
                           for b in self._read_version(n)["batches"]}
        referenced |= clone_dirs
        removed = []
        now = time.time()
        for d in sorted(self.meta.list(self.batches_dir)):
            full = f"{self.batches_dir}/{d}"
            if d in referenced:
                continue
            # a CONCURRENT sweep may win the race on any path between
            # our listing and our delete — losing that race is success
            # (the garbage is gone), not an abort of the rest
            try:
                if now - self.meta.mtime(full) < grace_seconds:
                    continue                   # possible in-flight writer
                self.meta.delete_tree(full)
            except FileNotFoundError:
                continue
            removed.append(d)
        for n in ns:
            if n in kept:                    # retention window OR tag
                continue
            # delete() treats missing as success (concurrent sweep)
            self.meta.delete(f"{self.versions_dir}/v{n:010d}.json")
        return removed


STAGING_DIR = "_staging"


def commit_groups(base: str, groups: list,
                  orders: dict[tuple[str, str], list[str]],
                  batch_id: str) -> dict[tuple[str, str], int]:
    """Commit batch ``batch_id`` to every collection of ``groups`` —
    ``[(project, [collection, ...], frame)]``, each frame carrying a
    ``_collection`` column and only those collections' rows, each
    collection in one group — with ONE parquet write per group instead
    of one per collection.

    Each group frame is written once under the local staging dir
    ``base/_staging/<batch_id>--<uuid8>/<group>``, hash-partitioned
    (``sinks._grouped_writer_frame``) on a per-group integer collection
    index plus ``_day``, so every (collection, day) pair is one file and
    no user-supplied collection name is ever escaped into a path. Each
    collection's index subtree is then renamed into its own table's
    ``_batches`` and committed through the table's OCC loop
    (``ManifestedTable.adopt``): replay, gc, orphans, clones and CoW
    rewrites see the usual layout. The entry schema is the collection's
    column order from ``orders`` plus ``_day``.

    Each table's current version is read once, for both the add-only
    schema check and its CHECK constraints. The constraints are
    evaluated after every group write and before any rename, over the
    collection's staged files, so the rows checked are exactly the rows
    committed. A violation deletes the staging dir and raises
    ``ConstraintViolation``; no collection is committed.

    A failed attempt leaves its staging dir behind; nothing reads
    ``_staging`` (readers follow manifests), the replay of the same
    ``batch_id`` deletes it before writing, and ``run_maintenance``
    deletes it once it is older than the sweep's grace. Returns
    ``{(project, collection): rows committed}``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    from rakam_api_collector_spark.sinks import _grouped_writer_frame

    meta = LocalMetadataStore()
    root = f"{base}/{STAGING_DIR}"
    for d in meta.list(root):
        if d.startswith(f"{batch_id}--"):
            meta.delete_tree(f"{root}/{d}")
    stage = f"{root}/{batch_id}--{uuid.uuid4().hex[:8]}"

    def write_group(item) -> list[tuple]:
        gi, (project, collections, df) = item
        ci = "_ci"
        while ci in df.columns:          # never shadow a user column
            ci += "_"
        out = df.withColumn(ci, F.array_position(
            F.array(*map(F.lit, collections)), F.col("_collection")))
        out = out.drop("_collection")
        parts = [ci]
        if "_time" in df.columns:
            out = out.withColumn("_day", F.to_date("_time"))
            parts.append("_day")
        fields = {f["name"]: f
                  for f in json.loads(out.schema.json())["fields"]}
        staged = []
        for i, c in enumerate(collections, 1):
            table = ManifestedTable(base, project, c)
            state = table._read_version(table.current_version())
            schema = {"type": "struct", "fields": [
                fields[n] for n in orders[(project, c)] + parts[1:]]}
            # fail fast before writing, as write() does
            table._check_evolution(state["batches"], schema["fields"],
                                   replacing=batch_id)
            staged.append(((project, c), table, f"{stage}/{gi}/{ci}={i}",
                           schema, state.get("constraints")))
        (_grouped_writer_frame(out, parts).write.mode("overwrite")
         .partitionBy(*parts).parquet(f"{stage}/{gi}"))
        return staged

    def check(item) -> None:
        _, table, path, schema, cons = item
        if cons and os.path.isdir(path):     # no dir: zero rows pass
            spark = groups[0][2].sparkSession
            rows = spark.read.schema(T.StructType.fromJson(schema)) \
                .parquet(path)
            table._enforce_constraints(rows, pinned=True, cons=cons)

    def adopt(item) -> tuple[tuple[str, str], int]:
        key, table, path, schema, _ = item
        return key, table.adopt(path, batch_id, schema)["rows"]

    with ThreadPoolExecutor(16) as pool:
        staged = [s for group in pool.map(write_group, enumerate(groups))
                  for s in group]
        try:
            list(pool.map(check, staged))
        except ConstraintViolation:
            meta.delete_tree(stage)
            raise
        committed = dict(pool.map(adopt, staged))
    if meta.is_dir(stage):
        meta.delete_tree(stage)
    return committed
