"""Kinesis source (S3): KCL semantics, two ways onto Spark.

The reference runs one KCL ``IRecordProcessor`` per shard with a
DynamoDB lease table, TRIM_HORIZON start, and per-shard checkpointing
(KinesisRecordProcessor.java:77-133, KinesisWorkerManager.java:85-116).

**Connector path** (``kinesis_reader``): OSS Spark has no first-party
Kinesis source; the two maintained connectors (``spark-sql-kinesis``
qubole/ASF fork lineage, and the AWS Kinesis EFO connector) both
accept the option set produced here. Shard-level parallelism maps to
source partitions, the lease table to the connector's DynamoDB
metadata table, and ``checkpointer.checkpoint()`` to Spark's
checkpointLocation (ST7) — there is deliberately no per-shard
processor class to port.

**Jar-less path** (``KinesisPyDataSource``, ``format("kinesis_py")``):
a PySpark DataSource speaking the public Kinesis Data Streams API
(ListShards / GetShardIterator / GetRecords) through any boto3-shaped
client — boto3 itself against AWS, or the file-backed
``kinesis_local.LocalKinesisClient`` emulator for dev/test. It
implements the KCL consumption contract the reference relies on:
per-shard sequence-number offsets in the query checkpoint (the lease
table's checkpoint column), TRIM_HORIZON / LATEST starts, and
resharding — a closed parent is drained to its EndingSequenceNumber
before its children are consumed (KinesisShardSyncer's
parent-before-child ordering), merge parents both drained first.

Scale note, stated plainly: the DEFAULT reader is built on
``SimpleDataSourceStreamReader``, Spark's API for sources whose end
offsets cannot be enumerated without reading (a Kinesis sequence
number is only discoverable FROM a record — there is no "latest
sequence" call), so fetches run in the driver-side source worker and
Spark's WAL redistributes to executors. Per-batch volume is bounded
by ``maxRecordsPerShard`` × #shards. That is the right shape for the
reference's workload (its KCL workers are single-process consumers
too) and for modest shard counts. For a firehose,
``option("readerMode", "partitioned")`` switches to the
executor-parallel reader — one input partition per shard, GetRecords
on executors, arrival-time-windowed offsets (design rationale on
``_KinesisPartitionedStreamReader``); the jar connector
(``kinesis_reader``) remains the managed-infrastructure alternative.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition,
                                    SimpleDataSourceStreamReader)
from pyspark.sql.streaming import DataStreamReader

TRIM_HORIZON = "TRIM_HORIZON"    # KinesisUtil default in the reference


def kinesis_available(spark: SparkSession) -> bool:
    for cls in ("org.apache.spark.sql.kinesis.KinesisSourceProvider",
                "org.apache.spark.sql.connector.kinesis.KinesisTable"):
        try:
            spark._jvm.java.lang.Class.forName(cls)
            return True
        except Exception:
            continue
    return False


def kinesis_reader_options(stream_name: str, region: str,
                           app_name: str,
                           position: str = TRIM_HORIZON) -> dict[str, str]:
    """Connector-agnostic option set (S3). ``app_name`` becomes the
    DynamoDB lease/metadata table name, as in the KCL."""
    return {
        "streamName": stream_name,
        "region": region,
        "initialPosition": position,
        "consumerName": app_name,
        # KCL CloudWatch metrics (KinesisWorkerManager.java:101-108) are
        # Spark streaming metrics; no option needed.
    }


def kinesis_reader(spark: SparkSession, stream_name: str, region: str,
                   app_name: str,
                   position: str = TRIM_HORIZON) -> DataStreamReader:
    if not kinesis_available(spark):
        raise RuntimeError(
            "no Kinesis connector on the classpath; add spark-sql-kinesis "
            "or the AWS EFO connector jar (see module docstring)")
    reader = spark.readStream.format("kinesis")
    for k, v in kinesis_reader_options(stream_name, region, app_name,
                                       position).items():
        reader = reader.option(k, v)
    return reader


# ---------------------------------------------------------------------------
# jar-less Python DataSource: format("kinesis_py")

KINESIS_PY_SCHEMA = ("shard_id string, sequence_number string, "
                     "partition_key string, value binary, "
                     "arrival_time timestamp")


def _err_code(e: Exception) -> str:
    """Error-identity across client shapes: botocore ClientError
    carries response["Error"]["Code"]; the local emulator raises
    classes NAMED as the codes. Matching on the code string keeps the
    reader client-agnostic."""
    resp = getattr(e, "response", None)
    if isinstance(resp, dict):
        code = resp.get("Error", {}).get("Code")
        if code:
            return code
    return type(e).__name__


def default_stop_slack_ms(window_ms: int) -> int:
    """Default ``stopSlackMs`` for a partitioned-mode window read: the
    window length clamped to [1 s, 5 s]. Single source of truth for
    the reader (read()), whose re-read amplification STRESS.md measured
    against the documented bound ``1 + slack/window``. Rationale at the
    read() call site: slack covers approximately-monotone arrival-stamp
    jitter; the clamp bounds re-read amplification at 2× for ≥1 s
    windows while keeping a full second of protection under
    sub-second windows."""
    return min(5000, max(1000, window_ms))


def _make_client(options: dict):
    endpoint = options.get("endpoint")
    if endpoint and endpoint.startswith("local:"):
        from rakam_api_collector_spark.sources.kinesis_local import \
            LocalKinesisClient
        cl = LocalKinesisClient(endpoint[len("local:"):])
        # emulator-only knobs, option-carried so they reach clients
        # built INSIDE executor-side reads (partitioned mode) where a
        # test cannot reach the instance: wire-fault cadences and the
        # iterator TTL (kinesis_local module docstring)
        for opt, attr, conv in (
                ("localfaultemptyevery", "fault_empty_every", int),
                ("localfaultthrottleevery", "fault_throttle_every", int),
                ("localiteratorttlsec", "iterator_ttl_sec", float),
                ("localfetchstatsdir", "fetch_stats_dir", str)):
            if options.get(opt):
                setattr(cl, attr, conv(options[opt]))
        return cl
    try:
        import boto3
    except ImportError:
        raise RuntimeError(
            "format('kinesis_py') needs boto3 for a real stream, or "
            "option endpoint='local:<dir>' for the file-backed "
            "emulator") from None
    return boto3.client("kinesis",
                        region_name=options.get("region") or None,
                        endpoint_url=endpoint or None)


class _KinesisSimpleStreamReader(SimpleDataSourceStreamReader):
    """Per-shard sequence-number offsets; KCL consumption order.

    Offset shape (JSON in the query checkpoint, the lease-table
    analog)::

        {"shards": {shard_id: {"seq": "<n>"[, "drained": true]}}}

    ``drained`` marks a CLOSED shard read through its
    EndingSequenceNumber — the SHARD_END signal that unlocks its
    children. Entries are never removed: a drained tombstone is what
    proves, on every later batch, that the child may be read (and it
    is bounded by the stream's total historical shard count, exactly
    like KCL leases).

    LATEST starts carry one documented at-least-once edge, shared
    with the jar connectors: a shard with NO offset entry yet resolves
    LATEST at read time, so a restart from a checkpoint written before
    the shard's first record re-evaluates "latest". TRIM_HORIZON and
    resumed (seq-bearing) offsets replay exactly
    (``readBetweenOffsets`` refetches a closed seq range; shard data
    is immutable within retention)."""

    def __init__(self, options: dict) -> None:
        self._options = dict(options)
        self._stream = options.get("streamname")
        if not self._stream:
            raise ValueError("kinesis_py requires option 'streamName'")
        self._position = (options.get("initialposition")
                          or TRIM_HORIZON).upper()
        if self._position not in (TRIM_HORIZON, "LATEST"):
            raise ValueError(f"initialPosition {self._position!r}: "
                             "expected TRIM_HORIZON or LATEST")
        self._max_per_shard = int(options.get("maxrecordspershard")
                                  or 10_000)
        self._cl = None
        # live iterators for LATEST shards that have produced no
        # record yet: without one, every batch would re-evaluate
        # LATEST and drop whatever arrived between batches. In-memory
        # only (iterators are not replayable offsets) — a restart
        # before the shard's first record re-evaluates LATEST, the
        # documented edge shared with the jar connectors.
        # value = (iterator, LATEST-evaluation time | None): the time
        # anchors the AT_TIMESTAMP re-seek when a held iterator
        # expires between micro-batches (see _drain_shard)
        self._live_iters: dict[str, tuple[str, float | None]] = {}

    def _client(self):
        if self._cl is None:
            self._cl = _make_client(self._options)
        return self._cl

    def initialOffset(self) -> dict:
        return {"shards": {}}

    # -- consumption order -------------------------------------------------

    def _parents(self, shard: dict) -> list[str]:
        return [p for p in (shard.get("ParentShardId"),
                            shard.get("AdjacentParentShardId")) if p]

    def _consumable(self, shard: dict, shard_map: dict,
                    offsets: dict) -> bool:
        """Parent-before-child: every parent still listed must be
        drained; a parent aged out of the retention window (absent
        from ListShards) no longer gates."""
        return all(p not in shard_map or offsets.get(p, {}).get("drained")
                   for p in self._parents(shard))

    def _start_iterator(self, sid: str, shard: dict, offsets: dict,
                        replay: bool = False):
        cl = self._client()
        st = offsets.get(sid)
        if st is not None:
            return cl.get_shard_iterator(
                StreamName=self._stream, ShardId=sid,
                ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                StartingSequenceNumber=st["seq"])["ShardIterator"]
        # unseen shard: children always start at horizon (their data
        # began after the split/merge); root shards follow the
        # configured initial position. A REPLAY of a batch that
        # started from LATEST must NOT re-evaluate LATEST (head has
        # moved — rows would vanish): it refetches from the horizon
        # bounded above by the committed end seq, over-delivering at
        # worst (the documented at-least-once edge), never losing.
        typ = TRIM_HORIZON if (replay or self._parents(shard)
                               or self._position == TRIM_HORIZON) \
            else "LATEST"
        return cl.get_shard_iterator(
            StreamName=self._stream, ShardId=sid,
            ShardIteratorType=typ)["ShardIterator"]

    def _drain_shard(self, sid: str, shard: dict, offsets: dict,
                     limit: int, stop_seq: int | None = None):
        """Fetch up to ``limit`` records (through ``stop_seq`` when
        replaying). Returns (rows, new_state|None): state is the
        post-fetch offset entry, None for 'unchanged'.

        Wire realities handled here (real GetRecords, not just the
        emulator's happy path): an EMPTY Records list does NOT mean
        caught-up — Kinesis routinely returns empty pages mid-stream
        (aged-out gaps, internal pagination) with
        ``MillisBehindLatest > 0`` and a live NextShardIterator, and
        throttles with ProvisionedThroughputExceededException. The
        live path follows a bounded number of empty pages and
        throttle retries per batch (progress resumes next batch); the
        REPLAY path (``stop_seq`` set) follows empty pages until
        caught up and retries throttling without bound, because
        a committed batch must reproduce exactly — truncating on an
        empty page or a throttle would silently lose committed
        rows."""
        cl = self._client()
        rows, state = [], offsets.get(sid)
        latest_birth = None
        if state is None and stop_seq is None \
                and sid in self._live_iters:
            it, latest_birth = self._live_iters.pop(sid)
        else:
            stateless_latest = (state is None and stop_seq is None
                                and not self._parents(shard)
                                and self._position == "LATEST")
            if stateless_latest:
                # remember when LATEST gets evaluated: if the
                # iterator later expires, AT_TIMESTAMP(birth) can
                # re-seek without re-evaluating LATEST (taken BEFORE
                # the call — earlier only over-delivers)
                latest_birth = time.time()
            it = self._start_iterator(sid, shard, offsets,
                                      replay=stop_seq is not None)
        reseeked = False
        throttle_delay = 0.1
        throttles = 0
        empty_pages = 0
        while it is not None and len(rows) < limit:
            try:
                resp = cl.get_records(ShardIterator=it,
                                      Limit=min(limit - len(rows),
                                                10_000))
            except Exception as e:     # noqa: BLE001 — code-matched below
                code = _err_code(e)
                if code == "ExpiredIteratorException" and not reseeked:
                    reseeked = True
                    if latest_birth is not None and state is None:
                        # a held/just-made LATEST iterator expired
                        # (trigger interval > iterator TTL): must NOT
                        # re-evaluate LATEST — records that arrived in
                        # the interim would silently vanish. Re-seek
                        # to the original evaluation time instead:
                        # at-least-once (boundary records at exactly
                        # birth over-deliver), never lossy.
                        it = cl.get_shard_iterator(
                            StreamName=self._stream, ShardId=sid,
                            ShardIteratorType="AT_TIMESTAMP",
                            Timestamp=latest_birth)["ShardIterator"]
                    else:
                        # re-seek from the last position we own (KCL
                        # restart-from-checkpoint behavior), retry once
                        it = self._start_iterator(
                            sid, shard,
                            {**offsets, **({sid: state} if state else {})},
                            replay=stop_seq is not None)
                    continue
                if code == "ProvisionedThroughputExceededException":
                    throttles += 1
                    if stop_seq is None and throttles > 3:
                        break          # yield; the next batch resumes
                    # back off and retry (the KCL posture). A REPLAY
                    # never gives up: it must reproduce the committed
                    # range, and a bounded live retry also breaks
                    # cadence resonance (a shard whose fetch always
                    # lands on a throttled slot would otherwise be
                    # starved across batches).
                    time.sleep(throttle_delay)
                    throttle_delay = min(throttle_delay * 2, 2.0)
                    continue
                raise
            for rec in resp["Records"]:
                seq = rec["SequenceNumber"]
                if stop_seq is not None and int(seq) > stop_seq:
                    return rows, state
                ts = rec.get("ApproximateArrivalTimestamp")
                if isinstance(ts, (int, float)):
                    ts = datetime.fromtimestamp(ts, tz=timezone.utc)
                rows.append((sid, seq, rec.get("PartitionKey"),
                             bytes(rec["Data"]), ts))
                state = {"seq": seq}
            nxt = resp.get("NextShardIterator")
            if nxt is None:
                # SHARD_END: closed shard fully consumed — tombstone
                # unlocks the children on the next batch
                end = shard.get("SequenceNumberRange", {}).get(
                    "EndingSequenceNumber")
                state = {"seq": (state or {}).get("seq", end or "0"),
                         "drained": True}
                break
            it = nxt
            if not resp["Records"]:
                if (resp.get("MillisBehindLatest") or 0) <= 0:
                    break               # genuinely caught up
                # mid-stream empty page: records lie ahead — follow
                # the iterator (bounded per batch in the live path;
                # unbounded in replay, which must reach stop_seq)
                empty_pages += 1
                if stop_seq is None and empty_pages >= 100:
                    break
        if state is None and stop_seq is None and it is not None:
            # hold the position (and, for LATEST, its evaluation
            # time — the AT_TIMESTAMP re-seek anchor above)
            self._live_iters[sid] = (it, latest_birth)
        return rows, state

    # -- SimpleDataSourceStreamReader contract ------------------------------

    def read(self, start: dict):
        offsets = dict(start.get("shards", {}))
        shard_map = {s["ShardId"]: s for s in
                     self._client().list_shards(
                         StreamName=self._stream)["Shards"]}
        rows_out = []
        for sid in sorted(shard_map):
            shard = shard_map[sid]
            st = offsets.get(sid)
            if st is not None and st.get("drained"):
                continue
            if not self._consumable(shard, shard_map, offsets):
                continue
            rows, state = self._drain_shard(sid, shard, offsets,
                                            self._max_per_shard)
            rows_out.extend(rows)
            if state is not None:
                offsets[sid] = state
        return iter(rows_out), {"shards": offsets}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of a committed range: shard data is
        immutable within retention, so refetching (start.seq,
        end.seq] per shard reproduces the batch exactly."""
        s_sh = start.get("shards", {})
        shard_map = {s["ShardId"]: s for s in
                     self._client().list_shards(
                         StreamName=self._stream)["Shards"]}
        for sid, st in sorted(end.get("shards", {}).items()):
            end_seq = st.get("seq")
            prev = s_sh.get(sid, {}).get("seq")
            if end_seq is None or end_seq == prev:
                continue
            rows, _ = self._drain_shard(
                sid, shard_map.get(sid, {}), s_sh,
                limit=2 ** 31, stop_seq=int(end_seq))
            yield from rows

    def commit(self, end: dict) -> None:
        pass                    # offsets live in the query checkpoint


class _ShardRangePartition(InputPartition):
    """One shard × one arrival-time window — the executor work unit.
    Pickles across to the executor-side Python worker with everything
    ``read`` needs (no driver state)."""

    def __init__(self, shard_id: str, start_ms: int, end_ms: int,
                 options: dict) -> None:
        self.shard_id = shard_id
        self.start_ms = start_ms
        self.end_ms = end_ms
        self.options = options


class _KinesisPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel mode: one input partition per shard,
    GetRecords on the executors — the per-shard-processor shape of the
    reference's KCL workers (KinesisRecordProcessor.java:77-117, one
    ``IRecordProcessor`` per shard), for streams whose fetch volume
    outgrows the driver-side Simple reader.

    **Offset design.** Kinesis has no "latest sequence number" API — an
    end seq is only discoverable FROM a record — so a partitioned
    planner cannot commit per-shard seq ranges without reading the data
    on the driver first (which is exactly the Simple mode it exists to
    replace). Batches are therefore bounded by server-side ARRIVAL
    TIME: the offset is a single epoch-millis watermark ``ts`` and a
    batch covers, for EVERY shard, the records with
    ``start.ts < ApproximateArrivalTimestamp*1000 <= end.ts``. Arrival
    stamps are assigned by the service at ingestion, are immutable, and
    are non-decreasing per shard, so the inclusion predicate is a pure
    function of immutable record attributes: any replay of a committed
    (start, end] range reproduces the batch exactly — the same
    determinism the Simple reader's ``readBetweenOffsets`` gets from
    seq ranges, without a driver-side fetch. Driver cost per batch is
    ONE ListShards call plus the clock.

    **Exactly-once.** Windows partition the time axis (half-open
    intervals), so every record belongs to exactly one batch. Two
    clock caveats, both bounded by options and documented here rather
    than hidden: (1) ``settleMarginMs`` (default 1500) keeps the
    window's upper edge behind wall-clock so records stamped just
    below the bound by a service clock slightly behind ours are
    already readable when executors scan — the margin must exceed
    driver-vs-service clock skew; (2) per-shard arrival stamps are
    ASSUMED non-decreasing — AWS documents ApproximateArrivalTimestamp
    only as approximate, so this is an assumption about the service's
    ingestion-order stamping, not a documented guarantee. The scan
    therefore does NOT stop at the first out-of-window stamp: it keeps
    reading until a stamp exceeds the window end by ``stopSlackMs``
    (default: the window length, clamped to [1 s, 5 s] — slack-zone
    records are read-and-discarded every batch, so the default bounds
    read amplification at ~2× while covering a full window of stamp
    jitter; an explicit option is honored verbatim), so an in-window
    record sequenced after a slightly-ahead stamp is still found as
    long as per-shard stamp jitter stays under the slack. Records scanned in the slack zone
    but stamped past the end are NOT emitted — the next window's
    half-open interval picks them up, so the slack trades a bounded
    extra read per batch for loss-proofing, never duplicates. Set
    ``stopSlackMs`` to 0 only if you trust strict per-shard stamp
    monotonicity.

    **Parent-before-child without gating.** The Simple reader
    sequences a closed parent before its children across micro-batches
    with drained tombstones. Here the same guarantee is inherent in
    the data: a child shard only receives records after the reshard
    instant, and its parent none after it, so parent records carry
    strictly earlier arrival stamps — time-contiguous global windows
    mean no batch can contain a child record while an EARLIER-stamped
    parent record is still unread. (Within one micro-batch a Spark
    DataFrame is unordered anyway, exactly as a multi-worker KCL fleet
    processes independent shards concurrently.)

    **Bounded batches for free.** Kinesis caps ingest at 1 MB/s/shard,
    so a window of W seconds holds at most W MB per shard — at steady
    state the window IS the trigger interval, so per-batch volume is
    bounded by cadence with no record cap needing executor feedback.
    ``maxWindowMs`` (OPT-IN, no default) additionally paces catch-up
    reads into fixed slices for processing-time triggers. Unpaced
    FIRST edges, deliberate and load-bearing (r13): the engine calls
    ``latestOffset()`` before ``initialOffset()`` and never shows
    planning the checkpointed start, so any synthesized pacing base
    (including the ``startTimestampMs`` anchor) can plan — and Spark
    commits — an offset BELOW a restarted query's checkpoint,
    re-delivering the regressed span. The first window after a
    (re)start is therefore always now-anchored and unpaced (the jar
    connectors' first-batch posture), which also means an
    AvailableNow drain is complete in one unpaced batch regardless of
    pacing options; pacing engages from the second batch, once
    planning has a real base.

    **LATEST** anchors to the query-start wall clock (the offset in
    the checkpoint), i.e. AT_TIMESTAMP(query start) — the same anchor
    the Simple reader's r11 expired-iterator fix re-seeks to, and
    restart-safe because it is IN the committed offset, never
    re-evaluated.

    A shard observed closed at planning time C is pruned from every
    window that starts at or after C (all its records are stamped
    before C); the observation times ride in the offset's ``closed``
    map so pruning survives restarts (until re-observed, an unpruned
    closed shard costs two API calls and reads empty — never wrong).
    """

    def __init__(self, options: dict) -> None:
        self._options = dict(options)
        self._stream = options.get("streamname")
        if not self._stream:
            raise ValueError("kinesis_py requires option 'streamName'")
        self._position = (options.get("initialposition")
                          or TRIM_HORIZON).upper()
        if self._position not in (TRIM_HORIZON, "LATEST"):
            raise ValueError(f"initialPosition {self._position!r}: "
                             "expected TRIM_HORIZON or LATEST")
        self._margin_ms = int(options.get("settlemarginms") or 1500)
        # pacing is OPT-IN and never applies to the FIRST window after
        # a (re)start (see class docstring: a blind paced value can
        # regress a restarted query's committed offsets). Unpaced
        # (default), steady-state windows equal the trigger cadence —
        # already volume-bounded by the 1 MB/s/shard ingest cap — and
        # an AvailableNow drain covers everything in one batch.
        self._max_window_ms = (int(options["maxwindowms"])
                               if options.get("maxwindowms") else None)
        # optional backfill START: a TRIM_HORIZON query's offsets
        # begin here instead of the whole retained history. It TRIMS
        # the first window's left edge; it does NOT pace it — the
        # first window is always unpaced (see class docstring: a
        # blind paced end can regress a restarted query's committed
        # offsets), so a backfill takes [startTimestampMs, now] as
        # batch 1 and maxWindowMs slices engage from batch 2.
        self._start_ts_ms = int(options.get("starttimestampms") or 0)
        self._cl = None
        # high-water mark: the largest offset ts this reader has seen
        # ANYWHERE (planned by it, or observed via partitions/commit
        # after a restart). latestOffset never returns below it, so a
        # driver failover onto a machine with a lagging wall clock
        # cannot commit a regressed offset whose later re-advance
        # would re-deliver rows. Residual window, stated plainly: the
        # FIRST latestOffset after a clean restart has no water mark
        # yet — a clock regression there degrades exactly-once to
        # at-least-once bounded by the skew (the jar connectors share
        # this posture); loss is impossible either way.
        self._last_planned: int | None = None
        self._closed_seen: dict[str, int] = {}
        self._shards_cache: list | None = None

    def _client(self):
        if self._cl is None:
            self._cl = _make_client(self._options)
        return self._cl

    def initialOffset(self) -> dict:
        anchor = self._start_ts_ms if self._position == TRIM_HORIZON \
            else int(time.time() * 1000)
        self._last_planned = anchor
        return {"v": 1, "ts": anchor, "closed": {}}

    def latestOffset(self) -> dict:
        now_ms = int(time.time() * 1000)
        end = now_ms - self._margin_ms
        if self._max_window_ms and self._last_planned:
            # opt-in pacing: catch-up in ≤ maxWindowMs slices. Falsy
            # last_planned — restart, or a fresh query whose FIRST
            # latestOffset() precedes initialOffset() (the engine's
            # order) — leaves that first window UNPACED. Deliberate
            # and load-bearing: a blind paced value anchored at
            # startTimestampMs can land BELOW the checkpointed offset
            # after a restart, and Spark commits whatever latestOffset
            # returns — the regressed offset then re-delivers every
            # record between it and the old checkpoint (duplicates).
            # now-anchored unpaced ends can never regress (modulo the
            # clock-skew caveat the high-water mark note covers).
            end = min(end, self._last_planned + self._max_window_ms)
        if self._last_planned:
            end = max(end, self._last_planned)   # never regress
        self._last_planned = end
        shards = self._client().list_shards(
            StreamName=self._stream)["Shards"]
        self._shards_cache = shards     # reused by this batch's
        for s in shards:                # partitions() call
            if "EndingSequenceNumber" in s.get("SequenceNumberRange", {}):
                self._closed_seen.setdefault(s["ShardId"], now_ms)
        return {"v": 1, "ts": end, "closed": dict(self._closed_seen)}

    def partitions(self, start: dict, end: dict):
        s_ms, e_ms = int(start["ts"]), int(end["ts"])
        # feed the high-water mark from the authoritative checkpoint
        # offsets too, so post-restart planning can never re-regress
        # below a range it has already seen
        self._last_planned = max(self._last_planned or 0, s_ms, e_ms)
        if e_ms <= s_ms:
            return []
        closed = {**start.get("closed", {}), **end.get("closed", {})}
        shards = self._shards_cache     # one ListShards per batch:
        self._shards_cache = None       # use-once, live call on a
        if shards is None:              # recovery replay
            shards = self._client().list_shards(
                StreamName=self._stream)["Shards"]
        parts = []
        for s in shards:
            sid = s["ShardId"]
            c = closed.get(sid)
            if c is not None and int(c) <= s_ms:
                continue        # every record stamped before the window
            parts.append(_ShardRangePartition(sid, s_ms, e_ms,
                                              self._options))
        return parts

    def read(self, partition: _ShardRangePartition):
        """Executor-side GetRecords over one shard's window. Pure
        function of (shard, window) over immutable shard data — wire
        faults (throttles, mid-stream empty pages, expired iterators)
        are followed/retried, never allowed to truncate, because a
        window is a committed range the moment it is planned (the
        Simple reader's replay posture, applied to every read)."""
        opts = partition.options
        sid = partition.shard_id
        s_ms, e_ms = partition.start_ms, partition.end_ms
        # non-zero default: arrival stamps are only approximately
        # monotone per shard (see class docstring) — stopping at the
        # first out-of-window stamp would permanently lose any
        # in-window record sequenced after it. The DEFAULT is capped
        # at the window length: slack-zone records are read-and-
        # discarded every batch, so slack/window is the read
        # amplification factor — a 5 s slack on a 1 s window would
        # re-fetch each record ~6×, and against real Kinesis the
        # 2 MB/s/shard read cap turns that into unbounded lag. The
        # cap bounds amplification at 2× while still covering a full
        # window of stamp jitter (a 1 s floor keeps protection for
        # sub-second windows); an EXPLICIT stopSlackMs is honored
        # verbatim — the caller chose their jitter/read trade.
        if opts.get("stopslackms"):
            slack_ms = int(opts["stopslackms"])
        else:
            slack_ms = default_stop_slack_ms(e_ms - s_ms)
        backoff0 = int(opts.get("throttlebackoffms") or 100) / 1000.0
        stream = opts.get("streamname")
        cl = _make_client(opts)

        def seek(from_ms: int) -> str:
            if from_ms <= 0:
                return cl.get_shard_iterator(
                    StreamName=stream, ShardId=sid,
                    ShardIteratorType=TRIM_HORIZON)["ShardIterator"]
            return cl.get_shard_iterator(
                StreamName=stream, ShardId=sid,
                ShardIteratorType="AT_TIMESTAMP",
                Timestamp=from_ms / 1000.0)["ShardIterator"]

        it = seek(s_ms)
        last_seq = None          # dedup guard across re-seeks
        last_ts_ms = s_ms
        throttle_delay = backoff0
        reseeks = 0
        while it is not None:
            try:
                resp = cl.get_records(ShardIterator=it, Limit=10_000)
            except Exception as e:  # noqa: BLE001 — code-matched below
                code = _err_code(e)
                if code == "ExpiredIteratorException":
                    # re-seek to the last stamp seen; the seq guard
                    # below drops anything refetched at the boundary.
                    # Back off on repeats so a pathological always-
                    # expiring iterator can't spin a tight loop (the
                    # retry itself is unbounded — a window must be
                    # read fully, the throttle posture below)
                    reseeks += 1
                    if reseeks > 1:
                        time.sleep(min(backoff0 * reseeks, 1.0))
                    it = seek(max(s_ms, last_ts_ms))
                    continue
                if code == "ProvisionedThroughputExceededException":
                    # a window must be read fully: back off and retry
                    # without bound (the KCL posture — a permanently
                    # throttled shard blocks the batch by design)
                    time.sleep(throttle_delay)
                    throttle_delay = min(throttle_delay * 2, 2.0)
                    continue
                raise
            done = False
            for rec in resp["Records"]:
                seq = rec["SequenceNumber"]
                if last_seq is not None and int(seq) <= int(last_seq):
                    continue
                ts = rec.get("ApproximateArrivalTimestamp")
                if isinstance(ts, datetime):
                    ts_ms = int(ts.timestamp() * 1000)
                elif ts is None:
                    # arrival-time windows cannot place a stampless
                    # record in any batch — fail loudly rather than
                    # crash the task with an opaque float(None)
                    raise ValueError(
                        f"shard {sid} record seq={seq} has no "
                        "ApproximateArrivalTimestamp; the partitioned "
                        "reader's windowed offsets require it")
                else:
                    ts_ms = int(float(ts) * 1000)
                    ts = datetime.fromtimestamp(float(ts),
                                                tz=timezone.utc)
                last_seq = seq
                last_ts_ms = max(last_ts_ms, ts_ms)
                if ts_ms > e_ms + slack_ms:
                    done = True          # past the window (monotone)
                    break
                if s_ms < ts_ms <= e_ms:
                    yield (sid, seq, rec.get("PartitionKey"),
                           bytes(rec["Data"]), ts)
            if done:
                return
            nxt = resp.get("NextShardIterator")
            if nxt is None:
                return               # SHARD_END: nothing left, ever
            it = nxt
            if not resp["Records"] \
                    and (resp.get("MillisBehindLatest") or 0) <= 0:
                return               # true head: the window is drained
            # mid-stream empty page (MillisBehindLatest > 0): records
            # lie ahead — follow the iterator unconditionally

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; feed the high-water
        # mark so a later latestOffset cannot regress below a
        # committed end
        try:
            self._last_planned = max(self._last_planned or 0,
                                     int(end["ts"]))
        except (KeyError, TypeError, ValueError):
            pass


class KinesisPyDataSource(DataSource):
    """``spark.dataSource.register(KinesisPyDataSource)`` once per
    session, then ``spark.readStream.format("kinesis_py")``.

    Two reader modes behind one format:

    - default (no option): the driver-side ``SimpleDataSourceStreamReader``
      with per-shard SEQ offsets — exact KCL consumption order, the
      dev/modest-scale path;
    - ``option("readerMode", "partitioned")``: one input partition per
      shard, GetRecords on executors, arrival-time-windowed offsets —
      the firehose path (see ``_KinesisPartitionedStreamReader``).
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_py"

    def schema(self) -> str:
        return KINESIS_PY_SCHEMA

    def streamReader(self, schema):
        mode = (self.options.get("readermode") or "simple").lower()
        if mode == "partitioned":
            return _KinesisPartitionedStreamReader(self.options)
        if mode != "simple":
            # a typo must not silently route a firehose through the
            # driver-side fetch path partitioned mode exists to avoid
            raise ValueError(f"readerMode {mode!r}: expected "
                             "'simple' or 'partitioned'")
        from pyspark.errors import PySparkNotImplementedError
        raise PySparkNotImplementedError(   # → simpleStreamReader
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": "streamReader"})

    def simpleStreamReader(self, schema):
        return _KinesisSimpleStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Idempotent per session."""
    spark.dataSource.register(KinesisPyDataSource)
