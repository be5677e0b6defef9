"""DSIR-style data selection — importance resampling of a raw corpus
toward a target distribution (Xie et al., NeurIPS 2023, "Data Selection
for Language Models via Importance Resampling").

The published construction: featurize every document as hashed n-gram
counts (the paper uses unigrams + bigrams into 10k buckets), fit two
bag-of-buckets multinomials — one on the target corpus, one on the raw
corpus — weight each raw document by the log-likelihood ratio
``log w(x) = Σ_b c_b(x)·(log p_target(b) − log p_raw(b))``, then sample
without replacement ∝ w. Sampling uses the Gumbel-top-k identity
(perturb each log-weight with independent Gumbel noise and take the
top k — equivalent to sequential sampling ∝ softmax of the scores),
which turns "weighted sample without replacement over 100 TB" into a
single ``TakeOrderedAndProject``: no global sort, no sequential draws.

Spark shape (the reason each step scales):

- featurization is per-row HOFs (tokens → k-gram ``transform`` →
  ``explode``) — no Python, no shuffle;
- each LM fit collapses the exploded grams straight to ≤ ``buckets``
  rows (map-side combine absorbs hot grams — a stop-word bucket
  reduces to one partial row per map partition);
- the per-document weight path joins the exploded grams against the
  ONE broadcast (bucket → Δlogp) table and sums per doc — a single
  shuffle, keyed by doc id (naturally balanced), because
  ``Σ_b c_b·Δ_b`` equals the per-occurrence sum of Δ;
- selection is Gumbel-perturbed top-k (bounded by k, never a sort).

Hashing is the md5 bucket shared with ``operators/sampling.py`` — not
for speed but because selection must be REPRODUCIBLE OUTSIDE SPARK
(sampling.py module docstring: every engine has md5; xxhash64 seeds
differ across implementations), and the Gumbel noise is the same
seeded md5 uniform, so the selected id set is a pure function of
(corpora, n, buckets, alpha, seed) on any engine.

Reference relation: the reference (rakam-api-collector) has no data-
selection stage — this extends the LLM-pipeline operator family
(SURVEY.md §"beyond the reference") alongside dedup/quality/mixture.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from rakam_api_collector_spark.operators.sampling import hash_bucket
from rakam_api_collector_spark.operators.text import tokens


def _kgrams(t: Column, k: int) -> Column:
    """Space-joined k-grams over an ALREADY MATERIALIZED token array
    (text.bigrams' no-CSE-inside-HOF rule). Docs with < k tokens yield
    an empty array — ``sequence`` would otherwise count DOWN from 1
    and emit phantom grams. Pure per-row map, no shuffle."""
    n = F.size(t)
    if k == 1:
        return t
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.array_join(F.slice(t, i, k), " "))
    ).otherwise(F.array().cast("array<string>"))


def _bucketed_grams(df: DataFrame, id_col: str, text_col: str,
                    n: int, buckets: int,
                    flag: Column | None = None) -> DataFrame:
    """One row per gram OCCURRENCE: (id, bucket) for every 1..n-gram.
    The long format both LM fitting and weighting reduce from — kept
    per-occurrence (not pre-counted) so each consumer pays exactly one
    exchange on ITS key instead of an extra (id, bucket) shuffle.

    ``flag`` (r19) tags every occurrence with a boolean ``_tgt``
    evaluated on the INPUT row before the explode — one cheap column
    riding the gram stream, which is what lets a subset-target DSIR
    fit both LMs from one tokenization (``dsir_scored_weights``
    ``target_pred``)."""
    sel = [F.col(id_col).alias("_id"),
           tokens(F.col(text_col)).alias("_t")]
    out_keys = ["_id"]
    if flag is not None:
        sel.append(flag.cast("boolean").alias("_tgt"))
        out_keys.append("_tgt")
    toks = df.select(*sel)
    grams = F.concat(*[_kgrams(F.col("_t"), k) for k in range(1, n + 1)])
    return toks.select(
        *out_keys, F.explode(grams).alias("_g")
    ).select(*out_keys, hash_bucket(F.col("_g"), buckets).alias("bucket"))


def hashed_ngram_counts(df: DataFrame, id_col: str, text_col: str,
                        n: int = 2, buckets: int = 10_000) -> DataFrame:
    """Per-document hashed n-gram features: (id, bucket, cnt) for
    every 1..n-gram, hashed into ``buckets`` via the cross-engine md5
    bucket. The reusable feature extractor (classifier features,
    corpus diagnostics); the DSIR weight path below skips the
    per-(id, bucket) materialization entirely."""
    return (_bucketed_grams(df, id_col, text_col, n, buckets)
            .groupBy(F.col("_id").alias(id_col), "bucket")
            .agg(F.count("*").alias("cnt")))


def ngram_bucket_logprobs(spark: SparkSession, df: DataFrame,
                          id_col: str, text_col: str, n: int = 2,
                          buckets: int = 10_000,
                          alpha: float = 1.0) -> DataFrame:
    """Bag-of-buckets multinomial of a corpus: exactly ``buckets``
    rows (bucket, logp) under add-``alpha`` smoothing —
    ``logp_b = log((c_b + α) / (C + α·B))`` — densified via a
    range(B) left join so unseen buckets carry their smoothed mass
    explicitly (the weight join must never silently drop a gram that
    only one corpus saw). One aggregate over the exploded grams;
    map-side combine collapses to ≤ B rows per map partition before
    the exchange."""
    counts = (_bucketed_grams(df, id_col, text_col, n, buckets)
              .groupBy("bucket").agg(F.count("*").alias("_c")))
    return _smoothed_logprobs(spark, counts, buckets, alpha)


def _smoothed_logprobs(spark: SparkSession, counts: DataFrame,
                       buckets: int, alpha: float) -> DataFrame:
    """(bucket, logp) for ALL buckets 0..B-1 from a (bucket, _c)
    occurrence-count frame under add-``alpha`` smoothing — the densify
    step shared by the from-text fit above and the feature store's
    incremental-count path below.

    The corpus total C rides an unpartitioned window over the
    ALREADY-DENSIFIED frame (≤ ``buckets`` rows — bounded by the
    parameter, so the single-partition window is fine) instead of a
    separate ``counts.agg(sum)`` broadcast: the agg's broadcast build
    recomputed the whole ``counts`` lineage — for the from-text fit
    that was a SECOND full tokenize+explode pass over the corpus per
    LM fit (guide §2.4: one pass, not two; the window sums the same
    longs, exactly)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (got {alpha}): unsmoothed "
                         "zero-count buckets make the likelihood "
                         "ratio infinite")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return (spark.range(buckets).select(F.col("id").alias("bucket"))
            .join(F.broadcast(counts), "bucket", "left")
            .withColumn("_tot", F.sum("_c").over(w_all))
            .select("bucket",
                    (F.log(F.coalesce(F.col("_c"), F.lit(0))
                           + F.lit(float(alpha)))
                     - F.log(F.coalesce(F.col("_tot"), F.lit(0))
                             + F.lit(float(alpha * buckets))))
                    .alias("logp")))


def dsir_log_weights(raw: DataFrame, target_logp: DataFrame,
                     raw_logp: DataFrame, id_col: str, text_col: str,
                     n: int = 2, buckets: int = 10_000,
                     occ: DataFrame | None = None) -> DataFrame:
    """(id, logw) for every raw document:
    ``logw = Σ_b c_b·(logp_target(b) − logp_raw(b))``, computed as the
    per-occurrence sum of the broadcast Δlogp table (identical by
    linearity — saves the (id, bucket) pre-aggregation shuffle).
    Documents with zero grams get logw = 0 (the empty product), kept
    via the pre-explode frame so selection never silently drops them.
    Exchanges at scale: the map-side-combined occurrence sum keyed by
    doc id, plus the ids-only dedup/outer-join that keeps zero-gram
    docs (rows = ids, no text); the bucket-side joins are all
    broadcast O(buckets). ``occ`` short-circuits the featurization
    with a pre-built (_id, bucket) occurrence frame — the shared-scan
    path ``dsir_scored_weights`` uses so the raw LM fit and this sum
    tokenize once between them."""
    dlp = (target_logp.withColumnRenamed("logp", "_lt")
           .join(F.broadcast(raw_logp.withColumnRenamed("logp", "_lr")),
                 "bucket")
           .select("bucket", (F.col("_lt") - F.col("_lr")).alias("_d")))
    if occ is None:
        occ = _bucketed_grams(raw, id_col, text_col, n, buckets)
    sums = (occ.join(F.broadcast(dlp), "bucket")
            .groupBy("_id").agg(F.sum("_d").alias("logw")))
    return (raw.select(F.col(id_col).alias("_id")).distinct()
            .join(sums, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("logw", F.lit(0.0)).alias("logw")))


def gumbel_noise(key: Column, seed: int = 0) -> Column:
    """Deterministic standard Gumbel draw per key: −log(−log u) with
    ``u = (md5_32(seed:key) + 0.5) / 2³²`` — the +0.5 keeps u strictly
    inside (0, 1), so the double log can never hit ±inf. Same
    cross-engine construction as sampling.uniform_unit, shifted to be
    open-interval-safe."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(str(seed)), key.cast("string"))),
        1, 8), 16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 32))
    return -F.log(-F.log(u))


def dsir_select(spark: SparkSession, raw: DataFrame,
                target: DataFrame | None,
                id_col: str, text_col: str, k: int, n: int = 2,
                buckets: int = 10_000, alpha: float = 1.0,
                seed: int = 0, temperature: float = 1.0,
                weights: DataFrame | None = None,
                target_pred: Column | None = None) -> DataFrame:
    """End-to-end DSIR: fit the two bucket LMs, weight every raw
    document, select k without replacement ∝ w^(1/temperature) via
    Gumbel-top-k — ``score = logw/temperature + Gumbel(seed, id)``,
    descending ``orderBy().limit(k)`` (TakeOrderedAndProject: each
    partition keeps a k-row heap, the driver merges #partitions·k
    rows — never a global sort). Returns (id, logw, score), highest
    score first. ``temperature → 0`` approaches deterministic top-k by
    weight; 1.0 is the paper's sampling. Deterministic for fixed
    (corpora, n, buckets, alpha, seed, temperature) on any engine —
    the md5-based hashing and noise are pure functions of the data.

    Cost shape (measured, STRESS.md operator scaling study): the
    raw corpus has three consumers — the raw LM fit, the
    per-occurrence weight sum, and the ids-only frame — each
    linear-or-better in isolation (×2.1-3.7 wall over ×4 data at
    sf0.1×16). Since r15 the LM fit and the weight sum share ONE
    tokenization via the persisted occurrence frame
    (``dsir_scored_weights(share_scan=True)``, the default); the ids
    frame stays a column-pruned direct read. ``DsirFeatureStore`` is
    the ingest-time form of the same trade — tokenize once EVER.

    Driver bound: TakeOrdered merges #partitions·k rows on the driver
    — right for any k that fits one machine (millions), wrong for
    cluster-scale selections (hundreds of millions); use
    ``dsir_select_fraction`` there.

    ``weights`` short-circuits the whole chain with a pre-computed
    ``dsir_scored_weights`` frame (id, logw, score) — the
    pay-the-corpus-scan-once escape when several selections share one
    weighting.

    ``target_pred`` (r19): when the target corpus is a row-subset of
    ``raw`` (the common in-domain-selection case — e.g. lang='en'),
    pass the membership predicate instead of a separate ``target``
    frame: both LM fits then reduce from ONE tokenization of raw (a
    boolean tag rides the shared occurrence stream), removing the
    whole target tokenize+gram pass (guide §2.4). Equivalent by
    construction — the tagged occurrences of raw.filter(pred) ARE the
    grams of the target corpus. Mutually exclusive with ``target``."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    w = weights if weights is not None else dsir_scored_weights(
        spark, raw, target, id_col, text_col, n, buckets, alpha, seed,
        temperature, target_pred=target_pred)
    return w.orderBy(F.desc("score"), id_col).limit(k)


def dsir_scored_weights(spark: SparkSession, raw: DataFrame,
                        target: DataFrame | None,
                        id_col: str, text_col: str,
                        n: int = 2, buckets: int = 10_000,
                        alpha: float = 1.0, seed: int = 0,
                        temperature: float = 1.0,
                        share_scan: bool = True,
                        target_pred: Column | None = None) -> DataFrame:
    """(id, logw, score) for every raw doc — the shared front half of
    both selection forms, public so a caller can materialize it ONCE
    (persist / write to a table) and feed it to several selections.

    ``share_scan=True`` (default) materializes the raw occurrence
    frame once (_id, bucket — two ints per gram, a lazy
    ``localCheckpoint``) so the raw LM fit and the per-occurrence
    weight sum TOKENIZE ONCE between them: tokenization + gram
    hashing dominate both consumers, and Catalyst does not share a
    subtree across the two aggregation branches on its own. A lazy
    localCheckpoint rather than persist() deliberately: its blocks
    are reclaimed by the ContextCleaner when the frame is
    garbage-collected, so repeated selections in a long session do
    not accrete cache entries no caller holds a handle to (persist()
    entries outlive their DataFrames until an explicit unpersist).
    The trades, stated: storage while the frame lives — O(corpus
    gram count) — and localCheckpoint's lineage truncation, so an
    executor lost AFTER materialization (spot/preemptible nodes,
    aggressive dynamic allocation) fails the downstream action
    instead of recomputing from lineage as persist() would. Pass
    ``share_scan=False`` where executor storage is tighter than CPU
    or executors are preemptible (each consumer then re-tokenizes
    its own scan, the pre-r15 shape); callers wanting both sharing
    AND fault re-computation should materialize
    ``dsir_scored_weights`` themselves (persist + unpersist, or a
    table) and pass ``weights=``. The ids-only frame still reads raw directly
    either way (column-pruned to the id; zero-gram docs must survive).
    ``DsirFeatureStore`` is the stronger form of the same trade —
    tokenize once at INGEST, never again."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0 (got {temperature})")
    if (target is None) == (target_pred is None):
        raise ValueError("pass exactly one of target / target_pred")
    if target_pred is not None:
        # subset target (r19, guide §2.4): ONE tokenization serves
        # both LM fits — the occurrence stream carries a boolean
        # membership tag, the target fit reduces from the tagged rows.
        # Occurrences of raw.filter(pred) ≡ grams of the target
        # corpus, so t_lp is value-identical to a separate fit.
        occ_t = (_bucketed_grams(raw, id_col, text_col, n, buckets,
                                 flag=target_pred)
                 .localCheckpoint(eager=False))
        t_lp = _smoothed_logprobs(
            spark, occ_t.filter("_tgt").groupBy("bucket")
            .agg(F.count("*").alias("_c")), buckets, alpha)
        r_lp = _smoothed_logprobs(
            spark, occ_t.groupBy("bucket").agg(F.count("*").alias("_c")),
            buckets, alpha)
        w = dsir_log_weights(raw, t_lp, r_lp, id_col, text_col, n,
                             buckets, occ=occ_t.select("_id", "bucket"))
        score = (F.col("logw") / F.lit(float(temperature))
                 + gumbel_noise(F.col(id_col), seed))
        return w.select(id_col, "logw", score.alias("score"))
    t_lp = ngram_bucket_logprobs(spark, target, id_col, text_col,
                                 n, buckets, alpha)
    occ = None
    if share_scan:
        occ = _bucketed_grams(raw, id_col, text_col, n, buckets) \
            .localCheckpoint(eager=False)
        r_lp = _smoothed_logprobs(
            spark, occ.groupBy("bucket").agg(F.count("*").alias("_c")),
            buckets, alpha)
    else:
        r_lp = ngram_bucket_logprobs(spark, raw, id_col, text_col,
                                     n, buckets, alpha)
    w = dsir_log_weights(raw, t_lp, r_lp, id_col, text_col, n, buckets,
                         occ=occ)
    score = (F.col("logw") / F.lit(float(temperature))
             + gumbel_noise(F.col(id_col), seed))
    return w.select(id_col, "logw", score.alias("score"))



def dsir_select_fraction(spark: SparkSession, raw: DataFrame,
                         target: DataFrame, id_col: str, text_col: str,
                         fraction: float, n: int = 2,
                         buckets: int = 10_000, alpha: float = 1.0,
                         seed: int = 0, temperature: float = 1.0,
                         relative_error: float = 1e-4,
                         weights: DataFrame | None = None,
                         persist: bool = False) -> DataFrame:
    """The cluster-scale selection form: keep the top ``fraction`` of
    raw by Gumbel-perturbed score WITHOUT any ordered collection —
    estimate the (1−fraction) score quantile with Spark's mergeable
    Greenwald-Khanna sketch (``approxQuantile``, one pass), then
    ``score >= cutoff`` as a row-local filter. Nothing ordered ever
    reaches the driver, so "select 100M of 10B docs" is a sketch pass
    plus a filter pass; |result| = fraction·n ± the sketch's rank
    error (``relative_error``·n — 0.0 makes the cutoff exact at the
    cost of a full-merge quantile). Same determinism contract as
    ``dsir_select``; ``dsir_select`` is the exact-k form for
    driver-sized k.

    The cutoff pass and the filter pass both consume the weight frame,
    and each weight computation scans the raw corpus three times — so
    by default this function costs ~6 raw-corpus scans. Two escapes:
    ``persist=True`` caches the weight frame (MEMORY_AND_DISK) so the
    sketch pass materializes it once and the filter pass reads the
    cache — 3 corpus scans total, the cache living until the caller
    unpersists or the session ends; or pass ``weights=`` (a
    ``dsir_scored_weights`` frame the caller already materialized,
    e.g. written to a table) and the corpus is never re-read here.

    An EMPTY raw corpus yields an empty weight frame; the sketch
    returns no quantile and the selection is the empty frame (same
    contract as ``dsir_select``), never an error."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1] (got {fraction})")
    w = weights if weights is not None else dsir_scored_weights(
        spark, raw, target, id_col, text_col, n, buckets, alpha, seed,
        temperature)
    if persist and weights is None:
        w = w.persist()
    if fraction == 1.0:
        return w
    q = w.approxQuantile("score", [1.0 - fraction], relative_error)
    if not q:                       # empty corpus → empty selection
        return w
    return w.filter(F.col("score") >= q[0])


def dsir_log_weights_from_features(feats: DataFrame, target_logp: DataFrame,
                                   raw_logp: DataFrame,
                                   id_col: str = "_id") -> DataFrame:
    """(id, logw) from PRE-COMPUTED hashed features instead of text:
    ``feats`` is (id, bucket, cnt) with one NULL-bucket row per
    zero-gram document (the DsirFeatureStore layout) — the weight sum
    becomes ``Σ cnt·Δlogp`` over a broadcast Δlogp join, no
    tokenization, no text scan. The from-text path
    (``dsir_log_weights``) and this one agree exactly by linearity."""
    dlp = (target_logp.withColumnRenamed("logp", "_lt")
           .join(F.broadcast(raw_logp.withColumnRenamed("logp", "_lr")),
                 "bucket")
           .select("bucket", (F.col("_lt") - F.col("_lr")).alias("_d")))
    sums = (feats.filter(F.col("bucket").isNotNull())
            .join(F.broadcast(dlp), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("cnt") * F.col("_d")).alias("logw")))
    return (feats.select(id_col).distinct()
            .join(sums, id_col, "left")
            .select(id_col,
                    F.coalesce("logw", F.lit(0.0)).alias("logw")))


class DsirFeatureStore:
    """Persisted hashed-n-gram features + an incrementally-maintained
    raw-corpus LM — DSIR's ingest-time twin: documents are tokenized
    and bucketed ONCE, when they arrive; selection later never
    re-reads text.

    Why this is the 100 TB shape: batch ``dsir_select`` scans the raw
    TEXT corpus three times (raw LM fit, per-occurrence weight sum,
    ids frame), and tokenization dominates each scan. With the store,
    ingestion pays that cost once per document ever —
    ``ingest(batch)`` appends the batch's pre-aggregated (id, bucket,
    cnt) features (≤ min(grams, buckets) integer rows per doc) and its
    B-row bucket-count partial — and ``select(...)`` is then: raw LM =
    one sum over the O(epochs·B)-row counts table (never the corpus),
    weights = one broadcast Δlogp join over the integer features,
    selection = the same Gumbel-top-k / sketch-cutoff tails as the
    batch forms. Results are IDENTICAL to running ``dsir_select`` over
    the accumulated corpus (same md5 chain; pinned in test_dsir), and
    scoring happens at select time against the FULL accumulated LM —
    streaming introduces no early-document weight drift.

    Layout under ``path`` (the sigstore/annindex conventions):
    ``feats/_ingest=<id>/`` (id, bucket, cnt; bucket NULL keeps
    zero-gram docs selectable), ``counts/_ingest=<id>/`` (bucket, _c),
    ``_meta.json`` freezing (n, buckets) — a mismatched reopen raises
    (different bucket spaces silently corrupt every weight).
    Replay idempotency: both writes overwrite their ``_ingest``
    partition in place, so an at-least-once re-delivery (foreachBatch
    epoch replay) replaces rather than double-counts — the
    MinHashStore.ingest contract.

    Lifecycle: a long-running stream accretes one partition pair per
    epoch; ``compact()`` is the maintenance sweep (the run_maintenance
    rhythm) merging them into one partition each, with the replay
    contract preserved THROUGH compaction — merged epoch ids are
    recorded in ``_merged.json`` and a replayed ``ingest`` of a merged
    id is a NO-OP (its rows already live in the compacted blob).
    Crash-recoverable: ids enter the merged record only after the
    compacted partitions are durably written (a single-object commit
    marker — no directory rename, so the protocol runs unchanged on
    an object store via ``meta_store``), any partition whose id is
    recorded merged is garbage by definition, and READS resolve crash
    leftovers from the metadata (``_dead_ids``) — so a reader is
    correct in every crash state without sweeping anything.
    Single-writer like run_maintenance: run compact() in a window
    with no concurrent ingest/select (opens and reads are passive and
    may happen any time, r16)."""

    _FEATS = T.StructType([
        T.StructField("_id", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("_ingest", T.StringType()),   # hive partition
    ])
    _COUNTS = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("_c", T.LongType()),
        T.StructField("_ingest", T.StringType()),
    ])

    def __init__(self, spark: SparkSession, path: str, *,
                 n: int = 2, buckets: int = 10_000,
                 meta_store=None) -> None:
        """``meta_store`` (a :class:`~rakam_api_collector_spark.
        manifest.MetadataStore`) routes the store's PROTOCOL state —
        ``_meta.json``, the ``_merged`` record, blob commit markers,
        partition listings, and maintenance deletes — exactly as the
        manifest routes its txn log (r16, VERDICT r15 item 1): pass an
        ``ObjectMetadataStore`` and the store lives on S3/GCS,
        compaction included. Default: POSIX. Spark data reads/writes
        resolve paths through their own filesystems either way.

        Opening a store is PASSIVE (r16): crashed-compaction recovery
        runs inside ``ingest()``/``compact()`` — operations the
        single-writer maintenance window already excludes — so an open
        during a live ``compact()`` can no longer roll it back; reads
        resolve crash leftovers from the metadata (``_dead_ids``)
        instead of requiring a destructive sweep first."""
        from rakam_api_collector_spark.manifest import resolve_meta_store
        self.meta = resolve_meta_store(path, meta_store,
                                       "DsirFeatureStore")
        self.spark = spark
        self.path = path.rstrip("/")
        meta_path = f"{self.path}/_meta.json"
        # read-first (ADVICE r16): reopening an existing store is a
        # pure GET — a read-only role can open it, and a reader
        # pointed at the wrong path fails on the create instead of
        # silently making a store. Only a genuine first-opener falls
        # through to the atomic create-if-absent, which still settles
        # the two-concurrent-first-openers race: the loser's
        # put_if_absent returns False and the verify below raises on
        # a parameter mismatch
        raw = self.meta.read_if_exists(meta_path)
        if raw is None:
            self.meta.put_if_absent(
                meta_path, json.dumps({"n": n, "buckets": buckets}))
            raw = self.meta.read(meta_path)
        meta = json.loads(raw)
        if (meta["n"], meta["buckets"]) != (n, buckets):
            raise ValueError(
                f"store at {self.path} was built with n={meta['n']} "
                f"buckets={meta['buckets']} — reopening with "
                f"n={n} buckets={buckets} would mix bucket spaces")
        self.n, self.buckets = n, buckets
        self._exists: dict[str, bool] = {}

    # -- merged-epoch record (the compaction/replay contract) ----------------

    @property
    def _merged_path(self) -> str:
        return f"{self.path}/_merged.json"

    def merged_ids(self) -> set[str]:
        """Epoch ids whose rows live in a compacted partition — a
        replayed ingest of one of these is a no-op."""
        raw = self.meta.read_if_exists(self._merged_path)
        return set(json.loads(raw)["ids"]) if raw is not None else set()

    def _record_merged(self, ids: set[str]) -> None:
        # monotone append-only set under the single-writer window —
        # last-writer-wins overwrite is safe (the union is re-derived
        # from blob _inputs.json manifests on the next recovery)
        out = sorted(self.merged_ids() | ids)
        self.meta.put(self._merged_path, json.dumps({"ids": out}))

    def _delete_dir(self, d: str) -> None:
        try:
            self.meta.delete_tree(d)
        except FileNotFoundError:
            pass                      # concurrent sweep won

    def ingest_ids(self) -> set[str]:
        """Every epoch id the store has committed state for: live
        feats partition ids plus ids a compact() folded into a blob —
        the stream wrapper's pre-start audit surface (legacy-id
        detection, streaming/dsirstream.py)."""
        live = {i for i in self._ingest_ids("feats")
                if not i.startswith("_c-")}
        return live | self.merged_ids()

    def _recover_compactions(self) -> None:
        """Converge any compact() that crashed mid-protocol. The
        compact write order makes every crash state decidable from
        the metadata alone (single-writer window — no live ingest
        can own a dir named as some blob's input):

        - a feats ``_c-*`` blob WITHOUT ``_inputs.json``, or whose
          counts twin never went live: the compaction never reached
          its commit point — roll BACK (delete the blob pair; the
          input partitions are still intact and consistent);
        - a feats blob WITH ``_inputs.json`` AND a live counts twin,
          inputs not yet in the merged record: past the commit point —
          roll FORWARD (record the inputs; the leftover sweep then
          deletes their dirs);
        - ``.staging-*`` dirs (pre-r16 protocol leftovers): always
          garbage (hidden from readers, pre-commit) — delete.

        Runs from ``ingest()``/``compact()`` only (r16): both sit
        inside the single-writer window, so the roll-BACK branch can
        never delete a blob a LIVE compactor is still building — the
        race a recovery-on-open had. Reads need no recovery at all:
        they resolve leftovers via ``_dead_ids``."""
        feats_base = f"{self.path}/feats"
        counts_base = f"{self.path}/counts"
        for base in (feats_base, counts_base):
            for d in self.meta.list(base):
                if d.startswith(".staging-"):
                    self._delete_dir(f"{base}/{d}")
        blobs = [d for d in self.meta.list(feats_base)
                 if d.startswith("_ingest=_c-")]
        pending: set[str] = set()
        merged = self.merged_ids()
        for d in blobs:
            raw = self.meta.read_if_exists(
                f"{feats_base}/{d}/_inputs.json")
            if raw is None or not self.meta.is_dir(
                    f"{counts_base}/{d}"):
                if d.split("=", 1)[1] in merged:
                    continue      # a live blob from an OLDER compact
                self._delete_dir(f"{feats_base}/{d}")
                self._delete_dir(f"{counts_base}/{d}")
                continue
            pending |= set(json.loads(raw)["ids"]) - merged
        if pending:
            self._record_merged(pending)

    def _sweep_merged_leftovers(self) -> None:
        """Delete partition dirs whose epoch id is recorded merged —
        crash leftovers between a compact()'s record step and its
        delete step. Garbage by definition: their rows live in the
        compacted blob, and ingest() no-ops on merged ids so no live
        writer can own them."""
        merged = self.merged_ids()
        if not merged:
            return
        for sub in ("feats", "counts"):
            base = f"{self.path}/{sub}"
            for d in self.meta.list(base):
                if d.startswith("_ingest=") \
                        and d.split("=", 1)[1] in merged:
                    self._delete_dir(f"{base}/{d}")

    def compact(self) -> int:
        """Merge every current partition pair into ONE compacted pair
        (``_ingest=_c-<hex>``): select-time cost returns to O(B)
        counts rows and one feats dir regardless of how many epochs
        the stream has run. Returns the number of partitions merged
        (0 = nothing to do). Single-writer maintenance window (class
        docstring). Crash-safe with a SINGLE-OBJECT commit point (r16
        — object stores have no atomic directory rename): the counts
        blob and feats blob land under their final names first — dead
        to every reader until committed (``_dead_ids`` requires the
        ``_inputs.json`` marker) — then the marker's one atomic create
        commits, inputs are recorded merged, and input dirs are
        deleted last. A crash anywhere re-converges on the next
        ingest()/compact() (_recover_compactions + the sweep)."""
        self._recover_compactions()
        self._sweep_merged_leftovers()
        feats_base = f"{self.path}/feats"
        counts_base = f"{self.path}/counts"
        parts = sorted(d.split("=", 1)[1]
                       for d in self.meta.list(feats_base)
                       if d.startswith("_ingest="))
        if len(parts) <= 1:
            return 0
        cid = f"_c-{uuid.uuid4().hex[:12]}"
        # torn counts orphans (ingest crashed pre-commit-point) are
        # excluded from every read; the maintenance window is the safe
        # place to reclaim their dirs
        torn = self._ingest_ids("counts") - self._ingest_ids("feats")
        # post-recovery, one exclusion resolution serves both reads
        dead_f, dead_c = self._dead_ids()
        # 1) counts blob under its FINAL name: uncommitted, it is a
        #    counts orphan with no committed feats twin — excluded
        #    from every read and reclaimed like any torn dir
        (self._counts(dead_c)
         .groupBy("bucket").agg(F.sum("_c").alias("_c"))
         .write.mode("overwrite")
         .parquet(f"{counts_base}/_ingest={cid}"))
        # 2) feats blob (without its marker it rolls BACK, inputs
        #    intact)
        self.feats(dead_f).write.mode("overwrite").parquet(
            f"{feats_base}/_ingest={cid}")
        # 3) COMMIT POINT: one atomic object create
        self.meta.put_if_absent(
            f"{feats_base}/_ingest={cid}/_inputs.json",
            json.dumps({"ids": sorted(parts)}))
        # 4) record every input id (real epochs AND prior _c-* blobs —
        #    their content now lives in the new blob)
        self._record_merged(set(parts))
        # 5) delete the inputs (best-effort: recorded ids are swept on
        #    the next maintenance pass if a crash lands here) + torn
        #    counts orphans
        for sub in ("feats", "counts"):
            for p in parts:
                self._delete_dir(f"{self.path}/{sub}/_ingest={p}")
        for p in torn:
            self._delete_dir(f"{counts_base}/_ingest={p}")
        return len(parts)

    def _read_or_empty(self, sub: str, schema) -> DataFrame:
        if not self._exists.get(sub):
            jvm = self.spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{sub}")
            fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
            if not fs.exists(p):
                return self.spark.createDataFrame([], schema)
            self._exists[sub] = True
        return self.spark.read.schema(schema).parquet(
            f"{self.path}/{sub}")

    def ingest(self, docs: DataFrame, id_col: str, text_col: str,
               ingest_id: str | None = None) -> int:
        """Featurize one batch and persist it under ``ingest_id``
        (overwrite-in-place: replays replace). Returns the number of
        documents ingested — 0 for a replay of an id a compact()
        already merged (its rows live in the compacted blob; the
        replay contract survives compaction). Ids must be unique
        ACROSS batches (the upstream pipeline's stable doc id) —
        re-sending a doc id in a DIFFERENT ingest double-counts it,
        exactly as re-appending it to a batch corpus would.

        NUMERIC-ID CONTRACT: the store persists ids as ``long`` (the
        ``_id`` column of its schema). Ids that are NULL or do not
        cast to a long (e.g. non-numeric strings) raise — silently
        collapsing them to one null row would corrupt the store while
        the batch ``dsir_select`` twin, which never casts, kept
        working on the raw values (r16, ADVICE). Hash string ids to
        int64 upstream (``F.xxhash64``) if the pipeline's doc ids are
        not numeric."""
        iid = ingest_id or uuid.uuid4().hex
        if "/" in iid or iid.startswith(".") or iid.startswith("_c-"):
            raise ValueError(f"invalid ingest_id: {iid!r}")
        # converge any crashed compact() BEFORE consulting merged_ids
        # (a compact that died past its commit point but before its
        # record step would otherwise hide folded ids from the replay
        # check). ingest sits inside the single-writer window, so this
        # can never touch a live compactor's state (r16 — recovery
        # moved here from __init__).
        self._recover_compactions()
        self._sweep_merged_leftovers()
        if iid in self.merged_ids():
            return 0              # compacted epoch replayed: no-op
        # try_cast, not cast: under ANSI a malformed id would abort the
        # job mid-flight with a codegen exception; with ANSI off it
        # would silently null-collapse. try_cast makes the failure
        # deterministic (NULL) so the contract probe below raises the
        # documented error in BOTH modes, before anything is written.
        feats = (docs.select(F.col(id_col).try_cast("long").alias("_id"))
                 .distinct()
                 .join(hashed_ngram_counts(
                     docs.select(F.col(id_col).try_cast("long")
                                 .alias(id_col), text_col),
                     id_col, text_col, self.n, self.buckets)
                     .select(F.col(id_col).alias("_id"),
                             F.col("bucket").cast("int").alias("bucket"),
                             F.col("cnt").cast("long").alias("cnt")),
                     "_id", "left")
                 .localCheckpoint())     # counts derive from the SAME rows
        # numeric-id contract probe and the returned doc count, ONE
        # aggregate over the checkpointed rows (r18, guide §2.4): the
        # previous isEmpty(null-filter) probe plus the post-write
        # distinct().count() were two extra sequential driver jobs per
        # epoch; count_distinct ignores nulls, but the raise below
        # fires on any null before a write lands, so on the success
        # path it equals the old distinct-id count exactly
        probe = feats.agg(
            F.count_distinct("_id").alias("n"),
            F.count(F.when(F.col("_id").isNull(), 1)).alias("bad")
        ).first()
        if probe.bad:
            raise ValueError(
                f"ingest {iid!r}: the id column {id_col!r} contains "
                "null or non-numeric values — DsirFeatureStore ids "
                "must cast losslessly to long (hash string ids with "
                "xxhash64 upstream)")
        # counts FIRST, feats SECOND: the epoch's COMMIT POINT is its
        # feats partition landing — every reader joins counts against
        # the feats-backed ingest ids (_counts), so a crash between
        # the two writes leaves an invisible counts orphan (reclaimed
        # by compact), never a torn epoch whose docs exist without
        # their LM mass. A retry MUST reuse the ingest_id (the stream
        # wrapper's epoch key does): a fresh-id retry re-ingests the
        # documents beside the old partitions and double-counts.
        (feats.filter(F.col("bucket").isNotNull())
         .groupBy("bucket").agg(F.sum("cnt").alias("_c"))
         .write.mode("overwrite")
         .parquet(f"{self.path}/counts/_ingest={iid}"))
        feats.write.mode("overwrite").parquet(
            f"{self.path}/feats/_ingest={iid}")
        return probe.n

    def _ingest_ids(self, sub: str) -> set[str]:
        return {d.split("=", 1)[1]
                for d in self.meta.list(f"{self.path}/{sub}")
                if d.startswith("_ingest=")}

    def _dead_ids(self) -> tuple[list[str], list[str]]:
        """(dead feats ids, dead counts ids) — partitions a correct
        read must exclude, resolved from METADATA at read time (the
        manifest lesson: state lives in the protocol records, not in
        what a listing happens to contain), so crash leftovers never
        corrupt a read even before a maintenance pass sweeps them:

        - ids already folded into a committed blob (merged record) —
          their rows would double against the blob's;
        - ``_c-*`` blobs whose commit never landed (no ``_inputs.json``
          marker or no live counts twin) — their rows duplicate the
          still-live inputs;
        - counts partitions with no live feats twin (torn ingest) —
          their documents are absent from feats, so their gram mass
          must be absent from the LM.

        Almost always both-empty (one listing per side + one small
        read); when empty no filter is added to the plan."""
        feats_ids = self._ingest_ids("feats")
        counts_ids = self._ingest_ids("counts")
        # folded = the authoritative merged set: the _merged record (a
        # cache) UNION every committed blob's own _inputs manifest —
        # so a crash between a compact's commit marker and its record
        # step still excludes the blob's inputs from reads
        folded = self.merged_ids()
        committed_blobs: set[str] = set()
        for i in feats_ids:
            if not i.startswith("_c-"):
                continue
            raw = self.meta.read_if_exists(
                f"{self.path}/feats/_ingest={i}/_inputs.json")
            if raw is not None and self.meta.is_dir(
                    f"{self.path}/counts/_ingest={i}"):
                committed_blobs.add(i)
                folded |= set(json.loads(raw)["ids"])
        live_f = {i for i in feats_ids - folded
                  if (i in committed_blobs if i.startswith("_c-")
                      else True)}
        return (sorted(feats_ids - live_f),
                sorted(i for i in counts_ids if i not in live_f))

    def feats(self, _dead: list[str] | None = None) -> DataFrame:
        """``_dead`` lets one operation resolve ``_dead_ids()`` ONCE
        and share it across its feats/counts views (select does) —
        never cache it across operations: a concurrent process's
        compact() can commit a blob between two operations and a
        stale dead list would wrongly exclude it."""
        df = self._read_or_empty("feats", self._FEATS)
        dead = self._dead_ids()[0] if _dead is None else _dead
        if dead:
            df = df.filter(~F.col("_ingest").isin(dead))
        return df.select("_id", "bucket", "cnt")

    def _counts(self, _dead: list[str] | None = None) -> DataFrame:
        """The COMMITTED counts view: torn epochs, uncommitted blobs,
        and merged leftovers are excluded (``_dead_ids``)."""
        df = self._read_or_empty("counts", self._COUNTS)
        dead = self._dead_ids()[1] if _dead is None else _dead
        if dead:
            df = df.filter(~F.col("_ingest").isin(dead))
        return df

    def raw_logprobs(self, alpha: float = 1.0,
                     _dead: list[str] | None = None) -> DataFrame:
        """The accumulated raw-corpus LM — one aggregate over the
        O(epochs·B)-row counts table, never a corpus scan."""
        counts = (self._counts(_dead)
                  .groupBy("bucket").agg(F.sum("_c").alias("_c")))
        return _smoothed_logprobs(self.spark, counts, self.buckets,
                                  alpha)

    def scored_weights(self, target: DataFrame, id_col: str,
                       text_col: str, alpha: float = 1.0, seed: int = 0,
                       temperature: float = 1.0) -> DataFrame:
        """(_id, logw, score) for every ingested doc against a target
        corpus — the ``dsir_scored_weights`` twin fed from the store;
        feed it to ``dsir_select``/``dsir_select_fraction`` via
        ``weights=``, or use :meth:`select`."""
        if temperature <= 0:
            raise ValueError(
                f"temperature must be > 0 (got {temperature})")
        t_lp = ngram_bucket_logprobs(self.spark, target, id_col,
                                     text_col, self.n, self.buckets,
                                     alpha)
        # resolve crash-leftover exclusions ONCE for both views (on an
        # object store each resolution is a LIST + per-blob GET)
        dead_f, dead_c = self._dead_ids()
        w = dsir_log_weights_from_features(
            self.feats(dead_f), t_lp,
            self.raw_logprobs(alpha, _dead=dead_c))
        score = (F.col("logw") / F.lit(float(temperature))
                 + gumbel_noise(F.col("_id"), seed))
        return w.select("_id", "logw", score.alias("score"))

    def select(self, target: DataFrame, id_col: str, text_col: str,
               k: int, alpha: float = 1.0, seed: int = 0,
               temperature: float = 1.0) -> DataFrame:
        """Gumbel-top-k over the store — identical ids/weights/order
        to ``dsir_select`` on the accumulated corpus with the same
        (n, buckets, alpha, seed, temperature)."""
        return dsir_select(self.spark, None, None, "_id", None, k,
                           weights=self.scored_weights(
                               target, id_col, text_col, alpha, seed,
                               temperature))

    def select_fraction(self, target: DataFrame, id_col: str,
                        text_col: str, fraction: float,
                        alpha: float = 1.0, seed: int = 0,
                        temperature: float = 1.0,
                        relative_error: float = 1e-4) -> DataFrame:
        """The cluster-scale form over the store: sketch-cutoff + a
        row-local filter (``dsir_select_fraction`` semantics), fed
        from the persisted features — nothing ordered reaches the
        driver and text is never re-read."""
        return dsir_select_fraction(
            self.spark, None, None, "_id", None, fraction,
            relative_error=relative_error,
            weights=self.scored_weights(target, id_col, text_col,
                                        alpha, seed, temperature))
