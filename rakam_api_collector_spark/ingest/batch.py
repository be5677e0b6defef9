"""Batch envelope ingestion: parse → route → infer → evolve → typed tables.

The Spark-first re-expression of the reference's
``MessageEventTransformer.createPageTable`` pipeline
(JsonMessageEventTransformer.java:36-64, MessageEventTransformer.java:44-93):

1. **Partial-parse route (D4)** — ``get_json_object`` pulls only
   project/collection, the Jackson-level pruning the reference does in
   KafkaDecoupleMessage.java:46-114.
2. **Single typed parse (D1/D2)** — ``from_json(..., map<string,variant>)``
   keeps JSON token types (number vs string vs bool) in a binary columnar
   encoding; one JVM pass, no Python.
3. **Key normalization** — lowercase fold with first-occurrence-wins via
   ``map_from_entries(reverse(...))`` under LAST_WIN dedup (java:193,
   249-256). Exact duplicate JSON keys are last-wins on the fast path
   (Jackson collapses them before Spark sees the map); pass
   ``first_wins_duplicates=True`` for reference-exact first-wins via an
   Arrow-batched normalizer.
4. **Inference (D5)** — only *first occurrences of unseen fields* ever
   reach the driver (≤ one short row per new column per batch); the data
   itself never collects.
5. **Evolution (K5)** — catalog ``add_columns`` is add-only; the returned
   order is authoritative and the output ``select`` follows it
   (FabricJsonDeserializer.java:266-301), missing columns null-fill.
6. **_shard_time (P1)** — injected as a per-batch constant
   (PageReader.java:55-81); ``lit``/``current_timestamp`` folds to a
   constant, the RLE-block analog.

Scale: step 2 is one codegen'd projection over the raw bytes; the
per-collection loop touches only metadata (the reference loops per table
the same way). 100 same-shape collections → one typed group frame over
one cached scan; a collection's own DataFrame is built only when read
(``IngestResult``), so grouped writes (sinks.py, the manifested commit)
never build it.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.ingest.rules import conversion_expr, infer_type

# routing keys never become user columns (FabricJsonDeserializer.java:78,206)
HIDDEN = ("_project", "_collection", "_shard_time")

FORMATS = {
    # {"project": p, "collection": c, "properties": {...}}
    # (RakamJsonDeserializer.java:123-159); numeric _time → null (:363-377)
    "rakam": {"project": "$.project", "collection": "$.collection",
              "data": "$.properties", "numeric_timestamps": False},
    # {"id":…, "metadata":{…}, "data": {"_project": p, "_collection": c, ...}}
    # (FabricJsonDeserializer.java:62-79); numeric _time = epoch millis
    "fabric": {"project": "$.data._project", "collection": "$.data._collection",
               "data": "$.data", "numeric_timestamps": True},
}


def _first_wins_normalizer(df: DataFrame, col: str) -> DataFrame:
    """Reference-exact duplicate-key semantics (first occurrence wins,
    TestKafkaJsonDeserializer.java:76-93): re-serialize each JSON object
    keeping the first value per lowercased key. Arrow-batched; only for
    compat runs — the fast path never touches Python."""
    def first_wins_pairs(ps: list[tuple[str, Any]]) -> dict[str, Any]:
        # object_pairs_hook runs innermost-first, so nested object values
        # are already dicts by the time the enclosing object is built —
        # nested structure survives (a pair-list hook would re-serialize
        # {"x":{"y":3}} as [["x",[["y",3]]]] and mis-type it as ARRAY).
        out: dict[str, Any] = {}
        for k, val in ps:
            out.setdefault(k.lower(), val)
        return out

    def norm(batches: Iterator) -> Iterator:
        for pdf in batches:
            def fix(s):
                if s is None:
                    return None
                try:
                    obj = json.loads(s, object_pairs_hook=first_wins_pairs)
                except ValueError:
                    return None
                return json.dumps(obj)
            pdf[col] = pdf[col].map(fix)
            yield pdf
    return df.mapInPandas(norm, df.schema)


class IngestResult(Mapping):
    """``{(project, collection): DataFrame}`` plus an ``unpersist()`` handle
    for the caches the collection frames fan out from (the parsed batch
    on the JSON path, the multi-collection decode caches on the Avro
    path). Callers that consume the frames (write, count) should call
    ``unpersist()`` afterwards — on a long-running stream, leaked per-batch
    caches accumulate storage blocks until LRU eviction churns the pool.

    The keys and each collection's catalog column order (``orders``) are
    fixed at ingest; a collection's frame — a filter plus a reorder over
    its schema group's typed frame — is built only when a caller reads
    ``result[(project, collection)]``, then kept. Building one costs tens
    of ms of driver-side plan analysis, so a sink that writes the group
    frames (``groups``) never pays it per collection. Every collection
    sits in exactly one group: the manifested commit gives each group's
    collections the epoch's batch id, and a second group holding the
    same collection would replace the first's batch."""

    def __init__(self, orders: dict[tuple[str, str], list[str]],
                 caches: list[DataFrame], groups: list | None = None):
        self._caches = caches
        #: {(project, collection): [column, ...]} in catalog order
        self.orders = orders
        #: [(project, [collection, ...], group_df)] — one typed frame
        #: per (project, schema-signature) carrying a ``_collection``
        #: column. Grouped sinks write one job per entry instead of one
        #: per collection.
        self.groups = groups or []
        self._group_of = {(p, c): df for p, colls, df in self.groups
                          for c in colls}
        self._views: dict[tuple[str, str], DataFrame] = {}

    def __getitem__(self, key: tuple[str, str]) -> DataFrame:
        view = self._views.get(key)
        if view is None:
            view = (self._group_of[key]
                    .filter(F.col("_collection") == key[1])
                    .select(*self.orders[key]))
            self._views[key] = view
        return view

    def __iter__(self) -> Iterator[tuple[str, str]]:
        return iter(self.orders)

    def __len__(self) -> int:
        return len(self.orders)

    def unpersist(self) -> None:
        for df in self._caches:
            df.unpersist()


def ingest_batch(spark: SparkSession, raw: DataFrame, fmt: str,
                 catalog: Catalog, value_col: str = "value",
                 shard_time=None, first_wins_duplicates: bool = False,
                 time_field: str = "_time",
                 compat: str = "spark", struct_objects: bool = False,
                 ) -> "IngestResult":
    """Ingest one batch of envelope JSON strings into typed, evolved
    per-collection DataFrames keyed by (project, collection).

    Parse errors and records missing project/collection are dropped —
    the reference's log-and-skip poison-pill policy (ST11,
    JsonMessageEventTransformer.java:44-60).
    """
    cfg = FORMATS[fmt]
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # Ingestion stages are parse-bound (JSON extraction + conversion per
    # row), so post-shuffle coalescing must preserve parallelism — the
    # session default optimizes the query path (size-first coalescing,
    # small-stage overhead) and would serialize the parse onto one task
    # (measured 3× throughput loss on the stress shape).
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")

    routed = raw.select(
        F.lower(F.get_json_object(value_col, cfg["project"])).alias("_project"),
        F.get_json_object(value_col, cfg["collection"]).alias("_collection"),
        F.get_json_object(value_col, cfg["data"]).alias("_data"),
        # First-wins ORDER contract: (partition index, row-in-partition).
        # Within one partition this is exact arrival order; across
        # partitions it is partition-layout order, not global arrival
        # order. For the streaming file source (one file per partition,
        # listing-ordered) and Kafka (one topic-partition per split,
        # offset-ordered — the only order the reference has either,
        # KafkaRealTimeWorker poll order) this matches the reference's
        # semantics; a batch spanning shuffled inputs has no defined
        # arrival order for either engine.
        F.monotonically_increasing_id().alias("_seq"),
    ).filter(
        F.col("_project").isNotNull() & F.col("_collection").isNotNull()
        & (F.length("_collection") > 0)        # java:95-103 validation:
        & (F.length("_collection") <= 100)     # empty or >100 chars dropped
        & F.col("_data").isNotNull())

    if first_wins_duplicates:
        routed = _first_wins_normalizer(routed, "_data")

    # lowercase-fold keys, first case-variant wins (reverse + LAST_WIN)
    parsed = routed.withColumn("_m", F.map_from_entries(F.reverse(F.expr(
        "transform(map_entries(from_json(_data, 'map<string,variant>')),"
        " e -> struct(lower(e.key) as key, e.value as value))"))))
    # cached: the fan-out below re-reads this once per collection. The
    # returned IngestResult.unpersist() releases it; streaming callers
    # MUST call it per micro-batch or cached batches pile up.
    parsed = parsed.filter(F.col("_m").isNotNull()).cache()

    # ONE discovery job for the whole batch (all collections): at 100
    # collections a per-collection loop means 100+ driver-sequenced jobs
    # per micro-batch — the design that does NOT survive scale-up.
    new_by_coll = _discover_new_fields(parsed, catalog, time_field,
                                       struct_objects)

    # identical (name, type) columns across collections share one Column
    # object: plan building is driver py4j calls, and 100 collections ×
    # 20 fields of per-collection construction is tens of seconds of
    # pure driver latency without this
    expr_cache: dict[tuple[str, str], F.Column] = {}

    pairs = [(r["_project"], r["_collection"]) for r in
             parsed.select("_project", "_collection").distinct().collect()]

    # Fan-out by SCHEMA GROUP, not by collection: collections whose
    # evolved catalog schema is identical (the common case — fleets of
    # same-shape event tables) share ONE typed projection plan over one
    # IN-filtered frame. Plan construction and write jobs then scale
    # with #distinct schemas, not #collections — at 100 collections ×
    # 20 columns the per-collection loop is ~7 s of pure driver py4j
    # latency per micro-batch; the grouped loop is ~1 plan.
    resolved: dict[tuple[str, str], list] = {}
    for project, collection in sorted(pairs):
        cols = catalog.get_columns(project, collection)
        if cols is None:
            cols = catalog.create_table(project, collection)
        new_fields = new_by_coll.get((project, collection))
        if new_fields:
            cols = catalog.add_columns(project, collection, new_fields)
        resolved[(project, collection)] = cols

    # UNORDERED signature: per-collection column ORDER differs whenever
    # null-deferral appends a field late, but the column SET + types
    # coincide across same-shape collections. The group frame projects
    # in canonical (name-sorted) order; each collection's view then
    # re-selects its own catalog order, so the public contract (catalog
    # column order per collection) is unchanged.
    by_sig: dict[tuple, list] = {}
    for (project, collection), cols in resolved.items():
        sig = (project, tuple(sorted((f.name, f.dataType.simpleString())
                                     for f in cols)))
        by_sig.setdefault(sig, []).append(collection)

    groups: list = []
    for (project, _), collections in by_sig.items():
        canon = sorted(resolved[(project, collections[0])],
                       key=lambda f: f.name)
        df_g = parsed.filter((F.col("_project") == project)
                             & F.col("_collection").isin(collections))
        typed_g = _project_typed(df_g, canon, cfg["numeric_timestamps"],
                                 shard_time, expr_cache, compat,
                                 passthrough=("_collection",))
        groups.append((project, list(collections), typed_g))
    orders = {(p, c): [f.name for f in resolved[(p, c)]]
              for p, colls, _ in groups for c in colls}
    return IngestResult(orders, [parsed], groups)


def _discover_new_fields(parsed: DataFrame, catalog: Catalog,
                         time_field: str, struct_objects: bool = False,
                         ) -> dict[tuple[str, str], list[T.StructField]]:
    """One batch-wide job discovering unseen fields for EVERY collection:
    explode entries once, drop known (collection, key) pairs via a
    broadcast anti-join against the catalog snapshot, take the first
    non-null occurrence per key. Rows reaching the driver are bounded by
    #new columns across the batch, never #records."""
    spark = parsed.sparkSession
    known_rows = [(p, c, f.name)
                  for (p, c) in catalog.tables()
                  for f in catalog.get_columns(p, c)]
    known = spark.createDataFrame(
        known_rows or [("", "", "")],
        "_project string, _collection string, _key string")

    # _m's entries are reversed (the first-wins normalization trick), so
    # recover in-object encounter order as size-1-pos: column append order
    # must match the record's field order (TestKafkaJsonDeserializer
    # ordering pins).
    ents = (parsed.select(
                "_project", "_collection", "_seq",
                F.size("_m").alias("_sz"),
                F.posexplode(F.map_entries("_m")).alias("_rpos", "_e"))
            .select("_project", "_collection", "_seq",
                    (F.col("_sz") - 1 - F.col("_rpos")).alias("_pos"),
                    F.col("_e.key").alias("_key"),
                    F.col("_e.value").alias("_val"))
            .filter(~F.col("_key").isin(*HIDDEN))
            .join(F.broadcast(known),
                  ["_project", "_collection", "_key"], "left_anti")
            # defer null / empty-array / empty-object occurrences
            # (java:505-506,536-540; an all-null array carries no element
            # type either — ARRAY<VOID>), checked on the variant schema
            # so values need no JSON re-encode here
            .filter(~F.schema_of_variant("_val")
                    .isin("VOID", "ARRAY<VOID>", "OBJECT<>")))
    # min_by carries the raw variant; only the ≤ #new-columns winners are
    # JSON-encoded — a cold catalog no longer re-encodes every entry of
    # every record in the batch
    firsts = (ents.groupBy("_project", "_collection", "_key")
              .agg(F.min_by("_val", F.struct("_seq", "_pos")).alias("_v"),
                   F.min(F.struct("_seq", "_pos")).alias("_ord"))
              .select("_project", "_collection", "_key",
                      F.to_json("_v").alias("_js"), "_ord")
              .collect())
    out: dict[tuple[str, str], list[T.StructField]] = {}
    for row in sorted(firsts,
                      key=lambda r: (r["_ord"]["_seq"], r["_ord"]["_pos"])):
        dtype = infer_type(json.loads(row["_js"]),
                           is_time_field=(row["_key"] == time_field),
                           struct_objects=struct_objects)
        if dtype is not None:
            out.setdefault((row["_project"], row["_collection"]),
                           []).append(T.StructField(row["_key"], dtype))
    return out


def _project_typed(df_c: DataFrame, cols: list[T.StructField],
                   numeric_timestamps: bool, shard_time,
                   expr_cache: dict | None = None,
                   compat: str = "spark",
                   passthrough: tuple[str, ...] = ()) -> DataFrame:
    exprs = [F.col(c) for c in passthrough]
    if expr_cache is None:
        expr_cache = {}
    for f in cols:
        if f.name == "_shard_time":
            c = (F.lit(shard_time).cast("timestamp") if shard_time is not None
                 else F.current_timestamp())   # constant-folded: RLE analog
            exprs.append(c.alias(f.name))
            continue
        key = (f.name, f.dataType.simpleString())
        c = expr_cache.get(key)
        if c is None:
            c = conversion_expr(F.element_at("_m", f.name), f.dataType,
                                numeric_timestamps=numeric_timestamps,
                                compat=compat).alias(f.name)
            expr_cache[key] = c
        exprs.append(c)
    return df_c.select(*exprs)
