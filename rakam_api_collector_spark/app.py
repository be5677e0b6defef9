"""Config-driven bootstrap — the ServiceStarter analog.

The reference wires its runtime from config + DI modules
(ServiceStarter.java:58-115: source module kafka|kinesis at :160-163,
target module S3|RAPTOR at :187-213, deserializer choice
KafkaStreamSourceModule.java:26-60). Here the same selections are one
config dict:

    {
      "format": "fabric" | "rakam" | "avro",     # deserializer choice
      "source": {"type": "file", "path": …}      # tested source
              | {"type": "kafka", "brokers": […], "topics": […], …}
              | {"type": "kinesis", "stream": …, "region": …, "app": …,
                 "connector": "jar" | "python",  # python = jar-less
                 "endpoint": …, "position": …,   #   format("kinesis_py")
                 "max_records_per_shard": …},
      "target": {"type": "parquet", "base": …},   # every stream
                                                  # commits parquet
      "catalog_path": …,                          # K5 metastore persistence
      "checkpoint": …,                            # ST7
      "historical": {"dir": …, "checkpoint": …},  # ST5 (optional)
      "dedup": true,                              # ST6
      "outdated_day_index": 1,                    # ST3 window
      "state_partitions": 8,                      # ST6 state sizing
                                                  # (≈ keys-per-batch /
                                                  # a few thousand;
                                                  # pinned at first
                                                  # batch by Spark)
      "manifested": true,                         # K1 version protocol
      "maintenance": {"every_epochs": 16, …},     # shard-organizer
                                                  # daemon cadence
                                                  # (manifest.
                                                  # MaintenanceHook
                                                  # kwargs; requires
                                                  # manifested)
      # avro-only (KafkaAvroMessageTransformer.java:33-57 hot path):
      "project": …,                               # schemas come from catalog
      "default_collection": …,                    # for type-0/1 frames
      "bulk_base": …,                             # S4 object-store root
    }

``start`` returns the running StreamingQuery list (realtime first).
Every query runs with the A2 per-collection counters and the ST11
error-rate kill-switch on at the reference thresholds (>40% of >100
records failed within 5 minutes stops the query), each query its own
pair, read as ``query.stats`` (``committer.IngestStats``) and
``query.error_monitor`` (``committer.ErrorRateMonitor``).
Kafka/Kinesis branches require their connector jars (sources/kafka.py,
sources/kinesis.py); the file branch is the in-environment path and
exercises the identical downstream pipeline.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.streaming.committer import (ErrorRateMonitor,
                                                           IngestStats)
from rakam_api_collector_spark.streaming.pipeline import (
    start_avro_historical_stream, start_avro_ingest_stream,
    start_historical_stream, start_ingest_stream)


def start(spark: SparkSession, cfg: dict) -> list:
    src = cfg["source"]
    tgt = cfg["target"]
    fmt = cfg.get("format", "fabric")
    if fmt not in ("fabric", "rakam", "avro"):
        raise ValueError(f"unknown format {fmt!r}")
    if tgt.get("type", "parquet") != "parquet":
        # "orc" included: every stream commits parquet
        raise ValueError(f"unknown target type {tgt.get('type')!r}: "
                         "streams commit parquet only")
    if "layout" in cfg:
        # a config written for the Hive-style grouped layout: starting
        # it would silently change the deployment's on-disk layout
        raise ValueError("the 'layout' key is no longer supported: "
                         "tables are per-collection dirs, and manifested "
                         "mode already writes one job per schema group")
    if fmt == "avro" and "project" not in cfg:
        # Avro schemas come from the catalog, keyed by project — there is
        # no wire-level project field (AvroUtil.java:30-73)
        raise ValueError("avro format requires 'project' in config")

    catalog = Catalog(cfg.get("catalog_path"))
    hist = cfg.get("historical") or {}
    manifested = cfg.get("manifested", False)
    queries = []

    def counters() -> dict:
        # one pair per stream: each query's foreachBatch runs on its
        # own thread, and the counters are not shared-state safe
        return {"stats": IngestStats(), "error_monitor": ErrorRateMonitor()}

    if manifested:
        # downstream consumers read the committed tables through
        # spark.read/readStream.format("manifest") (datasource.py)
        from rakam_api_collector_spark.datasource import register
        register(spark)

    source_path = None
    source_stream = None
    hist_stream = None
    kin = src["type"] == "kinesis"
    if src["type"] == "file":
        source_path = src["path"]
    elif src["type"] == "kafka":
        from rakam_api_collector_spark.sources.kafka import (
            historical_reader, kafka_available, realtime_reader)
        if not kafka_available(spark):
            raise RuntimeError("kafka source configured but the "
                               "spark-sql-kafka connector jar is absent")
        # value bytes → the identical pipeline the file source feeds
        # (KafkaRealTimeWorker.java:145-222); JSON formats cast value to
        # string downstream, avro consumes the bytes as-is
        source_stream = realtime_reader(
            spark, src["brokers"], src["topics"],
            offset=src.get("offset", "latest")).load()
        if src.get("historical_topic"):
            # S2: the historical topic is the spool (30-min cadence,
            # KafkaHistoricalWorker.java:157-219)
            hist_stream = historical_reader(
                spark, src["brokers"], src["historical_topic"]).load()
    elif kin:
        if src.get("connector", "jar") == "python":
            # the jar-less format("kinesis_py") DataSource — any
            # boto3-shaped endpoint, incl. the local file-backed
            # emulator ("local:<dir>"); see sources/kinesis.py for
            # the driver-side-fetch scale trade
            from rakam_api_collector_spark.sources.kinesis import \
                register as _register_kinesis
            _register_kinesis(spark)
            reader = (spark.readStream.format("kinesis_py")
                      .option("streamName", src["stream"]))
            for opt, key in (("region", "region"),
                             ("endpoint", "endpoint"),
                             ("initialPosition", "position"),
                             ("maxRecordsPerShard",
                              "max_records_per_shard")):
                if src.get(key) is not None:
                    reader = reader.option(opt, str(src[key]))
            source_stream = reader.load()
        else:
            from rakam_api_collector_spark.sources.kinesis import \
                kinesis_reader
            # raises RuntimeError when no connector jar is present
            source_stream = kinesis_reader(
                spark, src["stream"], src["region"], src["app"]).load()
    else:
        raise ValueError(f"unknown source type {src['type']!r}")

    if fmt == "avro":
        # deserializer selection parity: KafkaStreamSourceModule.java:26-60
        # binds the AVRO vs JSON transformer per config key
        queries.append(start_avro_ingest_stream(
            spark, source_path, catalog, tgt["base"],
            checkpoint=cfg["checkpoint"],
            project=cfg["project"],
            default_collection=cfg.get("default_collection"),
            historical_dir=hist.get("dir"),
            dedup=cfg.get("dedup", True),
            outdated_day_index=cfg.get("outdated_day_index", 1),
            trigger=cfg.get("trigger"),
            shard_time=cfg.get("shard_time"),
            now=cfg.get("now"),
            source="kinesis" if kin else "kafka",
            bulk_base=cfg.get("bulk_base"),
            source_stream=source_stream,
            errors_dir=cfg.get("errors_dir"),
            manifested=manifested,
            maintenance=cfg.get("maintenance"),
            state_partitions=cfg.get("state_partitions"),
            **counters()))
        if hist.get("dir") or hist_stream is not None:
            queries.append(start_avro_historical_stream(
                spark, hist.get("dir"), catalog, tgt["base"],
                checkpoint=hist.get("checkpoint",
                                    cfg["checkpoint"] + "_hist"),
                project=cfg["project"],
                default_collection=cfg.get("default_collection"),
                trigger=hist.get("trigger",
                                 None if hist_stream is None
                                 else {"processingTime": "30 minutes"}),
                shard_time=cfg.get("shard_time"),
                source="kinesis" if kin else "kafka",
                bulk_base=cfg.get("bulk_base"),
                source_stream=hist_stream,
                errors_dir=cfg.get("errors_dir"),
                manifested=manifested,
                **counters()))
        return queries

    queries.append(start_ingest_stream(
        spark, source_path, fmt, catalog, tgt["base"],
        checkpoint=cfg["checkpoint"],
        historical_dir=hist.get("dir"),
        dedup=cfg.get("dedup", True),
        outdated_day_index=cfg.get("outdated_day_index", 1),
        trigger=cfg.get("trigger"),
        shard_time=cfg.get("shard_time"),
        now=cfg.get("now"),
        source_stream=source_stream,
        errors_dir=cfg.get("errors_dir"),
        manifested=manifested,
        maintenance=cfg.get("maintenance"),
        state_partitions=cfg.get("state_partitions"),
        **counters()))

    if hist.get("dir") or hist_stream is not None:
        queries.append(start_historical_stream(
            spark, hist.get("dir"), fmt, catalog, tgt["base"],
            checkpoint=hist.get("checkpoint", cfg["checkpoint"] + "_hist"),
            trigger=hist.get("trigger",
                             None if hist_stream is None
                             else {"processingTime": "30 minutes"}),
            shard_time=cfg.get("shard_time"),
            source_stream=hist_stream,
            errors_dir=cfg.get("errors_dir"),
            manifested=manifested,
            **counters()))
    return queries
