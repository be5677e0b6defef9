from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from rakam_api_collector_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture
def epoch_jobs(spark, monkeypatch):
    """``{epoch_id: Spark jobs the epoch's foreachBatch ran}`` for the
    streams started while the fixture is active. Jobs are counted by
    ``DAGScheduler.numTotalJobs`` around each call: commits run on pool
    threads that do not inherit a job group, so a job-id range is the
    attribution that sees them. Clear the dict between streams."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs: dict[int, int] = {}
    foreach_batch = DataStreamWriter.foreachBatch

    def counted(writer, func):
        def epoch(df, epoch_id):
            before = dag.numTotalJobs()
            func(df, epoch_id)
            jobs[epoch_id] = dag.numTotalJobs() - before
        return foreach_batch(writer, epoch)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", counted)
    return jobs
