"""Shared pytest fixtures: one small local SparkSession per test run.

Mirrors the reference's test strategy (SURVEY §5): unit tests over
small inline fixtures plus cross-catalog invariants; the driver's
DuckDB oracle gate covers end-to-end query correctness separately.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from isilon_hadoop_tools_spark.session import get_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session("pytest", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


# ---- shared multi-batch file-stream fixture (streaming tests) ----

import datetime as dt  # noqa: E402
import os  # noqa: E402
import time  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def write_batch(dirpath, name, columns):
    """Write ``columns`` (name -> pyarrow array) as one parquet file:
    one micro-batch under ``maxFilesPerTrigger=1``. The file source
    orders batches by mod-time, hence the pause."""
    pq.write_table(pa.table(columns), os.path.join(dirpath, name))
    time.sleep(0.05)


def file_stream(spark, schema, path, files_per_trigger=1):
    """Parquet file-source stream over ``path``, by default one file
    per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def write_event_batch(dirpath, name, rows):
    """rows: (event_id, ts, event_type, value). One file == one
    micro-batch under maxFilesPerTrigger=1 (mod-time ordered)."""
    write_batch(
        dirpath,
        name,
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
        },
    )


@pytest.fixture()
def stream_dir(tmp_path):
    d = str(tmp_path / "stream")
    os.makedirs(d)
    m = dt.timedelta(minutes=1)
    # batch 1: two events at 12:00h, one at 13:00h
    write_event_batch(d, "b1.parquet", [
        (1, T0, "click", 1.0),
        (2, T0 + 5 * m, "click", 2.0),
        (3, T0 + 65 * m, "view", 3.0),
    ])
    # batch 2: duplicate id 2 and a fresh event
    write_event_batch(d, "b2.parquet", [
        (2, T0 + 6 * m, "click", 2.0),
        (4, T0 + 70 * m, "view", 4.0),
    ])
    # batch 3: a LATE event 3h back. Spark's late-event filter uses the
    # watermark as of the *previous* batch's start (the late/eviction
    # watermark split, SPARK-40925), so the late row must arrive two
    # batches after the watermark-advancing data to be dropped.
    write_event_batch(d, "b3.parquet", [
        (9, T0 - 180 * m, "click", 9.0),
    ])
    return d
