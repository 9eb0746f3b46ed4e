"""The cdc_stream_merge latency mapping: file -> micro-batch -> merge end."""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import gen
from perfbench.workloads import file_commit_times, source_log_batches


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///watch/{name}", "timestamp": 0, "batchId": batch}) + "\n")


def test_mapping_from_a_written_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _log(log / "0", [("f-0.parquet", 0)])
    _log(log / "1", [("f-1.parquet", 1), ("f-2.parquet", 1)])
    # A compacted log repeats earlier entries; the file keeps its batch.
    _log(log / "1.compact", [("f-0.parquet", 0), ("f-1.parquet", 1), ("f-2.parquet", 1)])
    _log(log / ".1.crc", [])
    batches = source_log_batches(str(tmp_path))
    assert batches == {"f-0.parquet": 0, "f-1.parquet": 1, "f-2.parquet": 1}
    assert file_commit_times(batches, [10.0, 12.5]) == {"f-0.parquet": 10.0, "f-1.parquet": 12.5, "f-2.parquet": 12.5}
    # A batch that has not merged yet commits none of its files.
    assert file_commit_times(batches, [10.0]) == {"f-0.parquet": 10.0}


def test_three_file_toy_stream(tmp_path):
    """A real run_stream over three released files: each file maps to the
    merge of the batch that read it, which ends after its release."""
    pytest.importorskip("pyspark")
    from mysql_postgres_debezium_cdc_spark.session import get_session
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import CdcPipeline, ParquetStateSink
    from perfbench.trace import TracedSink
    from perfbench.workloads import RAW_SCHEMA, row_schema

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    spark = get_session("perfbench-toy-stream")
    spec = gen.TableSpec("customers", gen.CUSTOMERS.columns, ("id",), 50)
    watch, pending, ckpt, root = (str(tmp_path / d) for d in ("watch", "pending", "ckpt", "state"))
    os.makedirs(watch)
    os.makedirs(pending)
    names = []
    for i in range(3):
        name = f"f-{i}.parquet"
        gen.write(gen.changelog(1, spec, 20, offset0=i * 20), os.path.join(pending, name))
        names.append(name)
    sink = TracedSink(ParquetStateSink(spark, root, spec.pk, spec.row_cols))
    pipe = CdcPipeline(spark, row_schema(spec), spec.pk, spec.row_cols, root, sink=sink)
    query = pipe.run_stream(spark.readStream.schema(RAW_SCHEMA).parquet(watch), ckpt, trigger_once=False)
    released = {}
    try:
        for name in names:
            released[name] = time.perf_counter()
            os.rename(os.path.join(pending, name), os.path.join(watch, name))
            deadline = time.perf_counter() + 60
            while name not in file_commit_times(source_log_batches(ckpt), sink.merge_ends):
                assert time.perf_counter() < deadline, f"{name} never committed"
                time.sleep(0.05)
    finally:
        query.stop()
        spark.stop()
    batches = source_log_batches(ckpt)
    done = file_commit_times(batches, sink.merge_ends)
    assert batches == {"f-0.parquet": 0, "f-1.parquet": 1, "f-2.parquet": 2}
    assert len(sink.merge_ends) == 3
    for i, name in enumerate(names):
        assert done[name] == sink.merge_ends[i]
        assert done[name] > released[name]
        if i + 1 < len(names):
            assert done[name] < released[names[i + 1]]
