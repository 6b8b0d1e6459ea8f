"""Table schema memo (sources/tables.py::_table_schema), and the stream
loader's schema.

Inferring a parquet schema runs a Spark job. ``load_table`` and
``load_stream`` memoize a single-file table's schema under (path,
modification time, length), so reading an unchanged table again submits
no job, and a rewritten file is read with its new schema.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from polars_numba_spark.sources import load_stream, load_table
from polars_numba_spark.sources.tables import DEFAULT_SF_DIR, TABLE_NAMES

# the smallest scale factor, beside the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def test_unchanged_table_is_read_without_a_job(spark, tmp_path, jobs_in_group):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "memo.parquet")
    sf_dir = str(tmp_path)
    # the first read infers the schema: a job, which shows the count works
    assert jobs_in_group(lambda: load_table(spark, "memo", sf_dir)) >= 1
    assert jobs_in_group(lambda: load_table(spark, "memo", sf_dir)) == 0
    assert jobs_in_group(lambda: load_stream(spark, "memo", sf_dir)) == 0
    assert sorted(r.a for r in load_table(spark, "memo", sf_dir).collect()) == [1, 2, 3]


def test_rewritten_table_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "memo.parquet"
    sf_dir = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, "memo", sf_dir).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, "memo", sf_dir)
    assert df.columns == ["a", "b"]
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]
    assert load_stream(spark, "memo", sf_dir).columns == ["a", "b"]


def test_directory_table_is_read_uncached(spark, tmp_path):
    """A directory's modification time misses in-place part-file rewrites,
    so directory tables keep inferring their schema."""
    table_dir = tmp_path / "memo.parquet"
    table_dir.mkdir()
    pq.write_table(pa.table({"a": [1]}), table_dir / "part-0.parquet")
    sf_dir = str(tmp_path)
    load_table(spark, "memo", sf_dir)
    pq.write_table(pa.table({"a": [1], "c": [2.0]}), table_dir / "part-0.parquet")
    assert load_table(spark, "memo", sf_dir).columns == ["a", "c"]


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_stream_schema_is_the_batch_schema(spark, tmp_path, layout):
    """Every table streams with the schema of its batch frame, whether it
    is one parquet file or a directory of part-files."""
    sf_dir = SF
    if layout == "directory":
        sf_dir = str(tmp_path)
        for name in TABLE_NAMES:
            table_dir = tmp_path / f"{name}.parquet"
            table_dir.mkdir()
            shutil.copy(os.path.join(SF, f"{name}.parquet"), table_dir / "part-0.parquet")
    for name in TABLE_NAMES:
        stream = load_stream(spark, name, sf_dir)
        assert stream.isStreaming
        assert stream.schema == load_table(spark, name, sf_dir).schema, name
