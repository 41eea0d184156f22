"""``session.load_tables`` builds every scan from a schema read on the
driver from the parquet footer (``session.footer_schema``), so loading
the tables starts no Spark job, and the schema is the one Spark's own
inference would give: for a single file, and for a directory of part
files, where the footer read is the one inference picks."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE
from open_data_pipelines_spark.session import TESTDATA_TABLES, footer_schema, load_tables

SF_DIRS = [os.path.join(os.path.dirname(SF_SMOKE), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]


def test_load_tables_runs_no_spark_job(spark, tmp_path):
    # a fresh copy: new paths, so no scan comes from the session's cache
    for name in os.listdir(SF_SMOKE):
        shutil.copy(os.path.join(SF_SMOKE, name), tmp_path / name)
    sc = spark.sparkContext
    group = "load-tables-no-job"
    sc.setJobGroup(group, "load_tables on a fresh copy")
    try:
        tables = load_tables(spark, str(tmp_path), register_views=True)
    finally:
        sc._jsc.clearJobGroup()
    assert set(tables) == set(TESTDATA_TABLES)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store fills asynchronously
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.fixture(scope="module")
def spark_written(spark, tmp_path_factory):
    """SF_SMOKE's tables as Spark writes them: each a directory of part
    files with a ``_SUCCESS`` marker and ``.crc`` siblings."""
    out = tmp_path_factory.mktemp("spark_written")
    for name, df in load_tables(spark, SF_SMOKE, register_views=False).items():
        df.repartition(3).write.parquet(str(out / f"{name}.parquet"))
    return str(out)


@pytest.mark.parametrize("sf_dir", SF_DIRS + ["spark-written"])
def test_footer_schema_equals_inferred_schema(spark, sf_dir, request):
    if sf_dir == "spark-written":
        sf_dir = request.getfixturevalue("spark_written")
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        got = footer_schema(spark, path)
        # StructType equality covers names, types and nullability
        assert got == inferred, f"{path}: {got.simpleString()} != {inferred.simpleString()}"


def test_load_tables_on_spark_written_tables(spark, spark_written, tmp_path):
    copy = tmp_path / "tables"  # new paths, so no scan comes from the session's cache
    shutil.copytree(spark_written, copy)
    assert len(os.listdir(copy / "orders.parquet")) > 1
    sc = spark.sparkContext
    group = "load-tables-spark-written"
    sc.setJobGroup(group, "load_tables on Spark-written directories")
    try:
        tables = load_tables(spark, str(copy), register_views=True)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    files = load_tables(spark, SF_SMOKE, register_views=False)
    assert set(tables) == set(files)
    for name, df in tables.items():
        assert df.schema == files[name].schema, name
        assert df.exceptAll(files[name]).count() == 0, name
        assert files[name].exceptAll(df).count() == 0, name


A = pa.table({"a": pa.array([1], pa.int64()), "b": pa.array([1.0])})
B = pa.table({"a": pa.array([1], pa.int64()), "c": pa.array(["x"])})
Z = pa.table({"z": pa.array([True])})


@pytest.mark.parametrize(
    "layout, picked",
    [
        # data files only: the first in path order; names Spark's listing
        # skips (leading '.' or '_', '._COPYING_') are never read
        ({"part-1.parquet": B, "part-0.parquet": A, "_SUCCESS": b"", ".part-0.parquet.crc": b"x",
          ".hidden.parquet": Z, "part-2.parquet._COPYING_": b"x", "_temporary/0/part-0.parquet": Z}, A),
        # a _metadata summary wins over the data files
        ({"part-0.parquet": A, "part-1.parquet": B, "_metadata": B}, B),
        # and _common_metadata wins over _metadata
        ({"part-0.parquet": A, "_metadata": B, "_common_metadata": Z}, Z),
        # partition directories are listed; path order picks k=1
        ({"k=2/part-0.parquet": B, "k=1/part-0.parquet": A, "_SUCCESS": b""}, A),
    ],
    ids=["data-files", "metadata", "common-metadata", "partitioned"],
)
def test_footer_schema_picks_the_file_inference_reads(spark, tmp_path, layout, picked):
    table = tmp_path / "t.parquet"
    for rel, content in layout.items():
        f = table / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        if isinstance(content, bytes):
            f.write_bytes(content)  # not parquet: reading its footer would raise
        else:
            pq.write_table(content, f)
    got = footer_schema(spark, str(table))
    inferred = spark.read.parquet(str(table)).schema
    assert got.fieldNames() == picked.column_names
    # inference appends partition columns after the footer's fields
    assert got.fields == inferred.fields[: len(got.fields)]
    assert spark.read.schema(got).parquet(str(table)).schema == inferred


def test_footer_schema_of_an_empty_directory_raises(spark, tmp_path):
    (tmp_path / "t.parquet").mkdir()
    (tmp_path / "t.parquet" / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match="no data file"):
        footer_schema(spark, str(tmp_path / "t.parquet"))
