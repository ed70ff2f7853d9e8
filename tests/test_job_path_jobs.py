"""Spark jobs the job path does not run, because the driver already
holds the fact they would compute: a write (a zorder included) commits
the schema of the frame it wrote, a logged run's ``rows_out`` and an
unfiltered ``Engine.count`` are the committed snapshot's row count,
the update family counts its source in the touched-partition
aggregate, and a plain parquet source's schema is inferred once per
session while its files are unchanged."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import jobs_submitted
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_cli_spark.engine import Engine
from etl_cli_spark.operators.writeops import ParquetTable, open_index

_LAYOUTS = {
    "bucket": dict(bucket_by=("id",), n_buckets=4),
    # '000'-style strings: a read of the directories would infer int
    "value": dict(partition_by=("p",)),
    "plain": {},
}


def _frame(spark):
    return spark.range(20).selectExpr(
        "id", "id * 1.5 AS v", "lpad(cast(id % 3 AS string), 3, '0') AS p",
        "array(id, id) AS arr", "named_struct('a', id, 'b', cast(id AS string)) AS st",
    )


def _committed_schema(t: ParquetTable) -> str:
    with open(os.path.join(t.path, "_log", f"{t.versions()[-1]:020d}.json")) as f:
        return json.load(f)["schema"]


def _read_back_schema(spark, t: ParquetTable, df) -> str:
    """The schema a Spark read of the committed files infers, with the
    written frame's types pinned where the names match."""
    files = [os.path.join(t.path, f) for f in t._latest_manifest()[1]["files"]]
    inferred = spark.read.option("basePath", t.path).parquet(*files).schema
    by_name = {f.name: f for f in df.schema.fields}
    return StructType([by_name.get(f.name, f) for f in inferred.fields]).json()


# the write's own jobs: a partitioned layout's write repartitions first
_APPEND_JOBS = {"bucket": 2, "value": 2, "plain": 1}


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_manifest_append_runs_the_legacy_jobs(spark, tmp_path, layout):
    """An append commits the frame's schema instead of reading its
    staged files back: it runs only the write's jobs, as many as the
    rename-swap append once did, and commits the schema such a read
    would have inferred."""
    df = _frame(spark)
    man = ParquetTable(spark, str(tmp_path / "man"), **_LAYOUTS[layout])
    man.append(df)
    assert _committed_schema(man) == _read_back_schema(spark, man, df)
    _, man_jobs = jobs_submitted(spark, lambda: man.append(df))
    assert man_jobs == _APPEND_JOBS[layout]
    # a schema-evolving append adds the column after the existing ones
    man.append(df.withColumn("extra", F.lit("x")))
    cols = [f["name"] for f in json.loads(_committed_schema(man))["fields"]]
    assert cols[-1] == "extra" and man.read().filter("extra IS NULL").count() == 40


def test_index_table_commits_the_read_back_schema(spark, tmp_path):
    """An index table partitioned on a column the frame carries (``__bb``)
    commits that column's frame type, last, as a read of its files
    yields it, in the write's own jobs."""
    t = open_index(spark, str(tmp_path / "idx"), "dedup", [("", ("__bb",))])[0]
    df = spark.range(10).selectExpr("id AS doc_id", "cast(id % 4 AS int) AS __bb", "id * 7 AS sig")
    _, jobs = jobs_submitted(spark, lambda: t.overwrite(df))
    assert jobs == _APPEND_JOBS["value"]
    assert _committed_schema(t) == _read_back_schema(spark, t, df)
    assert [f["name"] for f in json.loads(_committed_schema(t))["fields"]] == ["doc_id", "sig", "__bb"]


def _upsert_root(root: str) -> None:
    """A 2000-row source and a 1000-row upsert batch: 700 keys the
    target holds and 300 new ones."""
    n = 2000
    pq.write_table(
        pa.table({"k": np.arange(n), "v": np.arange(n) * 1.5, "s": [f"s{i % 7}" for i in range(n)]}),
        f"{root}/src.parquet",
    )
    ups = np.concatenate([np.arange(0, 1400, 2), np.arange(n, n + 300)])
    pq.write_table(pa.table({"k": ups, "v": ups * 2.0, "s": ["u"] * len(ups)}), f"{root}/ups.parquet")


def _create_upsert(spark, root: str, logged: bool):
    """(create jobs, upsert jobs, upsert result) into a 4-bucket
    manifest target, after one untimed pass so every source schema is
    known to the session."""
    eng = Engine(spark, root, job_log=logged)
    kw = dict(target="out/t", pk="k", n_buckets=4, manifest=True)
    for _ in range(2):
        ParquetTable(spark, f"{root}/out/t.parquet").drop()
        _, create = jobs_submitted(spark, lambda: eng.etl("src", op="create", **kw))
        res, upsert = jobs_submitted(spark, lambda: eng.etl("ups", op="upsert", **kw))
    return create, upsert, res


def test_logged_run_counts_rows_out_without_a_job(spark, tmp_path):
    """``rows_out`` of a logged manifest write is the committed
    snapshot's row count: the job log adds no Spark job, and the count
    is the target's. The upsert, 1000 rows into a 4-bucket manifest
    target, runs 10 jobs: the touched buckets and the source count are
    one aggregate, and the commit learns no schema from the files."""
    root = str(tmp_path)
    _upsert_root(root)
    plain = _create_upsert(spark, root, logged=False)
    logged = _create_upsert(spark, root, logged=True)
    assert logged[:2] == plain[:2]
    assert logged[1] == 10
    res = logged[2]
    assert res.metrics["rows_out"] == 2300
    assert res.metrics["rows_out"] == ParquetTable(spark, f"{root}/out/t.parquet").read().count()


def test_plain_source_schema_inferred_once(spark, tmp_path):
    """A second read of an unchanged plain parquet source runs no job;
    a rewrite with another column shows that column on the next read."""
    eng = Engine(spark, str(tmp_path))
    path = tmp_path / "plain.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    _, first = jobs_submitted(spark, lambda: eng.read("plain"))
    df, second = jobs_submitted(spark, lambda: eng.read("plain"))
    assert (first, second) == (1, 0)
    assert df.columns == ["a"] and df.count() == 3
    pq.write_table(pa.table({"a": [1, 2, 3, 4], "b": ["w", "x", "y", "z"]}), path)
    df = eng.read("plain")
    assert df.columns == ["a", "b"] and df.filter("b = 'z'").count() == 1


def test_sql_over_a_root_with_a_job_log(spark, tmp_path):
    """The job log is registered as ``logs_job``, not read as the
    missing dataset ``logs/job.parquet``."""
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    eng = Engine(spark, str(tmp_path), job_log=True)
    eng.etl("t", target="out/t2", op="create")
    assert eng.sql("SELECT count(*) AS n FROM t").first().n == 3
    assert eng.sql("SELECT count(*) AS n FROM out_t2").first().n == 3
    log = eng.sql("SELECT status, rows_out FROM logs_job").collect()
    assert [(r.status, r.rows_out) for r in log] == [("succeeded", 3)]


@pytest.mark.parametrize("order", ["hive_first", "flat_first"])
def test_ns_timestamps_in_a_hive_directory(spark, tmp_path, order):
    """INT64 nanosecond timestamps under ``k=v`` directories are found
    in the first data file and read as microsecond timestamps, whether
    or not an earlier flat read set ``nanosAsLong`` for the session."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, None)
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    os.makedirs(tmp_path / "hive.parquet" / "p=a")
    pq.write_table(pa.table({"ts": ts, "v": [1]}), tmp_path / "hive.parquet" / "p=a" / "part-0.parquet")
    pq.write_table(pa.table({"ts": ts}), tmp_path / "flat.parquet")
    eng = Engine(spark, str(tmp_path))
    try:
        spark.conf.unset(conf)
        if order == "flat_first":
            eng.read("flat").collect()
        df = eng.read("hive")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        r = df.selectExpr("unix_micros(ts) AS us", "p").first()
        assert (r.us, r.p) == (1_700_000_000_123_456, "a")
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_sql_leaves_job_logging_off(spark, tmp_path):
    """``sql`` on an engine built with ``job_log=False`` looks for a log
    without opening one: a later run is not logged."""
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    eng = Engine(spark, str(tmp_path), job_log=False)
    assert eng.sql("SELECT count(*) AS n FROM t").first().n == 3
    res = eng.etl("t", target="out/t2", op="create")
    assert "job_uid" not in res.metrics
    assert not os.path.exists(tmp_path / "logs" / "job")


def test_sql_skips_an_uncommitted_manifest_table(spark, tmp_path):
    """A top-level manifest table whose first write has not committed
    (its log dir exists, no version) is invisible to ``sql``, not an
    error."""
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    os.makedirs(tmp_path / "pending.parquet" / "_log")
    pq.write_table(pa.table({"a": [9]}), tmp_path / "pending.parquet" / "part-0.parquet")
    eng = Engine(spark, str(tmp_path))
    assert eng.sql("SELECT count(*) AS n FROM t").first().n == 3
    assert not spark.catalog.tableExists("pending")


def test_zorder_commits_the_frames_schema(spark, tmp_path):
    """A zorder commits the schema of the frame it wrote, the same JSON
    a read of its files infers, without the job that read ran."""
    df = _frame(spark).drop("p")
    t = ParquetTable(spark, str(tmp_path / "z"))
    t.append(df)
    t.zorder(["id", "v"], num_partitions=4)
    _, jobs = jobs_submitted(spark, lambda: t.zorder(["id", "v"], num_partitions=4))
    files = [os.path.join(t.path, f) for f in t._latest_manifest()[1]["files"]]
    assert _committed_schema(t) == spark.read.parquet(*files).schema.json()
    assert jobs == 5
    assert sorted(t.read().collect()) == sorted(df.collect())


def test_count_answers_from_the_snapshot(spark, tmp_path):
    """``Engine.count`` of a table with no filtering query item is its
    committed row count, under the ``_limit`` rule, with no Spark job; a
    filter, and a plain parquet file, are counted by Spark."""
    _upsert_root(str(tmp_path))
    eng = Engine(spark, str(tmp_path))
    eng.etl("src", target="out/t", op="create", pk="k", n_buckets=4)
    for query, want in ((None, 2000), (["_limit=7"], 7), (["_sort=-k", "_fields=k"], 2000)):
        n, jobs = jobs_submitted(spark, lambda: eng.count("out/t", query))
        assert (n, jobs) == (want, 0), query
    n, jobs = jobs_submitted(spark, lambda: eng.count("out/t", ["k__lt=10"]))
    assert n == 10 and jobs > 0
    assert eng.count("src") == 2000


def test_default_pk_target_work_shape(spark, tmp_path):
    """A logged ``Engine.run`` into a 4-bucket pk target with no
    ``manifest`` argument commits through the log: create, upsert and
    delete submit 2, 10 and 7 Spark jobs (the rename-swap path this
    replaced ran 5, 14 and 11). Counted after one untimed pass, so every
    source schema is known to the session."""
    root = str(tmp_path)
    _upsert_root(root)
    pq.write_table(pa.table({"k": np.arange(0, 100)}), f"{root}/dels.parquet")
    eng = Engine(spark, root, job_log=True)
    kw = dict(target="out/t", pk="k", n_buckets=4)
    for _ in range(2):
        ParquetTable(spark, f"{root}/out/t.parquet").drop()
        jobs = [
            jobs_submitted(spark, lambda: eng.etl(src, op=op, **kw))[1]
            for src, op in (("src", "create"), ("ups", "upsert"), ("dels", "delete"))
        ]
    assert jobs == [2, 10, 7]
    assert os.path.isdir(f"{root}/out/t.parquet/_log")
    assert eng.count("out/t") == 2300 - 100
