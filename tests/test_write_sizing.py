"""MERGE output sizing (fanout.coalesce_by_bytes): a plain-layout
rewrite or seed write coalesces to ceil(plan bytes / AQE advisory
partition size), where the bytes are the target read's plus the
persisted source's, so a table of many tiny files is not rewritten as
the same many tiny files."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from etl_cli_spark.fanout import plan_bytes
from etl_cli_spark.operators.writeops import ParquetTable, apply_write_op, data_files
from etl_cli_spark.spec import TargetSpec
from partition_checks import drop_log

_UPSERT = TargetSpec(ds="t", op="upsert", pk=("id",))


@contextlib.contextmanager
def _confs(spark, **kv):
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _rows(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") * 7 % 13).alias("v"),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit(tag)), 256).alias("s"),
    )


def _live_files(t: ParquetTable) -> list[str]:
    if t.versions():
        return [os.path.join(t.path, f) for f in t._latest_manifest()[1]["files"]]
    return [os.path.join(t.path, f) for f in data_files(t.path)]


@pytest.fixture(params=[True, False], ids=["plain", "manifest"])
def six_file_table(request, spark, tmp_path):
    """Six files, committed or (``plain``) a directory written without a
    log."""
    t = ParquetTable(spark, str(tmp_path / "t.parquet"))
    t.append(_rows(spark, 0, 600, "a").repartition(6))
    if request.param:
        drop_log(t)
    assert len(_live_files(t)) == 6
    return t


def test_table_read_bytes_are_on_disk_bytes(six_file_table):
    on_disk = sum(os.path.getsize(p) for p in _live_files(six_file_table))
    assert plan_bytes(six_file_table.read()) == on_disk


def test_upsert_rewrites_small_files_to_one(spark, six_file_table):
    apply_write_op(_rows(spark, 590, 610, "b"), six_file_table, _UPSERT)
    assert len(_live_files(six_file_table)) == 1
    assert six_file_table.read().count() == 610


def test_seed_write_from_partitioned_source_is_one_file(spark, tmp_path):
    src = _rows(spark, 0, 600, "a").repartition(6)
    with _confs(
        spark,
        **{
            "spark.sql.shuffle.partitions": "6",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        # the MERGE's pk dedupe leaves the source in 6 partitions
        assert src.dropDuplicates(["id"]).rdd.getNumPartitions() == 6
        t = ParquetTable(spark, str(tmp_path / "seed.parquet"))
        apply_write_op(src, t, _UPSERT)
    assert len(_live_files(t)) == 1
    assert t.read().count() == 600


@pytest.mark.parametrize("advisory", [2048, 12288])
def test_rewrite_files_follow_advisory_size(spark, tmp_path, advisory):
    t = ParquetTable(spark, str(tmp_path / "t.parquet"))
    t.append(_rows(spark, 0, 600, "a").repartition(6))
    # new keys only, in one partition: every input partition of the
    # rewrite is non-empty, so each coalesced partition writes a file
    src = _rows(spark, 600, 610, "b").coalesce(1)
    with _confs(spark, **{"spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory)}):
        # the rewrite's input partitions, and its bytes: the target read
        # plus the persisted, pk-deduped source the MERGE itself builds
        n_in = apply_write_op(
            src, t, TargetSpec(ds="t", op="upsert", pk=("id",), dry_run=True)
        ).rdd.getNumPartitions()
        cached = src.dropDuplicates(["id"]).persist(StorageLevel.MEMORY_AND_DISK)
        cached.count()
        nbytes = plan_bytes(t.read()) + plan_bytes(cached)
        apply_write_op(src, t, _UPSERT)
        cached.unpersist()
    want = min(-(-nbytes // advisory), n_in)
    assert 1 < want
    assert len(_live_files(t)) == want
    assert t.read().count() == 610
