"""Shared materializations have one owner: a scope releases what its
block shared, and nothing an engine-run job shares outlives the job.

The leak cases run ``__spark_entry__.queries()`` entries inside
``scope()`` and assert that the session's CacheManager is empty
afterwards — a lazy operator that persists a base no one releases shows
up here even when its output rows are right."""

from __future__ import annotations

import shutil

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import __spark_entry__ as entry
from conftest import SF_DIR
from etl_cli_spark.share import scope, shared

# queries whose lazy frames sat on a persisted base nobody released
LEAKING = [
    "leakage_split",
    "strip_repeated_spans",
    "strip_spans_indexed",
    "strip_spans_compacted",
    "perplexity_buckets",
    "dedup_minhash",
    "dedup_minhash_cc",
    "dedup_minhash_indexed",
    "dedup_simhash_pairs",
    "dedup_ngram_pairs",
    "dedup_canonical",
    "fuzzy_join",
    "fuzzy_join_indexed",
    "embedding_neardup",
    "image_neardup",
    "image_text_pairs",
    "audio_neardup",
    "video_neardup",
    "write_dry_run",
]


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.fixture(scope="module")
def sf_copy(tmp_path_factory):
    root = tmp_path_factory.mktemp("share_sf") / "sf"
    shutil.copytree(SF_DIR, root)
    return str(root)


@pytest.mark.parametrize("name", LEAKING)
def test_scoped_query_leaves_no_cached_relation(spark, sf_copy, name):
    spark.catalog.clearCache()
    with scope():
        entry.queries()[name](spark, sf_copy).count()
    assert _cache_manager(spark).isEmpty(), f"{name} left a cached relation"


def test_failed_upsert_releases_its_source(spark, tmp_path, monkeypatch):
    from etl_cli_spark.operators.writeops import ParquetTable, apply_write_op
    from etl_cli_spark.spec import TargetSpec

    spark.catalog.clearCache()
    table = ParquetTable(spark, str(tmp_path / "t"))
    table.append(spark.range(20).select(F.col("id"), F.lit("a").alias("v")))
    src = spark.range(10, 30).select(F.col("id"), F.lit("b").alias("v"))

    def boom(self, *a, **kw):
        raise RuntimeError("injected overwrite failure")

    monkeypatch.setattr(ParquetTable, "overwrite", boom)
    with pytest.raises(RuntimeError, match="injected"):
        apply_write_op(src, table, TargetSpec(ds="t", op="upsert", pk=("id",)))
    assert _cache_manager(spark).isEmpty()


def test_inner_scope_keeps_an_outer_owners_cache(spark):
    spark.catalog.clearCache()

    def plan():
        return spark.range(50).select((F.col("id") * 3).alias("x"))

    with scope():
        outer = shared(plan())
        outer.count()
        with scope():
            inner = shared(plan())  # same plan: already cached, not re-owned
            assert inner.storageLevel != StorageLevel.NONE
            own = shared(plan().filter("x > 10"))
            assert own.storageLevel != StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
        assert own.storageLevel == StorageLevel.NONE
    assert _cache_manager(spark).isEmpty()


def test_scope_releases_on_exception_and_unscoped_share_stays(spark):
    spark.catalog.clearCache()
    with pytest.raises(ValueError):
        with scope():
            shared(spark.range(7)).count()
            raise ValueError("fails mid-block")
    assert _cache_manager(spark).isEmpty()
    loose = shared(spark.range(9))  # no scope: the session owns it
    assert loose.storageLevel != StorageLevel.NONE
    loose.unpersist()


def test_async_job_releases_what_its_transformer_shared(spark, tmp_path):
    from etl_cli_spark.engine import Engine
    from etl_cli_spark.functions.registry import register
    from etl_cli_spark.spec import make_spec

    shutil.copy(f"{SF_DIR}/orders.parquet", tmp_path / "orders.parquet")
    seen = []

    @register("share_twice")
    def _share_twice():
        def t(df):
            base = shared(df.withColumn("k", F.col("o_orderkey") % 5))
            seen.append(base.storageLevel)
            return base.filter("k < 2").unionByName(base.filter("k >= 2"))

        return t

    spark.catalog.clearCache()
    eng = Engine(spark, str(tmp_path), job_log=True)
    spec = make_spec(
        "orders", transformers=["share_twice"], target="out/shared_t", op="create"
    )
    st = eng.job_log.poll(eng.run_async(spec), interval=0.2, timeout=120)
    assert st["status"] == "succeeded"
    assert seen and seen[0] != StorageLevel.NONE
    assert _cache_manager(spark).isEmpty()
    assert eng.read("out/shared_t").count() == st["rows_out"]
