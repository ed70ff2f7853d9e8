"""Value-partitioned (hive layout on a real column, e.g. a date) write
ops: update-family ops rewrite only the partitions their source rows
live in; untouched partition files stay byte-identical on disk.

Valid only when the partition column is part of the pk (a row can then
never change partition); otherwise ops fall back to the full staged
rewrite."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.operators.writeops import Layout, ParquetTable, _touched, apply_write_op
from etl_cli_spark.spec import TargetSpec
from partition_checks import (
    assert_delete_scoped,
    assert_failed_swap_rolls_back,
    assert_insert_appends,
    assert_pruned_read,
    assert_upsert_scoped,
    drop_log,
)


@pytest.fixture()
def part_orders(spark, engine, tmp_path):
    """Orders partitioned by o_orderstatus (stands in for a date column);
    pk = (o_orderkey, o_orderstatus) so the partition col is pk-contained."""
    t = ParquetTable(
        spark, str(tmp_path / "orders_v.parquet"), partition_by=("o_orderstatus",)
    )
    t.append(engine.read("orders"))
    return t


PK = ("o_orderkey", "o_orderstatus")


def test_value_layout_roundtrip(part_orders, engine):
    assert part_orders.layout == Layout(("o_orderstatus",))
    assert part_orders.layout.dirs == ("o_orderstatus",)
    assert part_orders.read().count() == engine.read("orders").count()


def test_upsert_touches_only_source_partitions(spark, engine, part_orders):
    orders = engine.read("orders")
    src = (
        orders.filter("o_orderstatus = 'F' AND o_orderkey < 200")
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    )
    assert src.count() > 0
    # every file OUTSIDE o_orderstatus=F is byte-identical
    out = assert_upsert_scoped(part_orders, src, PK)
    assert out.count() == orders.count()  # pure update, no new pks
    # and the F partition was really rewritten with the new values
    got = part_orders.read().filter("o_orderstatus='F' AND o_orderkey < 200")
    base = orders.filter("o_orderstatus='F' AND o_orderkey < 200")
    assert got.agg(F.sum("o_totalprice")).first()[0] == pytest.approx(
        base.agg(F.sum("o_totalprice") + F.count("*")).first()[0]
    )


def test_delete_can_empty_a_partition(spark, engine, part_orders):
    src = engine.read("orders").filter("o_orderstatus = 'P'")
    assert src.count() > 0
    left = assert_delete_scoped(part_orders, src, PK)
    assert left.filter("o_orderstatus = 'P'").count() == 0
    # the drained partition holds no committed file, and the vacuum
    # that drops the replaced files leaves no stale directory
    live = part_orders._latest_manifest()[1]["files"]
    assert not any(part_orders.layout.partition_values(f)[0] == "P" for f in live)
    part_orders.vacuum()
    assert not any(
        e.startswith("o_orderstatus=P") for e in os.listdir(part_orders.path)
    )


def test_insert_prunes_and_appends(spark, engine, part_orders):
    dup = engine.read("orders").filter("o_orderkey < 50")
    new = dup.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    assert_insert_appends(part_orders, dup, new, PK)


def test_failed_swap_rolls_back_and_preserves_data(spark, engine, part_orders, monkeypatch):
    """A value-partitioned write fails like a bucketed one: the update
    touches all three status partitions, the third file move into the
    table fails, and the live table reads exactly as before."""
    src = engine.read("orders").filter("o_orderkey < 40").withColumn(
        "o_orderpriority", F.lit("Z")
    )
    assert_failed_swap_rolls_back(part_orders, src, PK, monkeypatch)


def test_partition_col_not_in_pk_falls_back(spark, engine, tmp_path):
    """pk without the partition col -> rows could change partition, so the
    scoped path must NOT be used (full rewrite still yields correct state)."""
    t = ParquetTable(
        spark, str(tmp_path / "orders_v2.parquet"), partition_by=("o_orderstatus",)
    )
    orders = engine.read("orders")
    t.append(orders)
    # move every 'P' order to status 'F' — the row changes partition
    src = orders.filter("o_orderstatus = 'P'").withColumn("o_orderstatus", F.lit("F"))
    n_moved = src.count()
    apply_write_op(src, t, TargetSpec(ds="t", op="upsert", pk=("o_orderkey",)))
    got = t.read()
    assert got.filter("o_orderstatus = 'P'").count() == 0
    assert got.count() == orders.count()  # moved, not duplicated
    assert got.filter("o_orderstatus = 'F'").count() == (
        orders.filter("o_orderstatus = 'F'").count() + n_moved
    )


def test_bucket_and_partition_mutually_exclusive(spark, tmp_path):
    with pytest.raises(ValueError, match="mutually exclusive"):
        ParquetTable(
            spark, str(tmp_path / "x.parquet"),
            bucket_by=("a",), partition_by=("b",),
        )


def test_scoped_read_partition_prunes(spark, part_orders):
    """The pruned target read must show PartitionFilters on the partition
    column — file groups outside the touched values are never opened."""
    assert_pruned_read(spark, part_orders, ["F"])


def test_touched_values_guards(spark, engine, tmp_path):
    orders = engine.read("orders")
    t = ParquetTable(spark, str(tmp_path / "g.parquet"), partition_by=("s",))
    by_status = orders.withColumn("s", F.col("o_orderstatus"))
    touched, n = _touched(by_status, t, ("o_orderkey", "s"))
    assert set(touched) == {"F", "O", "P"}
    # the same aggregate counts the source
    assert n == orders.count()
    # nulls -> decline the scoped path
    with_null = orders.withColumn(
        "s", F.when(F.col("o_orderkey") == 1, None).otherwise(F.col("o_orderstatus"))
    )
    assert _touched(with_null, t, ("s",))[0] is None
    # the empty string is written as the null partition -> decline
    empty = spark.createDataFrame([("",), ("ok",)], "s string")
    assert _touched(empty, t, ("s",))[0] is None
    # characters Spark escapes in a directory name are matched unescaped
    weird = spark.createDataFrame([("a=b",), ("x/y",), ("p%q",), ("ok",)], "s string")
    assert sorted(_touched(weird, t, ("s",))[0]) == ["a=b", "ok", "p%q", "x/y"]
    # cardinality cap -> decline
    wide = spark.range(5000).select(F.col("id").alias("s"))
    assert _touched(wide, t, ("s",)) == (None, None)
    # a partition column outside the op keys -> not scoped
    assert _touched(by_status, t, ("o_orderkey",)) == (None, None)


@pytest.mark.parametrize("legacy", [True, False], ids=["legacy", "manifest"])
@pytest.mark.parametrize(
    "value, dirname", [("a:b", "s=a%3Ab"), ("x=y/z%", "s=x%3Dy%2Fz%25")],
    ids=["colon", "eq_slash_pct"],
)
def test_upsert_escaped_partition_value(spark, tmp_path, legacy, value, dirname):
    """Spark URL-escapes special characters in hive directory names
    (``s=a:b`` lands in ``s=a%3Ab``). The scoped upsert must read and
    replace that directory, also in a table written without a log
    (``legacy``, adopted by the upsert); matching it by the raw
    value left its rows out of the target read and kept its old files,
    so every upserted key there held its old and its new row."""
    rows = [(k, "ok" if k % 2 == 0 else value, f"v{k}") for k in range(10)]
    schema = "k long, s string, v string"
    t = ParquetTable(spark, str(tmp_path / "esc.parquet"), partition_by=("s",))
    t.append(spark.createDataFrame(rows, schema))
    if legacy:
        drop_log(t)
    assert dirname in os.listdir(t.path)
    src = spark.createDataFrame([(k, s, "new") for k, s, _v in rows[:4]], schema)
    out = apply_write_op(src, t, TargetSpec(ds="t", op="upsert", pk=("k", "s")))
    got = sorted((r.k, r.s, r.v) for r in out.collect())
    assert got == sorted((k, s, "new" if k < 4 else v) for k, s, v in rows)
