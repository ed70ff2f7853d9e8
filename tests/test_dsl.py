from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.dsl import coerce_value, compile_query, split_key


def test_coerce():
    assert coerce_value("12") == 12
    assert coerce_value("1.5") == 1.5
    assert coerce_value("true") is True
    assert coerce_value("null") is None
    assert coerce_value("abc") == "abc"


def test_split_key_ops_and_nesting():
    assert split_key("price__gte") == ("price", "gte")
    assert split_key("country__code") == ("country.code", "eq")
    assert split_key("a__b__ne") == ("a.b", "ne")
    assert split_key("plain") == ("plain", "eq")


def test_reserved_keys():
    q = compile_query(["_limit=10", "_sort=-uid,name", "_fields=a,b,-c", "_count=1"])
    assert q.limit == 10
    assert q.sort == [("uid", True), ("name", False)]
    assert q.fields_include == ["a", "b"]
    assert q.fields_exclude == ["c"]
    assert q.count is True


def test_bad_item_raises():
    with pytest.raises(ValueError):
        compile_query(["no_equals_sign"])


class TestApply:
    def test_eq_filter(self, engine):
        df = engine.read("region", ["r_name=ASIA"])
        rows = df.collect()
        assert len(rows) == 1 and rows[0].r_name == "ASIA"

    def test_ne_includes_nulls(self, spark):
        df = spark.createDataFrame([("a",), ("b",), (None,)], ["x"])
        got = compile_query(["x__ne=a"]).apply(df).collect()
        assert sorted([r.x for r in got], key=str) == ["b", None] or len(got) == 2

    def test_range_ops(self, engine):
        df = engine.read("part", ["p_size__gte=10", "p_size__lt=20"])
        sizes = [r.p_size for r in df.select("p_size").collect()]
        assert sizes and all(10 <= s < 20 for s in sizes)

    def test_in_nin(self, engine):
        df = engine.read("nation", ["n_name__in=NATION_1,NATION_2"])
        assert df.count() == 2
        n_total = engine.read("nation").count()
        df2 = engine.read("nation", ["n_name__nin=NATION_1,NATION_2"])
        assert df2.count() == n_total - 2

    def test_string_ops(self, engine):
        assert engine.read("part", ["p_type__startswith=ECO"]).count() > 0
        assert engine.read("part", ["p_name__regex=^cold .*get$"]).count() > 0
        assert engine.read("part", ["p_type__icontains=econ"]).count() > 0

    def test_sort_limit(self, engine):
        df = engine.read("lineitem", ["_sort=-l_extendedprice", "_limit=5"])
        prices = [r.l_extendedprice for r in df.collect()]
        assert len(prices) == 5 and prices == sorted(prices, reverse=True)

    def test_count_mode(self, engine):
        got = engine.read("region", ["_count=1"]).collect()
        assert got[0].cnt == 5

    def test_count_limit_min_rule(self, engine):
        # base.py:487-491: total = min(count, _limit)
        assert engine.count("lineitem", ["_limit=7"]) == 7

    def test_fields_projection(self, engine):
        df = engine.read("customer", ["_fields=c_name,c_acctbal"])
        assert df.columns == ["c_name", "c_acctbal"]

    def test_exists(self, spark):
        df = spark.createDataFrame([("a",), (None,)], ["x"])
        assert compile_query(["x__exists=1"]).apply(df).count() == 1
        assert compile_query(["x__exists=0"]).apply(df).count() == 1


def test_flatten_roundtrip(spark):
    from etl_cli_spark.flatten import flatten, unflatten

    df = spark.sql("select 1 as id, named_struct('a', 2, 'b', named_struct('c', 3)) as s")
    flat = flatten(df)
    assert set(flat.columns) == {"id", "s.a", "s.b.c"}
    back = unflatten(flat)
    assert back.schema["s"].dataType.fieldNames() == ["a", "b"]
    assert back.select("s.b.c").collect()[0][0] == 3


def _jobs_submitted(spark, fn):
    """(fn(), number of Spark jobs fn submitted), counted under a fresh
    job group."""
    import uuid

    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# single-split (under-fanned) inputs the gate must recognise as scan-rooted;
# a newline inside a string literal once split the plan's rendered line and
# silently turned the gate off
_UNDER_FANNED = {
    "read": lambda d: d,
    "newline_literal": lambda d: d.select(
        F.concat(F.col("text"), F.lit("a\nb")).alias("text")
    ),
    "filter": lambda d: d.filter(F.col("doc_id") % 2 == 0),
    "union": lambda d: d.filter(F.col("doc_id") % 2 == 0).union(
        d.filter(F.col("doc_id") % 2 == 1)
    ),
}


class TestComputeFanOut:
    """Round-14 scale-adaptive fan-out (fanout.fan_out_for_compute): an
    under-fanned source (single-row-group parquet) must redistribute to
    the session parallelism INSIDE the CPU-heavy operators so per-row
    map work uses every core; already-parallel inputs and the generic
    engine.read path must stay untouched (a global read-side fan-out
    measurably taxed light shuffle-bound queries for nothing)."""

    @pytest.mark.parametrize("shape", sorted(_UNDER_FANNED))
    def test_under_fanned_input_redistributes(self, spark, engine, shape):
        from etl_cli_spark.fanout import fan_out_for_compute

        # documents is one single-row-group file -> 1 split
        df = _UNDER_FANNED[shape](engine.read("documents"))
        assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
        assert (
            fan_out_for_compute(df).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    def test_already_parallel_input_untouched(self, spark, engine):
        from etl_cli_spark.fanout import fan_out_for_compute

        df = engine.read("orders").repartition(
            spark.sparkContext.defaultParallelism
        )
        assert fan_out_for_compute(df) is df

    @pytest.mark.parametrize("shape", ["aggregate", "join"])
    def test_shuffle_rooted_input_is_never_probed(self, spark, engine, shape):
        # with AQE on, an .rdd probe of a plan holding an exchange submits
        # the upstream shuffle jobs at operator-construction time: the gate
        # must decline such plans before probing, so the lazy API stays lazy
        from etl_cli_spark.fanout import fan_out_for_compute

        orders = engine.read("orders")
        if shape == "aggregate":
            df = orders.groupBy("o_custkey").count()
        else:
            cust = engine.read("customer")
            df = orders.join(cust, orders.o_custkey == cust.c_custkey)
        out, jobs = _jobs_submitted(spark, lambda: fan_out_for_compute(df))
        assert out is df
        assert jobs == 0
        # the counter does see the probe the gate avoids
        assert _jobs_submitted(spark, lambda: df.rdd.getNumPartitions())[1] > 0

    def test_cpu_heavy_operator_fans_out(self, spark, engine):
        from etl_cli_spark.operators.text import gopher_quality

        out = gopher_quality(engine.read("documents"))
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    def test_repetition_pass_fans_out_over_newline_text(self, spark, engine):
        # a newline literal in the input's plan once turned the gate off
        # and ran gopher_repetition's gram pass as one task
        from etl_cli_spark.fanout import plan_nodes
        from etl_cli_spark.operators.text import gopher_repetition

        docs = engine.read("documents").withColumn(
            "text", F.concat(F.col("text"), F.lit("\nrepeat me\n"))
        )
        assert docs.rdd.getNumPartitions() == 1
        plan = gopher_repetition(docs)._jdf.queryExecution().optimizedPlan()
        # the per-row pass (the gram explode) reads a round-robin
        # repartition to the session parallelism
        gen = [n for n in plan_nodes(plan) if n.nodeName() == "Generate"]
        assert gen
        for g in gen:
            fans = [
                n.numPartitions()
                for n in plan_nodes(g)
                if n.nodeName() == "Repartition" and n.shuffle()
            ]
            assert fans == [spark.sparkContext.defaultParallelism]

    def test_generic_read_keeps_scan_partitioning(self, spark, engine):
        # light queries must not pay a fan-out exchange at the read
        from etl_cli_spark.fanout import plan_nodes

        plan = (
            engine.read("orders", ["o_orderstatus=F"])
            ._jdf.queryExecution()
            .optimizedPlan()
        )
        assert not [
            n for n in plan_nodes(plan) if n.nodeName().startswith("Repartition")
        ]
