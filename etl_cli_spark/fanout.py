"""Partition sizing, in one place: the compute fan-out of CPU-heavy
per-row operators and the output sizing of MERGE writes. Both read
plans the same way, by walking the Catalyst tree through py4j — never
by parsing its rendered string, where a string literal containing a
newline prints raw and splits a node's line in two.

Compute fan-out. A parquet source parallelizes at row-group
granularity, so a small or badly-laid-out input (one file, one row
group — every sf fixture table, and any packed small-file drop) scans
as ONE task and serializes every downstream per-row computation on one
core (gopher_repetition's gram+md5 pass at sf0.1: 8.8 s on one core,
0.9 s fanned). The fan-out is applied INSIDE the operators whose
per-row work is the expensive part, not at the generic read: for light
shuffle-bound queries the extra exchange is pure overhead (+0.2-0.5 s
per query at sf0.1 when applied globally). The trigger compares the
input's real split count to the session's ``defaultParallelism``, so a
table with thousands of splits adds no exchange. The target stays
``defaultParallelism`` rather than bytes / advisory size: the per-row
cost is CPU, not bytes, and a byte rule would size the 584 KB sf0.1
``documents`` table to ONE partition — the single-task
gopher_repetition again.

Write sizing. A plain-layout MERGE rewrite inherits the target scan's
partitioning, so a table of many tiny files is rewritten as the same
many tiny files and the layout self-perpetuates (a changefeed
downstream once reached 64 files of ~30 KB, with 30 jobs per drain).
:func:`coalesce_by_bytes` sizes rewrites and seed writes from plan
statistics instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Narrow logical operators (exact class names) a scan-rooted plan may
# contain. Anything else (Join, Aggregate, Window, Sort, Repartition*,
# Deduplicate, ...) either introduces its own exchange — after which the
# input is already fanned to spark.sql.shuffle.partitions — or makes the
# ``.rdd`` partition probe UNSAFE: with AQE enabled, converting a plan
# that contains exchanges to an RDD eagerly submits every upstream
# shuffle-map job at operator-construction time, so upstream stages run
# twice and the lazy API gains eager side effects.
_NARROW_NODES = frozenset(
    {
        "LogicalRelation",
        "DataSourceV2Relation",
        "LogicalRDD",
        "LocalRelation",
        "Project",
        "Filter",
        "Generate",
        "SubqueryAlias",
        "View",
        "Union",
        "InMemoryRelation",
    }
)


def plan_nodes(plan):
    """Every node of a Catalyst plan (a py4j handle), the plans of its
    expression subqueries included."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def _scan_rooted(df: DataFrame) -> bool:
    """True iff the analyzed logical plan contains only narrow nodes over
    its source relations — the only shape whose partition count can be
    probed without side effects and whose fan-out a shuffle hasn't
    already performed."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return all(node.nodeName() in _NARROW_NODES for node in plan_nodes(plan))
    except Exception:  # pragma: no cover - exotic sources
        return False


def fan_out_for_compute(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session parallelism iff it is a
    scan-rooted plan that under-fans (see :func:`_scan_rooted`)."""
    if not _scan_rooted(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic sources
        return df
    return df.repartition(target) if nparts < target else df


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``: the listed file bytes of a
    table read, the in-memory columnar size of a materialized cache."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def coalesce_by_bytes(df: DataFrame, *inputs: DataFrame) -> DataFrame:
    """Coalesce ``df`` to ceil(bytes / AQE advisory partition size)
    partitions, where bytes is the summed :func:`plan_bytes` of
    ``inputs``. ``coalesce`` to at least the frame's own partition count
    is a no-op, so where scan splits are already advisory-sized the
    arithmetic disables itself; and it merges input partitions narrowly,
    adding no shuffle. Unknown stats read as Catalyst's huge default,
    which lands in that no-op direction too."""
    spark = df.sparkSession
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    nbytes = sum(plan_bytes(f) for f in inputs)
    return df.coalesce(max(1, min(-(-nbytes // advisory), (1 << 31) - 1)))
