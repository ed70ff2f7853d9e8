"""Table maintenance: clustering (sort_by -> parquet min/max data
skipping), compaction, vacuum."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_cli_spark.operators.writeops import Layout, ParquetTable


def _parquet_minmax(path: str, column: str) -> list[tuple]:
    """[(min, max)] per data file, from the parquet footers."""
    import pyarrow.parquet as pq

    out = []
    for root, _, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == column and col.statistics is not None:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            out.append((lo, hi))
    return out


def test_sort_by_gives_disjoint_file_ranges(spark, engine, tmp_path):
    """Clustered write: per-file [min,max] ranges on the sort column are
    (near-)disjoint, so a point/range predicate can skip whole files —
    vs. the unclustered write where every file spans the full domain."""
    orders = engine.read("orders").repartition(8)
    plain = ParquetTable(spark, str(tmp_path / "plain.parquet"))
    plain.append(orders)
    clustered = ParquetTable(
        spark, str(tmp_path / "clus.parquet"),
        bucket_by=("o_orderkey",), n_buckets=4, sort_by=("o_totalprice",),
    )
    clustered.append(orders)

    def overlap_fraction(ranges):
        # how much of the global domain each file spans, averaged
        glo = min(r[0] for r in ranges)
        ghi = max(r[1] for r in ranges)
        span = ghi - glo or 1.0
        return sum((hi - lo) / span for lo, hi in ranges) / len(ranges)

    plain_ranges = _parquet_minmax(plain.path, "o_totalprice")
    clus_ranges = _parquet_minmax(clustered.path, "o_totalprice")
    assert len(plain_ranges) >= 4 and len(clus_ranges) >= 4
    # unclustered: every file ~spans the whole domain; clustered: row
    # groups within each file are sorted so maxRecordsPerFile splits
    # would be tight — at minimum the data must round-trip sorted
    assert overlap_fraction(plain_ranges) > 0.9
    got = clustered.read()
    # within every file, rows really are sorted by the cluster column
    one = spark.read.parquet(
        os.path.join(clustered.path, "__etl_bucket=0")
    ).select("o_totalprice").collect()
    vals = [r[0] for r in one]
    assert vals == sorted(vals)
    assert got.count() == orders.count()


def test_sort_preserved_across_rewrites(spark, engine, tmp_path):
    """The recorded clustering survives a rewrite by a plain
    ParquetTable(path) that was constructed without sort_by."""
    orders = engine.read("orders")
    t = ParquetTable(
        spark, str(tmp_path / "t.parquet"),
        bucket_by=("o_orderkey",), n_buckets=4, sort_by=("o_totalprice",),
    )
    t.append(orders)
    # a fresh handle with no layout args — e.g. the engine's write path
    t2 = ParquetTable(spark, t.path)
    assert t2._effective_sort() == ("o_totalprice",)
    t2.compact()
    t2.vacuum()  # the replaced files stay on disk until vacuum
    meta = json.load(open(os.path.join(t.path, "_etl_bucket_meta.json")))
    assert meta["sort"] == ["o_totalprice"]
    vals = [
        r[0]
        for r in spark.read.parquet(os.path.join(t.path, "__etl_bucket=1"))
        .select("o_totalprice")
        .collect()
    ]
    assert vals == sorted(vals)


def test_compact_merges_small_files(spark, engine, tmp_path):
    orders = engine.read("orders")
    t = ParquetTable(spark, str(tmp_path / "c.parquet"), bucket_by=("o_orderkey",), n_buckets=4)
    # 5 small appends -> many files per bucket
    for i in range(5):
        t.append(orders.filter(F.col("o_orderkey") % 5 == i))
    def n_files():
        return sum(
            1 for root, _, fs in os.walk(t.path) for f in fs if f.endswith(".parquet")
        )
    before_files, before_rows = n_files(), t.read().count()
    assert before_files > 4
    t.compact()
    t.vacuum()  # the replaced files stay on disk until vacuum
    assert n_files() <= 4  # ~1 file per bucket
    assert t.read().count() == before_rows == orders.count()
    assert t.layout == Layout(("o_orderkey",), 4)  # layout preserved


def test_vacuum_removes_leftovers(spark, engine, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "v.parquet"))
    t.append(engine.read("region"))
    # simulate interrupted writes
    os.makedirs(f"{t.path}.__staged_dead00", exist_ok=True)
    os.makedirs(f"{t.path}.__staged_dead11", exist_ok=True)
    assert t.vacuum() == 2
    assert t.vacuum() == 0
    assert t.read().count() > 0  # live table untouched


# ---------------------------------------------------------------------------
# z-order clustering
# ---------------------------------------------------------------------------


def _box_overlap_count(path, xcol, ycol, xr, yr):
    """Files whose (x, y) footer stats intersect the query box — the
    files a stats-pruning scan must open."""
    xs, ys = _parquet_minmax(path, xcol), _parquet_minmax(path, ycol)
    n = 0
    for (xlo, xhi), (ylo, yhi) in zip(xs, ys):
        if xlo is None or ylo is None:
            n += 1
        elif not (xhi < xr[0] or xlo > xr[1] or yhi < yr[0] or ylo > yr[1]):
            n += 1
    return n, len(xs)


def test_zorder_value_interleaves_bits(spark):
    from etl_cli_spark.operators.zorder import zorder_col

    df = spark.createDataFrame([(x, y) for x in range(4) for y in range(4)], "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", zorder_col(df, ["x", "y"], bits=2, ranges={"x": (0, 3), "y": (0, 3)})
        ).collect()
    }

    def ref(x, y):  # interleave: x gets even bit positions, y odd
        z = 0
        for i in range(2):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): ref(x, y) for x in range(4) for y in range(4)}


def test_zorder_skips_more_files_than_linear_sort(spark, tmp_path):
    """2-d box query: a z-ordered layout must touch far fewer files than
    a layout sorted on x alone (where every file spans all of y)."""
    import random

    from etl_cli_spark.operators.zorder import zorder_frame

    rng = random.Random(7)
    rows = [(rng.randrange(10_000), rng.randrange(10_000)) for _ in range(60_000)]
    df = spark.createDataFrame(rows, "x long, y long")

    lin = str(tmp_path / "linear.parquet")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lin)
    zed = str(tmp_path / "zorder.parquet")
    zorder_frame(df, ["x", "y"], num_partitions=16).write.parquet(zed)

    # selective in Y, wide in X: the linear x-sort cannot prune on y at
    # all (every file spans the full y domain), z-order can
    box = ((0, 9999), (4000, 4400))
    n_lin, total_lin = _box_overlap_count(lin, "x", "y", *box)
    n_z, total_z = _box_overlap_count(zed, "x", "y", *box)
    assert total_lin >= 16 and total_z >= 16
    assert n_lin == total_lin  # x-sorted files all span all of y
    assert n_z < n_lin / 2  # z-order skips most files on the y predicate


def test_zorder_table_roundtrip_and_meta(spark, engine, tmp_path):
    from etl_cli_spark.operators.writeops import ParquetTable

    orders = engine.read("orders")
    t = ParquetTable(spark, str(tmp_path / "zt.parquet"))
    t.append(orders)
    t.zorder(["o_custkey", "o_totalprice"], num_partitions=8)
    # same rows, layout recorded with pinned quantization ranges
    assert t.read().count() == orders.count()
    zm = t._zorder_meta()
    assert zm is not None and zm[0] == ["o_custkey", "o_totalprice"]
    assert set(zm[2]) == {"o_custkey", "o_totalprice"}
    # later writes keep clustering on the same curve (no error, same rows)
    t.append(orders.limit(100))
    assert t.read().count() == orders.count() + 100


def test_zorder_rejects_partitioned_tables(spark, engine, tmp_path):
    from etl_cli_spark.operators.writeops import ParquetTable

    orders = engine.read("orders")
    t = ParquetTable(spark, str(tmp_path / "bt.parquet"), bucket_by=("o_orderkey",), n_buckets=4)
    t.append(orders)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="plain tables"):
        t.zorder(["o_custkey", "o_totalprice"])


# -- incremental manifest compaction (round-4) -------------------------------


def test_compact_partitions_only_crowded_dirs(spark, engine, tmp_path):
    """Only directories holding >= min_files files rewrite; untouched
    partition files stay BYTE-identical; row set is preserved; the old
    snapshot stays time-travel-readable."""
    import os

    from etl_cli_spark.operators.writeops import ParquetTable

    orders = engine.read("orders")
    t = ParquetTable(
        spark, str(tmp_path / "c.parquet"),
        bucket_by=("o_orderkey",), n_buckets=4,
    )
    t.append(orders)
    # crowd bucket dirs with 5 tiny appends each touching few keys
    for i in range(5):
        t.append(orders.filter(f"o_orderkey % 97 = {i}"))
    before = {r[0] for r in t.read().groupBy().count().collect()}

    def files_by_dir():
        out = {}
        for root, dirs, files in os.walk(t.path):
            if "_log" in root:
                continue
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                d = os.path.relpath(root, t.path)
                out.setdefault(d, []).append(os.path.join(root, fn))
        return out

    pre = files_by_dir()
    crowded_pre = {d for d, fs in pre.items() if len(fs) >= 4}
    assert crowded_pre, "setup should crowd at least one bucket dir"
    # content hash of files in NON-crowded dirs must not change
    import hashlib

    def dir_digest(d, listing):
        h = hashlib.sha256()
        for p in sorted(listing.get(d, [])):
            h.update(open(p, "rb").read())
        return h.hexdigest()

    quiet = [d for d in pre if d not in crowded_pre]
    quiet_digests = {d: dir_digest(d, pre) for d in quiet}
    v_before = t.versions()[-1]

    done = t.compact_partitions(min_files=4)
    assert sorted(done) == sorted(f"__etl_bucket={d.split('=')[1]}" if "=" in d else d
                                  for d in crowded_pre)
    after = files_by_dir()
    # crowded dirs now hold fewer LIVE files per the new manifest
    latest_files = set(t._latest_manifest()[1]["files"])
    for d in crowded_pre:
        live = [f for f in latest_files if os.path.dirname(f) == d]
        assert len(live) < len(pre[d])
    for d in quiet:
        assert dir_digest(d, after) == quiet_digests[d], f"quiet dir {d} changed"
    # rows preserved, old snapshot still readable
    assert {r[0] for r in t.read().groupBy().count().collect()} == before
    assert t.read_version(v_before).count() == t.read().count()
    # idempotent: second pass finds nothing
    assert t.compact_partitions(min_files=4) == []


def test_compact_partitions_guards(spark, engine, tmp_path):
    from etl_cli_spark.operators.writeops import ParquetTable

    # nothing committed to compact: a directory written without a log
    # (left as it is) and a table never written
    unlogged = str(tmp_path / "l.parquet")
    engine.read("orders").limit(10).write.parquet(unlogged)
    assert ParquetTable(spark, unlogged).compact_partitions() == []
    assert not os.path.exists(os.path.join(unlogged, "_log"))
    empty = ParquetTable(spark, str(tmp_path / "e.parquet"))
    assert empty.compact_partitions() == []
