"""Layout-generic checks for partition-scoped write ops, shared by the
pk-hash bucket tests (test_bucketed_writeops.py) and the value-partition
tests (test_value_partitioned_writeops.py): both layouts are one
mechanism, so each behaviour is asserted by the same code on both."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.operators.writeops import apply_write_op
from etl_cli_spark.spec import TargetSpec


def snapshot(path):
    """{relpath: bytes} of every file under the table dir."""
    snap = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                snap[os.path.relpath(p, path)] = fh.read()
    return snap


def partitions_of(t, df) -> set[str]:
    """Directory values (as directory text) the rows of ``df`` live in."""
    col = t.layout.dirs[0]
    return {str(r[0]) for r in t.layout.with_dirs(df).select(col).distinct().collect()}


def partition_files(t, snap) -> dict[str, str]:
    """{relpath: directory value} of the data files in partition dirs."""
    out = {}
    for p in snap:
        v = t.layout.partition_values(p)[0]
        if v is not None and p.endswith(".parquet"):
            out[p] = v
    return out


def assert_pruned_read(spark, t, values):
    """The pruned read carries a partition filter on the directory
    column naming exactly ``values``, and returns exactly those
    partitions' rows."""
    df = t.read_partitions(values)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    col = t.layout.dirs[0]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and col in m.group(1), plan
    filt = m.group(1).replace(" ", "")
    assert all(str(v) in filt for v in values), filt
    assert col not in df.columns or col in t.layout.keys
    want = t.layout.with_dirs(t.read()).filter(F.col(col).isin(list(values)))
    assert df.count() == want.count()


def assert_upsert_scoped(t, src, pk):
    """Upsert ``src``: only the source rows' partitions change on disk;
    every other partition file stays byte-identical. Returns the new
    target state."""
    before = snapshot(t.path)
    touched = partitions_of(t, src)
    out = apply_write_op(src, t, TargetSpec(ds="t", op="upsert", pk=pk))
    after = snapshot(t.path)
    changed = {
        t.layout.partition_values(p)[0]
        for p in (set(before) ^ set(after))
        | {p for p in before if p in after and before[p] != after[p]}
    } - {None}
    assert changed == touched
    untouched = [p for p, v in partition_files(t, before).items() if v not in touched]
    assert untouched and all(before[p] == after.get(p) for p in untouched)
    return out


def assert_delete_scoped(t, victims, pk):
    """Delete ``victims`` by pk: their rows are gone, every other row
    stays, and files outside their partitions stay byte-identical."""
    n_before, nv = t.read().count(), victims.count()
    touched = partitions_of(t, victims)
    before = snapshot(t.path)
    out = apply_write_op(victims, t, TargetSpec(ds="t", op="delete", pk=pk))
    assert out.count() == n_before - nv
    assert out.join(victims.select(*pk), on=list(pk), how="left_semi").count() == 0
    after = snapshot(t.path)
    same = [p for p, v in partition_files(t, before).items() if v not in touched]
    assert all(before[p] == after.get(p) for p in same)
    return out


def assert_insert_appends(t, dup, fresh, pk):
    """Insert ``dup`` (keys already in the table) plus ``fresh`` (new
    keys): only ``fresh`` lands, and no existing partition file is
    rewritten."""
    n_before = t.read().count()
    before = snapshot(t.path)
    out = apply_write_op(
        dup.unionByName(fresh), t, TargetSpec(ds="t", op="insert", pk=pk)
    )
    assert out.count() == n_before + fresh.count()
    after = snapshot(t.path)
    olds = partition_files(t, before)
    assert olds and all(after.get(p) == before[p] for p in olds)
    return out


def assert_failed_swap_rolls_back(t, src, pk, monkeypatch):
    """A rename failure mid-way through moving a write's files into the
    table leaves the live table exactly as it was: the files already
    moved belong to no commit."""
    before = t.read().orderBy(*pk).collect()
    versions = t.versions()
    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(a, b):
        # let the first two file moves succeed, then fail mid-ingest
        if a.endswith(".parquet"):
            calls["n"] += 1
            if calls["n"] == 3:
                raise OSError("injected ingest failure")
        return real_rename(a, b)

    monkeypatch.setattr("etl_cli_spark.operators.writeops.os.rename", flaky_rename)
    with pytest.raises(OSError, match="injected"):
        apply_write_op(src, t, TargetSpec(ds="t", op="update", pk=pk))
    monkeypatch.undo()
    assert calls["n"] == 3
    assert t.versions() == versions
    assert t.read().orderBy(*pk).collect() == before


def drop_log(t):
    """Make ``t``'s directory one written without a log, as versions
    before the log and plain ``df.write.parquet`` leave it: its data
    and layout files stay. Valid while every write to ``t`` was an
    append (a rewrite leaves replaced files only the log hides)."""
    shutil.rmtree(os.path.join(t.path, "_log"))
