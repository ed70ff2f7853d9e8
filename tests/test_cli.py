from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from etl_cli_spark.cli import main


@pytest.fixture()
def cli_root():
    from conftest import SF_DIR

    tmp = tempfile.mkdtemp(prefix="etl_cli_")
    for t in ("region", "nation", "orders", "customer"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{tmp}/{t}.parquet")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_cli_preview_no_target(cli_root, capsys, spark):
    rc = main(["--root", cli_root, "-s", "orders", "-q", "o_orderstatus=F"])
    assert rc == 0
    rec = json.loads(capsys.readouterr().out)
    assert rec["o_orderstatus"] == "F"


def test_cli_count_only(cli_root, capsys, spark):
    rc = main(["--root", cli_root, "-s", "orders", "--count-only"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip()) == 1500


def test_cli_full_job_with_merger(cli_root, capsys, spark):
    rc = main([
        "--root", cli_root,
        "-s", "orders", "-q", "o_orderstatus=F",
        "-m", "customer", "--mkeys", "o_custkey:c_custkey", "--mmd", "m2s", "--mrm",
        "-t", "out/f_orders", "-o", "upsert:o_orderkey",
        "--job-log",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "out/f_orders" in out

    # job-poll reads the record back
    rc = main(["--root", cli_root, "--job-poll", "last", "-s", "x"])
    assert rc == 0
    st = json.loads(capsys.readouterr().out)
    assert st["status"] == "succeeded"


def test_cli_info(cli_root, capsys, spark):
    rc = main(["--root", cli_root, "-s", "orders", "-q", "o_orderstatus=F",
               "-t", "out/t", "-o", "create", "--info"])
    assert rc == 0
    inf = json.loads(capsys.readouterr().out)
    assert inf["op"] == "create"
    assert inf["source_total"] > 0


def test_cli_dry_run_writes_nothing(cli_root, capsys, spark):
    import os

    rc = main(["--root", cli_root, "-s", "orders", "-t", "out/dryt", "-o", "create", "--dry"])
    assert rc == 0
    assert not os.path.exists(f"{cli_root}/out/dryt.parquet")


def test_cli_partition_by_and_sort_by(cli_root, capsys, spark):
    """--partition-by lays the target out as hive value partitions;
    --sort-by records clustering; a follow-up upsert via the engine path
    stays partition-scoped."""
    import os

    rc = main([
        "--root", cli_root, "-s", "orders",
        "-t", "out/orders_p", "-o", "create",
        "--partition-by", "o_orderstatus", "--sort-by", "o_totalprice",
    ])
    assert rc == 0
    path = f"{cli_root}/out/orders_p.parquet"
    dirs = [e for e in os.listdir(path) if e.startswith("o_orderstatus=")]
    assert len(dirs) >= 2
    import json as _json

    meta = _json.load(open(f"{path}/_etl_bucket_meta.json"))
    assert meta == {"cols": ["o_orderstatus"], "kind": "values", "sort": ["o_totalprice"]}
    # engine upsert against the created table: layout read from disk
    from etl_cli_spark.engine import Engine

    eng = Engine(spark, cli_root)
    res = eng.etl(
        "orders", query=["o_orderstatus=F"], target="out/orders_p",
        op="upsert", pk="o_orderkey,o_orderstatus",
    )
    assert res.df.count() == eng.read("orders").count()


def test_cli_st_alias_source_and_target(cli_root, capsys, spark):
    """--st X == -s X -t X (reference etl.py:88-98): a self-update. Stage
    a copy first so the source exists under a target-writable name."""
    import os

    rc = main([
        "--root", cli_root, "-s", "orders", "-t", "out/self", "-o", "create",
    ])
    assert rc == 0
    rc = main([
        "--root", cli_root, "--st", "out/self",
        "-q", "o_orderkey__lt=100", "-o", "index:o_orderkey",
    ])
    assert rc == 0
    assert os.path.exists(f"{cli_root}/out/self.parquet")
    from etl_cli_spark.engine import Engine

    assert Engine(spark, cli_root).read("out/self").count() == 1500


def test_cli_smt_and_mt_aliases(cli_root, capsys, spark):
    rc = main(["--root", cli_root, "-s", "orders", "-t", "out/smt", "-o", "create"])
    assert rc == 0
    # --smt: source = merger = target; self-join on the pk then upsert back
    rc = main([
        "--root", cli_root, "--smt", "out/smt",
        "--mkeys", "o_orderkey", "--mmd", "s2m", "-o", "upsert:o_orderkey",
    ])
    assert rc == 0
    # --mt: merger = target
    rc = main([
        "--root", cli_root, "-s", "orders", "--mt", "out/smt",
        "--mkeys", "o_orderkey", "--mmd", "s2m", "-o", "upsert:o_orderkey",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "out/smt" in out


def test_cli_diff(cli_root, capsys, spark):
    rc = main([
        "--root", cli_root,
        "-s", "orders", "-q", "o_orderstatus=F",
        "--diff", "orders", "--diff-context", "o_orderkey,o_orderstatus",
    ])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    # queried source vs full table: every non-F row shows on the right side
    assert out[-1].startswith("diff rows: ")
    assert int(out[-1].split(": ")[1]) > 0


def test_cli_contid_converges(cli_root, capsys, spark):
    rc = main([
        "--root", cli_root,
        "-s", "orders", "-q", "o_orderstatus=F",
        "-t", "out/cont", "-o", "insert:o_orderkey",
        "--contid", "self",
    ])
    assert rc == 0
    line = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("contid ")][0]
    assert "converged=True" in line
    # a second chain over the same source finds nothing new to insert
    from etl_cli_spark.engine import Engine

    eng = Engine(spark, cli_root)
    assert eng.read("out/cont").count() == eng.read("orders", ["o_orderstatus=F"]).count()


def test_cli_maintenance_zorder_and_compact(cli_root, capsys):
    from etl_cli_spark.cli import main

    # copy orders into an engine-written table first
    rc = main(["--root", cli_root, "-s", "orders", "-t", "zmt", "--op", "create"])
    assert rc == 0
    rc = main(["--root", cli_root, "-s", "zmt", "--zorder-by", "o_custkey,o_totalprice"])
    assert rc == 0
    assert "z-ordered on o_custkey, o_totalprice" in capsys.readouterr().out
    rc = main(["--root", cli_root, "-s", "zmt", "--compact", "--vacuum"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out and "compacted" in out
    # rows intact after both rewrites
    rc = main(["--root", cli_root, "-s", "zmt", "--count-only"])
    assert rc == 0


def test_cli_time_travel_surface(spark, cli_root, capsys):
    """--versions / --as-of / --changes / --vacuum --retain on a
    table through the CLI."""
    import json as _json

    from etl_cli_spark.cli import main

    # create a table with two versions via two CLI writes
    rc = main(["--root", cli_root, "-s", "orders", "-t", "tt_orders",
               "--op", "create", "--drop"])
    assert rc == 0
    rc = main(["--root", cli_root, "-s", "orders", "-q", "o_orderkey__lt=50",
               "-t", "tt_orders", "--op", "upsert", "--pk", "o_orderkey",
               "--tf", "o_orderkey,o_custkey,o_orderstatus,o_totalprice,"
               "o_orderdate,o_orderpriority"])
    assert rc == 0
    capsys.readouterr()

    rc = main(["--root", cli_root, "-s", "tt_orders", "--versions"])
    assert rc == 0
    vers = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vers == [0, 1]

    rc = main(["--root", cli_root, "-s", "tt_orders", "--as-of", "0"])
    assert rc == 0
    assert "@v0" in capsys.readouterr().out

    rc = main(["--root", cli_root, "-s", "tt_orders", "--changes", "0,1",
               "--pk", "o_orderkey"])
    assert rc == 0
    assert "change rows" in capsys.readouterr().out

    rc = main(["--root", cli_root, "-s", "tt_orders", "--vacuum", "--retain", "2"])
    assert rc == 0
    assert "retain=2" in capsys.readouterr().out
