"""CLI entry point — the reference's argparse surface, Spark-side.

Flag names mirror /root/reference/etl_cli/etl.py:27-74 and base.py:110-144
(``-s/-q/-t/-o`` plus the merger/target/orchestration families). The
same env-var overlay applies through make_spec (``SPARK_ETL__*``).

Behavioral parity with the reference's entry points (SURVEY §3):
no target -> preview one record; ``--info`` -> pre-flight description;
``--count-only`` -> source count; otherwise run the job (wildcard
sources fan out) and print row counts.

Usage:
    python -m etl_cli_spark --root /data -s orders -q o_orderstatus=F \
        -m customer --mkeys o_custkey:c_custkey --mmd m2s \
        -t out/f_orders -o upsert:o_orderkey
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Sequence

from .spec import make_spec


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_cli_spark", description=__doc__.split("\n")[0])
    p.add_argument("--root", required=True, help="engine root (dataset namespace base)")
    p.add_argument("-s", "--source", help="source dataset uri (required unless polling/settings)")
    # combined-dataset aliases (reference etl.py:29-31, expansion 88-98)
    p.add_argument("--st", help="one uri as BOTH source and target")
    p.add_argument("--smt", help="one uri as source, merger AND target")
    p.add_argument("--mt", help="one uri as BOTH merger and target")
    p.add_argument("-q", "--query", action="append", default=[], help="query item k=v (repeatable)")
    p.add_argument("--str", dest="transformers", action="append", default=[],
                   help="source transformer name[:args] (repeatable)")
    # merger family
    p.add_argument("-m", "--merger", help="merger dataset uri")
    p.add_argument("--mkeys", help="match keys: k or src:mrg, comma-separated")
    p.add_argument("--mq", action="append", default=[], help="merger pre-join query item")
    p.add_argument("--mmd", default=None, choices=["s2m", "m2s"],
                   help="merge direction (required when -m is set)")
    p.add_argument("--mrm", action="store_true", help="require match (inner)")
    p.add_argument("--mrnm", action="store_true", help="require NO match (anti)")
    p.add_argument("--mmo", action="store_true", help="match one")
    p.add_argument("--mmo-order", help="deterministic order for --mmo (comma cols, - = desc)")
    p.add_argument("--munwind", action="store_true", help="one row per match")
    p.add_argument("--mstrict", action="store_true", help="null-safe key equality")
    p.add_argument("--mma", help="nest match under this field")
    p.add_argument("--mrules", help="merge-rules policy name")
    p.add_argument("--mtr", action="append", default=[], help="merger post_read transformer")
    p.add_argument("--mtr-post-merge", action="append", default=[], help="post-merge transformer")
    p.add_argument("--murl", help="http url backing the merger dataset")
    # target family
    p.add_argument("-t", "--target", help="target dataset uri (omit = preview)")
    p.add_argument("-o", "--op", default="create", help="write op, optionally op:pk")
    p.add_argument("--pk", help="primary key column(s), comma-separated")
    p.add_argument("--tf", help="target fields projection, comma-separated")
    p.add_argument("--tq", action="append", default=[], help="target scope query item")
    p.add_argument("--skip-by", help="anti-join key for insert")
    p.add_argument("--skip-timestamp", action="store_true")
    p.add_argument("--overwrite", help="per-field overwrite policy, comma-separated")
    p.add_argument("--drop", action="store_true", help="drop target first")
    p.add_argument("--dry", action="store_true", help="dry run (no writes)")
    p.add_argument("--tmap", help="registered schema name applied on write")
    p.add_argument("--buckets", type=int, dest="n_buckets",
                   help="pk-hash bucket count for the partitioned target layout")
    p.add_argument("--partition-by", dest="partition_by",
                   help="value/date hive partition column(s), comma-separated "
                        "(replaces the pk-hash bucket layout)")
    p.add_argument("--sort-by", dest="sort_by",
                   help="cluster rows within files on column(s) for parquet "
                        "min/max data skipping, comma-separated")
    p.add_argument("--log-ds", dest="log_ds",
                   help="namespace for the per-target write log (logs written batches)")
    p.add_argument("--log", dest="log_fields",
                   help="projection for the write log, comma-separated ('-x' excludes)")
    # table maintenance (applies to -s, then exits)
    p.add_argument("--compact", action="store_true",
                   help="compact the source table's small files and exit")
    p.add_argument("--vacuum", action="store_true",
                   help="remove the source table's leftover staged dirs, the files "
                        "replaced writes left, and older log versions, and exit")
    p.add_argument("--zorder-by", metavar="COLS",
                   help="OPTIMIZE ZORDER the source table on these comma-"
                        "separated columns and exit (multi-column data skipping)")
    p.add_argument("--retain", type=int, default=1, metavar="N",
                   help="with --vacuum: keep the newest N "
                        "versions time-travel-readable (default 1 = tip only)")
    p.add_argument("--versions", action="store_true",
                   help="list the source table's committed versions and exit")
    p.add_argument("--as-of", type=int, metavar="V", dest="as_of",
                   help="time travel: preview the source AT version V and exit")
    p.add_argument("--changes", metavar="FROM[,TO]",
                   help="change data feed of the source table between "
                        "two versions (TO defaults to the tip); --pk classifies "
                        "insert/update_postimage/delete, else insert/delete multiset")
    p.add_argument("--get-setting", metavar="NAME", help="print an engine setting and exit")
    p.add_argument("--set-setting", metavar="NAME=VALUE", help="store an engine setting and exit")
    p.add_argument("--turl", help="http url target: POST result rows as JSON")
    p.add_argument("--surl", help="http url backing the source dataset")
    # orchestration
    p.add_argument("--contid", metavar="CHAIN",
                   help="convergence loop: re-run over unprocessed rows until "
                        "fixpoint; 'self' starts a fresh chain (etl.py:74,326-362)")
    p.add_argument("--diff", metavar="DS",
                   help="set-diff the (queried) source against this dataset")
    p.add_argument("--diff-context",
                   help="context columns for --diff, comma-separated")
    p.add_argument("--fanout", choices=["per_source", "union"], default="per_source",
                   help="wildcard sources: a job per match (default) or one "
                        "union-by-name job into a single target")
    p.add_argument("--workers", type=int, help="repartition hint")
    p.add_argument("--batch", type=int, dest="batch_size", help="write batch -> maxRecordsPerFile")
    p.add_argument("--info", action="store_true", help="pre-flight description, no execution")
    p.add_argument("--describe", action="store_true",
                   help="per-column profile of the source (one scan): nulls, "
                        "distincts, min/max, lengths")
    p.add_argument("--count-only", action="store_true", help="print source count and exit")
    p.add_argument("--job-log", action="store_true", help="record run in the logs/job dataset")
    p.add_argument("--msg", help="job comment recorded in the job log (base.py:131)")
    p.add_argument("--job-poll", metavar="UID", help="print a job-log record ('last' supported)")
    p.add_argument("--master", default=None, help="spark master (default local[*])")
    return p


def main(argv: Sequence[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    # expand_ds_args (etl.py:88-98): smt beats st beats mt, elif-chained
    if args.smt:
        args.source = args.merger = args.target = args.smt
    elif args.st:
        args.source = args.target = args.st
    elif args.mt:
        args.merger = args.target = args.mt
    if not (args.source or args.job_poll or args.get_setting or args.set_setting):
        parser.error("-s/--source is required for job runs")

    from .engine import Engine
    from .session import get_spark

    spark = get_spark(app_name="etl_cli_spark", master=args.master)
    eng = Engine(spark, args.root, job_log=args.job_log or bool(args.job_poll))

    if args.job_poll:
        st = eng.job_log.job_status(args.job_poll)
        print(json.dumps(st, default=str, indent=2) if st else "no such job")
        return 0 if st else 1
    if args.get_setting:
        val = eng.get_setting(args.get_setting)
        print(json.dumps(val, default=str))
        return 0 if val is not None else 1
    if args.set_setting:
        name, _, value = args.set_setting.partition("=")
        eng.set_setting(name.strip(), value)
        return 0
    if (args.compact or args.vacuum or args.zorder_by or args.versions
            or args.as_of is not None or args.changes):
        from .uri import parse_ds

        t = eng.table(parse_ds(args.source))
        if args.versions:
            print(json.dumps(t.versions()))
            return 0
        if args.as_of is not None:
            df = t.read_version(args.as_of)
            for r in df.limit(20).collect():
                print(json.dumps(r.asDict(), default=str))
            print(f"{args.source} @v{args.as_of}: {df.count()} rows")
            return 0
        if args.changes:
            parts = [v.strip() for v in args.changes.split(",")]
            v_from = int(parts[0])
            v_to = int(parts[1]) if len(parts) > 1 else None
            pk = tuple(args.pk.split(",")) if args.pk else None
            ch = t.snapshot_changes(v_from, v_to, pk=pk)
            for r in ch.limit(20).collect():
                print(json.dumps(r.asDict(), default=str))
            print(f"{args.source}: {ch.count()} change rows")
            return 0
        if args.vacuum:
            n = t.vacuum(retain_versions=args.retain)
            print(f"{args.source}: vacuumed {n} entries (retain={args.retain})")
        if args.compact:
            t.compact()
            print(f"{args.source}: compacted")
        if args.zorder_by:
            cols = [c.strip() for c in args.zorder_by.split(",") if c.strip()]
            t.zorder(cols)
            print(f"{args.source}: z-ordered on {', '.join(cols)}")
        return 0

    query = list(args.query)
    if args.surl:
        query.append(f"_url={args.surl}")

    if args.diff:
        from .operators.diff import diff as diff_op

        left = eng.read(args.source, query)
        right = eng.read(args.diff)
        ctx = args.diff_context.split(",") if args.diff_context else None
        out = diff_op(left, right, context=ctx)
        rows = out.limit(20).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        print(f"diff rows: {out.count()}")
        return 0
    spec = make_spec(
        args.source, query=query, transformers=args.transformers,
        merger=args.merger, mkeys=args.mkeys, mq=args.mq, mmd=args.mmd,
        mrm=args.mrm, mrnm=args.mrnm, mmo=args.mmo, munwind=args.munwind,
        mstrict=args.mstrict, mma=args.mma, mrules=args.mrules,
        mtr=args.mtr, mtr_post_merge=args.mtr_post_merge,
        mmo_order=args.mmo_order, murl=args.murl,
        target=args.target, op=args.op, pk=args.pk, tf=args.tf, tq=args.tq,
        skip_by=args.skip_by, skip_timestamp=args.skip_timestamp,
        overwrite=args.overwrite, drop=args.drop, dry=args.dry,
        tmap=args.tmap, turl=args.turl, n_buckets=args.n_buckets,
        partition_by=args.partition_by, sort_by=args.sort_by,
        log_ds=args.log_ds, log=args.log_fields,
        workers=args.workers, batch_size=args.batch_size, msg=args.msg,
    )

    if args.info:
        print(json.dumps(eng.info(spec), default=str, indent=2))
        return 0
    if args.count_only:
        print(eng.count(args.source, query))
        return 0
    if args.describe:
        for rec in eng.profile(args.source, query).collect():
            print(json.dumps(rec.asDict(), default=str))
        return 0
    if args.target is None:
        # preview mode (base.py:640-644): one record, pretty-printed
        for rec in eng.preview(args.source, query, n=1):
            print(json.dumps(rec, default=str, indent=2))
        return 0

    if args.contid:
        stats, chain = eng.run_contid(spec, args.contid)
        print(
            f"contid {chain}: passes={stats.passes} processed={stats.processed} "
            f"converged={stats.converged}"
        )
        return 0

    results = (
        eng.run_many(spec, mode=args.fanout)
        if "*" in spec.source.ds
        else [eng.run(spec)]
    )
    for r in results:
        # _run_logged already counted; don't re-execute the plan
        n = r.metrics.get("rows_out")
        if n is None:
            n = r.df.count()
        print(f"{r.target or '(no target)'}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
