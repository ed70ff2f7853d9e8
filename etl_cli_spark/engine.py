"""Engine facade: JobSpec -> DataFrame pipeline -> result.

The pipeline shape mirrors the reference's job lifecycle (SURVEY §3):

    read(source) -> filter(query DSL) -> transform(post_read)
      -> merge(merger) -> transform(post_merge)
      -> project(target.fields) -> write-op(target)

All steps are declarative DataFrame ops, so the whole job is ONE Catalyst
plan: filters/projections push to the scans, the merger join picks its
physical strategy (broadcast for dimensions) at runtime via AQE, and
nothing is collected to the driver. ``workers`` survives only as an
optional repartition hint (the reference's ceil(total/1000) worker math,
base.py:646-681, is obsolete under AQE).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession

from .dsl import compile_query
from .functions.registry import apply_chain
from .operators.merger import merge
from .operators.writeops import ParquetTable, apply_write_op
from .share import scope
from .sources.registry import read_dataset, write_dataset
from .spec import JobSpec, make_spec, manifest_only
from .uri import DatasetURI, expand_wildcard, parse_ds, resolve_path, template_target


def _catalog_fingerprint(root: str, depth: int = 3) -> tuple[tuple[str, int], ...]:
    """Cheap change-token for a root: (entry, mtime_ns) up to ``depth``
    levels deep. Any dataset create/overwrite/drop touches a fingerprinted
    directory, so the token changes; pure reads don't. Depth 3 covers
    appends into a namespaced hive-partitioned dataset
    (``<root>/<ns>/<name>/<part=val>/``): the new part files bump the
    partition directory's mtime, which sits at depth 3. (ParquetTable
    additionally utimes the dataset dir on every write, so engine-side
    writes are visible at depth 2 regardless of layout depth.)
    os.scandir of a catalog is microseconds vs. the parquet-footer reads a
    full view re-registration costs; on an object store, bound the listing
    rate with the engine's ``catalog_ttl``."""
    fp: list[tuple[str, int]] = []

    def scan(path: str, rel: str, d: int) -> None:
        try:
            entries = sorted(os.scandir(path), key=lambda e: e.name)
        except OSError:
            return
        for e in entries:
            try:
                name = f"{rel}/{e.name}" if rel else e.name
                fp.append((name, e.stat().st_mtime_ns))
                if d > 1 and e.is_dir():
                    scan(e.path, name, d - 1)
            except OSError:
                continue

    scan(root, "", depth)
    return tuple(fp)


@dataclass
class JobResult:
    """What a job produced; ``df`` is the final state / preview."""

    df: DataFrame
    source_total: int | None = None
    target: str | None = None
    metrics: dict[str, Any] = field(default_factory=dict)


class Engine:
    """A root-scoped engine instance: datasets resolve under ``root``.

    ``job_log=True`` records every :meth:`run` into the ``logs/job``
    dataset (the reference's job store / poll surface, base.py:345-392).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        job_log: bool = False,
        catalog_ttl: float | None = None,
    ):
        self.spark = spark
        self.root = root
        # sql() view-cache freshness: within ttl seconds the catalog is NOT
        # re-listed (engine-side writes still invalidate instantly via
        # invalidate_catalog). Default 0 = always check — microseconds on a
        # local FS; on an object store set SPARK_ETL_CATALOG_TTL to bound
        # the listing rate and accept ttl-delayed visibility of EXTERNAL
        # writers (your own writes are always visible immediately).
        self.catalog_ttl = (
            float(os.environ.get("SPARK_ETL_CATALOG_TTL", "0"))
            if catalog_ttl is None
            else catalog_ttl
        )
        self._fp_cache: tuple[float, tuple] | None = None
        self._catalog_dirty = False
        self._job_log = None
        if job_log:
            from .metrics import JobLog

            self._job_log = JobLog(spark, root)

    def invalidate_catalog(self) -> None:
        """Force the next :meth:`sql` call to re-fingerprint the root
        (called automatically after engine-side writes)."""
        self._catalog_dirty = True

    @property
    def job_log(self):
        if self._job_log is None:
            from .metrics import JobLog

            self._job_log = JobLog(self.spark, self.root)
        return self._job_log

    # -- settings (reference get_etl_setting, base.py:563-566) ---------------
    def get_setting(self, name: str, default: Any = None) -> Any:
        from .settings import Settings

        return Settings(self.spark, self.root).get(name, default)

    def set_setting(self, name: str, value: Any) -> None:
        from .settings import Settings

        Settings(self.spark, self.root).set(name, value)

    # -- catalog-ish helpers -------------------------------------------------
    def read(self, uri: str, query: Sequence[str] | None = None, **options: Any) -> DataFrame:
        """Read a dataset and apply an optional DSL query.

        A directory that ``ParquetTable`` manages (manifest log or layout
        file) is read through :meth:`ParquetTable.read_where`: only the
        committed snapshot, manifest stats file skipping, a point lookup
        on a bucketed table pinned to its key's bucket, and no internal
        partition column in the result."""
        ds = parse_ds(uri)
        q = compile_query(query)
        if ds.backend == "parquet" and not options and q.url is None:
            path = resolve_path(ds, self.root)
            if ParquetTable.manages(path):
                out = ParquetTable(self.spark, path).read_where(query)
                if out is None:
                    raise FileNotFoundError(
                        f"{path}: manifest log present but no committed version"
                    )
                return out
        df = read_dataset(self.spark, ds, self.root, options=options, url=q.url)
        # NOTE (round-14): an under-fanned scan (single-row-group file)
        # is redistributed INSIDE the CPU-heavy operators
        # (etl_cli_spark.fanout.fan_out_for_compute), not here — a
        # global fan-out at the read taxed every light shuffle-bound
        # query ~0.2-0.5 s at sf0.1 for nothing (measured A/B), while
        # the wins live where per-row work dominates.
        return q.apply(df)

    def table(
        self,
        ds: DatasetURI,
        max_records_per_file: int | None = None,
        bucket_by: tuple[str, ...] | None = None,
        n_buckets: int | None = None,
        partition_by: tuple[str, ...] | None = None,
        sort_by: tuple[str, ...] | None = None,
        manifest: bool = True,
    ) -> ParquetTable:
        """The table at ``ds``; ``manifest`` as :func:`manifest_only`."""
        manifest_only(manifest)
        return ParquetTable(
            self.spark, resolve_path(ds, self.root), max_records_per_file,
            bucket_by=bucket_by, n_buckets=n_buckets or 32,
            partition_by=partition_by, sort_by=sort_by,
        )

    def count(self, uri: str, query: Sequence[str] | None = None) -> int:
        """get_source_total (base.py:481-499) incl. the min(count,_limit)
        rule. With no filtering query item, a parquet table's committed
        snapshot answers (:meth:`_committed_rows`), with no Spark job."""
        q = compile_query(query)
        q.count = False
        limit, q.limit = q.limit, None
        n = None if q.predicates or q.url else self._committed_rows(uri)
        if n is None:
            n = q.apply(self.read(uri)).count()
        return min(n, limit) if limit is not None else n

    def _committed_rows(self, uri: str) -> int | None:
        """Rows in the newest commit of the parquet table ``uri``, which
        the commit took from the file footers; None when it has no
        commit or some file's count was not recorded."""
        ds = parse_ds(uri)
        if ds.backend != "parquet":
            return None
        try:
            return ParquetTable(self.spark, resolve_path(ds, self.root)).snapshot().rows
        except FileNotFoundError:  # nothing committed
            return None

    def preview(self, uri: str, query: Sequence[str] | None = None, n: int = 1) -> list[dict]:
        """No-target preview (base.py:640-644): fetch a sample, as dicts."""
        df = self.read(uri, query)
        return [r.asDict(recursive=True) for r in df.limit(n).collect()]

    def profile(self, uri: str, query: Sequence[str] | None = None, exact: bool = False) -> DataFrame:
        """Column-level stats for a dataset (one scan): null rates,
        cardinalities (HLL by default, exact on request), string-form
        min/max, average lengths. The `--info` pre-flight grown into a
        real profiling pass — see operators/profile.py."""
        from .operators.profile import profile_columns

        return profile_columns(self.read(uri, query), exact=exact)

    def sql(self, query: str) -> DataFrame:
        """SQL over the root's datasets: every dataset in every namespace (a
        manifest table once it has committed a version) is
        registered as a temp view named after the dataset (namespace views
        as ``ns_name``), and the root's job log, if it holds one, as
        ``logs_job`` (read through :meth:`JobLog.frame`, so the log's
        fixed schema). The full Spark SQL surface — multi-way joins,
        CTEs, windows — over the same catalog the job API uses.

        Temp views are global to the SparkSession, so a register-once cache
        goes stale when another Engine (different root) overwrites the
        names, or when datasets are created/overwritten after the first
        ``sql()``. Re-registering on every call is also wrong at scale:
        each ``read()`` builds an eager file index + reads parquet footers
        for EVERY dataset per query. Instead the registered state is
        fingerprinted — (root, {dataset: dir mtime}) stored ON the session
        object (so it dies with the session; no ``id()`` reuse hazard) —
        and views are re-registered only when the fingerprint changes.
        Writes touch the dataset directory (_SUCCESS et al.), so an
        overwrite or create bumps the mtime and invalidates the cache."""
        import time as _time

        from .catalog import ls_ns

        now = _time.monotonic()
        if (
            self._catalog_dirty
            or self._fp_cache is None
            or now - self._fp_cache[0] > self.catalog_ttl
        ):
            self._fp_cache = (now, _catalog_fingerprint(self.root))
            self._catalog_dirty = False
        state = (self.root, self._fp_cache[1])
        if getattr(self.spark, "_etl_sql_state", None) != state:
            namespaces = [n for n in ls_ns(self.root) if os.path.isdir(os.path.join(self.root, n))]
            for ns in ["", *namespaces]:
                for name in ls_ns(self.root, ns):
                    uri = f"{ns}/{name}" if ns else name
                    path = resolve_path(parse_ds(uri), self.root)
                    # a sub-namespace (or the job log) is no dataset, and a
                    # manifest table before its first commit is invisible
                    if ParquetTable(self.spark, path).exists():
                        self.read(uri).createOrReplaceTempView(f"{ns}_{name}" if ns else name)
            from .metrics import JobLog

            # not self.job_log: that would switch logging on for an
            # engine built with job_log=False
            log = self._job_log or JobLog(self.spark, self.root)
            if os.path.isdir(log.path):
                log.frame().createOrReplaceTempView("logs_job")
            self.spark._etl_sql_state = state
        return self.spark.sql(query)

    def info(self, spec: JobSpec) -> dict[str, Any]:
        """show_info (base.py:411-479): pre-flight description of a job —
        datasets, op, compiled query, source total, and the Catalyst plan."""
        src_ds = parse_ds(spec.source.ds)
        q = compile_query(spec.source.query)
        df = q.apply(read_dataset(self.spark, src_ds, self.root, url=q.url))
        out: dict[str, Any] = {
            "source": src_ds.uri,
            "query": list(spec.source.query),
            "merger": spec.merger.ds if spec.merger else None,
            "target": spec.target.ds if spec.target else None,
            "op": spec.target.op if spec.target else None,
            "pk": list(spec.target.pk) if spec.target and spec.target.pk else None,
            "source_total": self.count(spec.source.ds, spec.source.query),
            "plan": df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
            ),
        }
        return out

    # -- the main path -------------------------------------------------------
    def run(self, spec: JobSpec, merge_rules_fn=None) -> JobResult:
        """Execute one job spec (single source; use :meth:`run_many` for ``*``)."""
        if self._job_log is not None:
            return self._run_logged(spec, merge_rules_fn)
        return self._run(spec, merge_rules_fn)

    def run_async(self, spec: JobSpec, merge_rules_fn=None) -> str:
        """Submit a job and return its uid immediately (the reference's
        ``async=1``, base.py:678-681). A 'running' record lands in the job
        log up front; the worker thread appends the terminal record.
        Poll with ``engine.job_log.poll(uid)`` / ``job_status(uid)`` —
        the reference's poll loop (base.py:366-392). SparkSessions are
        thread-safe; the job executes on the cluster as usual.
        """
        import threading
        import time

        from .metrics import JobRecord, new_uid, next_seq, observed_value

        uid, t0 = new_uid(), time.time()
        self.job_log.record(
            JobRecord(
                uid=uid, seq=next_seq(), started_at=t0, duration_sec=0.0,
                status="running", source=spec.source.ds,
                target=spec.target.ds if spec.target else None,
                op=spec.target.op if spec.target else None,
                rows_in=None, rows_out=None, msg=spec.msg,
            )
        )

        def work():
            try:
                with scope():
                    res = self._run(spec, merge_rules_fn, observe_rows=True)
                    rows_out = self._rows_out(spec, res)
                obs = res.metrics.pop("_rows_in_obs", None)
                self.job_log.record(
                    JobRecord(
                        uid=uid, seq=next_seq(), started_at=t0,
                        duration_sec=time.time() - t0, status="succeeded",
                        source=spec.source.ds,
                        target=spec.target.ds if spec.target else None,
                        op=spec.target.op if spec.target else None,
                        rows_in=observed_value(obs, "rows_in"), rows_out=rows_out,
                        msg=spec.msg,
                    )
                )
            except Exception as e:  # terminal failure record, never raises
                self.job_log.record(
                    JobRecord(
                        uid=uid, seq=next_seq(), started_at=t0,
                        duration_sec=time.time() - t0, status="failed",
                        source=spec.source.ds,
                        target=spec.target.ds if spec.target else None,
                        op=spec.target.op if spec.target else None,
                        rows_in=None, rows_out=None, error=str(e)[:500],
                        msg=spec.msg,
                    )
                )

        threading.Thread(target=work, name=f"etl-job-{uid}", daemon=True).start()
        return uid

    def _run_logged(self, spec: JobSpec, merge_rules_fn=None) -> JobResult:
        """Run + record. Counters come cheap, not from a re-execution:

        - ``rows_in`` is an ``Observation`` attached to the post-query
          source plan — populated as a side effect of whatever action the
          job runs, zero extra passes (the reference's ``sprogress``
          poll counter, base.py:376-381).
        - ``rows_out`` (:meth:`_rows_out`) for a written parquet target
          is its committed snapshot's row count, which the commit took
          from the file footers: no Spark job. Any other written target
          is counted by a Spark job over the fresh target read, not a
          recompute of the job plan. For lazy results (no target /
          dry-run) one ``count()`` is the job's single execution, which
          also resolves the observation.

        The job owns what it shares: a scope around the build and the
        count releases it before the record lands.
        """
        import time

        from .metrics import JobRecord, new_uid, next_seq, observed_value

        uid, t0 = new_uid(), time.time()
        try:
            with scope():
                res = self._run(spec, merge_rules_fn, observe_rows=True)
                rows_out = self._rows_out(spec, res)
            obs = res.metrics.pop("_rows_in_obs", None)
            rows_in = observed_value(obs, "rows_in")
        except Exception as e:
            self._job_log.record(
                JobRecord(
                    uid=uid, seq=next_seq(), started_at=t0,
                    duration_sec=time.time() - t0, status="failed",
                    source=spec.source.ds,
                    target=spec.target.ds if spec.target else None,
                    op=spec.target.op if spec.target else None,
                    rows_in=None, rows_out=None, error=str(e)[:500], msg=spec.msg,
                )
            )
            raise
        self._job_log.record(
            JobRecord(
                uid=uid, seq=next_seq(), started_at=t0,
                duration_sec=time.time() - t0, status="succeeded",
                source=spec.source.ds,
                target=spec.target.ds if spec.target else None,
                op=spec.target.op if spec.target else None,
                rows_in=rows_in, rows_out=rows_out, msg=spec.msg,
            )
        )
        res.metrics["job_uid"] = uid
        res.metrics["rows_in"] = rows_in
        res.metrics["rows_out"] = rows_out
        return res

    def _rows_out(self, spec: JobSpec, res: JobResult) -> int:
        """Rows in a run's result. A written parquet target answers from
        its committed snapshot (:meth:`_committed_rows`); a dry run, a
        lazy result, a write that committed nothing (an update of a
        missing target), or a snapshot missing some file's count runs
        ``count()``."""
        t = spec.target
        if t is not None and not t.dry_run and not t.url:
            rows = self._committed_rows(res.target)
            if rows is not None:
                return rows
        return res.df.count()

    def _run(self, spec: JobSpec, merge_rules_fn=None, observe_rows: bool = False) -> JobResult:
        src_ds = parse_ds(spec.source.ds)
        q = compile_query(spec.source.query)
        # fail_on_error -> reader error policy for self-describing text formats
        read_opts = {}
        if src_ds.backend in ("csv", "json"):
            read_opts["mode"] = "FAILFAST" if spec.fail_on_error else "PERMISSIVE"
        df = read_dataset(self.spark, src_ds, self.root, options=read_opts, url=q.url)
        df = q.apply(df)
        obs = None
        if observe_rows:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows_in"))
        return self._run_stages(df, spec, src_ds, merge_rules_fn=merge_rules_fn, obs=obs)

    def _run_stages(
        self, df: DataFrame, spec: JobSpec, src_ds: DatasetURI,
        merge_rules_fn=None, obs=None,
    ) -> JobResult:
        """Everything after the source scan: transformers -> merger ->
        target write. Factored out so run_contid can replay the stages
        over each convergence-loop batch. A job that writes its target
        runs its own action, so it releases what its stages shared;
        targetless and dry-run jobs return lazy frames whose caller owns
        the shares."""
        if spec.target is None or spec.target.dry_run:
            return self._stages(df, spec, src_ds, merge_rules_fn, obs)
        with scope():
            return self._stages(df, spec, src_ds, merge_rules_fn, obs)

    def _stages(
        self, df: DataFrame, spec: JobSpec, src_ds: DatasetURI, merge_rules_fn, obs,
    ) -> JobResult:
        if spec.source.transformers:
            df = apply_chain(df, spec.source.transformers)

        if spec.merger is not None:
            mrg_ds = parse_ds(spec.merger.ds)
            # --murl: the merger itself can be URL-backed (etl.py:35-37)
            mrg = read_dataset(self.spark, mrg_ds, self.root, url=spec.merger.url)
            if spec.merger.transformers:
                mrg = apply_chain(mrg, spec.merger.transformers)
            if merge_rules_fn is None and spec.merger.merge_rules:
                from .functions.registry import resolve_merge_rules

                merge_rules_fn = resolve_merge_rules(spec.merger.merge_rules)
            df = merge(df, mrg, spec.merger, merge_rules_fn=merge_rules_fn)
            if spec.merger.post_merge_transformers:
                df = apply_chain(df, spec.merger.post_merge_transformers)

        if spec.workers:
            df = df.repartition(spec.workers)

        metrics = {"_rows_in_obs": obs} if obs is not None else {}
        if spec.target is None:
            return JobResult(df=df, metrics=metrics)

        # --tmap: conform outgoing rows to a registered named schema
        # (reference attaches the mapping at write time, etl.py:237-238)
        if spec.target.tmap:
            from .schemas import conform, get_schema

            df = conform(df, get_schema(spec.target.tmap))

        tgt_ds = template_target(parse_ds(spec.target.ds), src_ds)
        if spec.target.url or tgt_ds.backend == "http":
            # --turl: POST result batches from the executors (etl.py:81-86)
            out = df.select(*spec.target.fields) if spec.target.fields else df
            write_dataset(
                out, tgt_ds, self.root, url=spec.target.url,
                options={"batch_size": spec.batch_size} if spec.batch_size else None,
            )
            final = out
        elif tgt_ds.backend == "parquet":
            # pk-ed targets get the pk-hash bucketed layout by default
            # (update-family ops partition-prune instead of full-
            # rewriting); --partition-by opts into value/date hive
            # partitioning instead, --sort-by adds file clustering
            tbl = self.table(
                tgt_ds, spec.batch_size,
                bucket_by=(spec.target.pk or None)
                if not spec.target.partition_by else None,
                n_buckets=spec.target.n_buckets,
                partition_by=spec.target.partition_by or None,
                sort_by=spec.target.sort_by or None,
            )
            final = apply_write_op(df, tbl, spec.target)
        else:
            out = df.select(*spec.target.fields) if spec.target.fields else df
            mode = "overwrite" if spec.target.drop else "append"
            write_dataset(out, tgt_ds, self.root, mode=mode)
            final = out

        if spec.target.log_ds and not spec.target.dry_run:
            self._write_target_log(df, spec, tgt_ds)
        if not spec.target.dry_run:
            self.invalidate_catalog()
        return JobResult(df=final, target=tgt_ds.uri, metrics=metrics)

    def _write_target_log(self, df: DataFrame, spec: JobSpec, tgt_ds: DatasetURI) -> None:
        """Per-target write log (reference ``target.log_ds`` =
        ``<ns>.<target>``, etl.py:193-195; ``log_fields`` projection,
        base.py:260-265): append the written batch, projected, to
        ``<log_ds>/<sanitized target name>``.

        The log write re-executes a COLUMN-PRUNED copy of the pipeline —
        with the default exclusion fields Catalyst reads only the logged
        columns, so the cost is a narrow second pass, not a second job.
        """
        from pyspark.sql import functions as F

        from .dsl import compile_query

        q = compile_query([f"_fields={','.join(spec.target.log_fields)}"]) if spec.target.log_fields else None
        out = q.apply(df) if q is not None else df
        out = out.withColumn("_etl_log_ts", F.current_timestamp())
        # sanitized like the reference: dots/slashes -> dashes (etl.py:193-195)
        raw = "/".join(p for p in (tgt_ds.ns, tgt_ds.name) if p)
        name = raw.replace(".", "-").replace("/", "-")
        write_dataset(out, parse_ds(f"{spec.target.log_ds}/{name}"), self.root, mode="append")

    def run_contid(
        self,
        spec: JobSpec,
        contid: str,
        id_cols: Sequence[str] | None = None,
        batch_limit: int | None = None,
    ):
        """The reference's ``--contid`` convergence loop (etl.py:326-362):
        re-run the job over not-yet-processed source rows until the
        remainder reaches 0 or stalls. ``contid='self'`` starts a fresh
        chain (etl.py:356-358). The processed-row bookmark (the Spark
        stand-in for the reference's ``logs.job.contid`` stamp) is a
        parquet id table under ``logs/contid/<chain>``.

        Returns (LoopStats, chain_id)."""
        import uuid as _uuid

        from .streaming.incremental import incremental_loop

        ids = list(id_cols or (spec.target.pk if spec.target else ()))
        if not ids:
            raise ValueError("contid needs id columns (target pk) to bookmark processed rows")
        chain = _uuid.uuid4().hex[:12] if contid == "self" else contid
        bookmark = os.path.join(self.root, "logs", "contid", chain)
        src_ds = parse_ds(spec.source.ds)
        q = compile_query(spec.source.query)

        def source() -> DataFrame:
            return q.apply(read_dataset(self.spark, src_ds, self.root, url=q.url))

        def process(batch: DataFrame) -> None:
            self._run_stages(batch, spec, src_ds)

        stats = incremental_loop(
            self.spark, source, process, bookmark, ids, batch_limit=batch_limit
        )
        return stats, chain

    def run_many(
        self,
        spec: JobSpec,
        merge_rules_fn=None,
        mode: str = "per_source",
        provenance_col: str | None = None,
    ) -> list[JobResult]:
        """Wildcard fan-out (etl.py:364-377).

        ``mode='per_source'`` (the reference's semantics): one job per
        matching source, each with its own query/stages/target
        (``*``-templated). N matches = N Spark jobs — right when each
        source writes its own target, wasteful when N small sources feed
        ONE result: N scheduler round-trips, N tiny writes.

        ``mode='union'``: all matches are unioned by name (missing
        columns null-filled) into ONE plan and the stages run once —
        Catalyst pushes query filters down into every scan, and the
        single job amortizes scheduling across sources. The query
        applies to the union, so ``_limit``/``_sort`` act on the whole
        (per_source applies them per source). Requires a non-templated
        target (a ``*`` target means per-source outputs by definition).
        ``provenance_col`` optionally records each row's source name.
        """
        src_ds = parse_ds(spec.source.ds)
        matches = expand_wildcard(src_ds, self.root)
        if mode == "union":
            from pyspark.sql import functions as F

            if spec.target is not None and "*" in parse_ds(spec.target.ds).name:
                raise ValueError(
                    "run_many(mode='union') needs a single non-templated target; "
                    f"got {spec.target.ds!r}"
                )
            if not matches:
                return []
            q = compile_query(spec.source.query)
            frames = []
            for one in matches:
                read_opts = {}
                if one.backend in ("csv", "json"):
                    read_opts["mode"] = "FAILFAST" if spec.fail_on_error else "PERMISSIVE"
                f = read_dataset(self.spark, one, self.root, options=read_opts, url=q.url)
                if provenance_col:
                    f = f.withColumn(provenance_col, F.lit(one.name))
                frames.append(f)
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f, allowMissingColumns=True)
            df = q.apply(df)
            return [self._run_stages(df, spec, src_ds, merge_rules_fn=merge_rules_fn)]
        if mode != "per_source":
            raise ValueError(f"mode must be 'per_source' or 'union', got {mode!r}")
        results = []
        for one in matches:
            sub = spec.with_overrides(
                source=spec.source.__class__(
                    ds=one.uri, query=spec.source.query, transformers=spec.source.transformers
                )
            )
            results.append(self.run(sub, merge_rules_fn=merge_rules_fn))
        return results

    def etl(self, source: str, **kw: Any) -> JobResult:
        """CLI-flag-shaped one-shot: ``engine.etl('region', query=[...], ...)``.

        ``fanout='union'`` runs a wildcard source as ONE union-by-name
        job instead of a job per match (see :meth:`run_many`).
        """
        merge_rules_fn = kw.pop("merge_rules_fn", None)
        fanout = kw.pop("fanout", "per_source")
        spec = make_spec(source, **kw)
        if "*" in parse_ds(source).name:
            results = self.run_many(spec, merge_rules_fn=merge_rules_fn, mode=fanout)
            return results[-1] if results else JobResult(df=self.spark.range(0))
        return self.run(spec, merge_rules_fn=merge_rules_fn)
