"""Incremental convergence loop — the reference's ``contid`` mechanism.

Semantics from /root/reference/etl_cli/etl.py:326-362: each pass
processes only records not yet stamped by this job chain (the source
query gains ``logs.job.contid__ne=<uid>``, etl.py:327), re-running until
the remaining count reaches 0 or stops changing across two consecutive
loops (etl.py:331-334). Self-referential pipelines (source == target)
force loop mode (etl.py:281-295, 345-347).

Spark-first: the "stamp" is a bookmark table of processed ids; each
pass anti-joins the source against it (no per-record update), processes
the remainder, and appends the new ids. The manifest-committed targets
make self-update safe (a read resolves its snapshot before the commit
that replaces it). The same
contract maps onto Structured Streaming (source -> checkpointed sink)
when the source is a stream; see stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.writeops import ParquetTable
from ..share import scope, shared


@dataclass
class LoopStats:
    passes: int
    processed: int
    converged: bool


def incremental_loop(
    spark: SparkSession,
    source: Callable[[], DataFrame],
    process: Callable[[DataFrame], None],
    bookmark_path: str,
    id_cols: list[str],
    batch_limit: int | None = None,
    max_passes: int = 100,
) -> LoopStats:
    """Run ``process`` over unseen source rows until fixpoint.

    - ``source``: re-evaluated each pass (the source may grow mid-loop).
    - ``process``: handles one batch (e.g. engine.run with a target op).
    - bookmark: parquet table of processed ``id_cols`` tuples.
    - convergence: remaining == 0, or unchanged across two passes
      (matches etl.py:331-334's two-loop stall rule).
    """
    bm = ParquetTable(spark, bookmark_path)
    prev_remaining = -1
    passes = processed = 0
    for _ in range(max_passes):
        with scope():
            df = source()
            seen = bm.read()
            todo = df if seen is None else df.join(seen, on=id_cols, how="left_anti")
            if batch_limit:
                todo = todo.limit(batch_limit)
            todo = shared(todo)
            n = todo.count()
            if n == 0:
                return LoopStats(passes, processed, converged=True)
            if n == prev_remaining and batch_limit is None:
                # two consecutive passes with identical remainder -> stall
                return LoopStats(passes, processed, converged=True)
            process(todo)
            bm.append(todo.select(*id_cols).distinct())
        processed += n
        passes += 1
        prev_remaining = n
    return LoopStats(passes, processed, converged=False)


def incremental_stream(
    spark,
    path: str,
    schema,
    process,
    checkpoint: str,
):
    """Structured-Streaming contid for APPEND-ONLY sources: Spark's
    checkpointed file index replaces the bookmark table.

    Where :func:`incremental_loop` re-reads the source each pass and
    anti-joins a bookmark of processed pks (correct for mutable
    sources), an append-only directory needs neither — the streaming
    file source tracks processed FILES in the checkpoint, so each
    invocation processes exactly the files added since the last one,
    with no growing pk anti-join. ``process`` receives each micro-batch
    DataFrame (same callback contract as the loop). One
    ``trigger(availableNow)`` run drains everything currently pending
    and returns; re-invoke after more files land — progress survives
    restarts via the checkpoint.

    At 100 TB/day this is the right contid: the anti-join bookmark costs
    a shuffle against an ever-growing table; the file-index checkpoint
    is O(new files).

    A ``process`` that can accept two positional arguments receives
    ``(df, batch_id)`` — the foreachBatch epoch id, the handle an
    exactly-once sink gates on (``ParquetTable.write_batch``, which
    ``streaming_merge`` and ``append_to_span_index`` commit through:
    a replayed batch id is skipped). ``*args`` callbacks count as
    batch-id-capable (silently downgrading one to at-least-once would
    defeat the sink's idempotence gate), and a non-introspectable
    callable raises rather than being guessed single-arg.
    """
    import inspect

    params = inspect.signature(process).parameters.values()
    takes_bid = any(
        p.kind is inspect.Parameter.VAR_POSITIONAL for p in params
    ) or sum(
        p.kind in (inspect.Parameter.POSITIONAL_ONLY,
                   inspect.Parameter.POSITIONAL_OR_KEYWORD)
        for p in params
    ) >= 2
    stream = spark.readStream.schema(schema).parquet(path)
    q = (
        stream.writeStream.foreachBatch(
            (lambda df, bid: process(df, bid)) if takes_bid
            else (lambda df, _bid: process(df))
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


@dataclass
class ChangeFeedStats:
    versions_applied: int
    rows_upserted: int
    rows_deleted: int
    watermark: int | None


def changefeed_merge(
    spark: SparkSession,
    upstream: ParquetTable,
    downstream: ParquetTable,
    pk: tuple[str, ...] | list[str],
    stream_id: str = "cdf",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    starting_version: int = 0,
    coalesce: bool = True,
) -> ChangeFeedStats:
    """Incremental materialized-view maintenance over a manifest table's
    change feed — the composition of the file-pruned CDF and the
    exactly-once streaming MERGE: each upstream manifest version
    committed since the downstream's recorded watermark becomes one
    micro-batch of ``snapshot_changes(v-1, v)`` (scanning only the
    files version v's commit touched, never the full upstream), is
    optionally passed through ``transform`` (stateless row-wise stages;
    must preserve ``pk``), and is MERGEd into ``downstream``: inserts
    and update post-images upsert by ``pk``, deletes delete by ``pk``.

    Exactly-once: the upstream version number IS the batch id — it
    rides the downstream manifest commit via ``stream_commit_meta``, so
    a crashed-and-rerun drain sees ``last_stream_batch >= v`` and skips
    the replayed version. When a version yields both upserts and
    deletes, the watermark rides the LAST of the two commits; a crash
    between them replays the version's upsert, which is idempotent by
    ``pk`` (same post-images), so the at-least-once window never
    changes downstream content. A version with no net changes (e.g. a
    competitor's no-op commit) advances the watermark with a
    metadata-only commit, and a ``dataChange=false`` version
    (compaction / zorder — files rewritten, rows identical) is skipped
    WITHOUT scanning the rewritten files at all.

    Contract: ``transform`` filters/projections must depend only on
    columns an update cannot change OR the caller accepts insert-only
    maintenance semantics; a post-image transformed out of the view is
    not retracted (standard incremental-view caveat, documented rather
    than silently wrong). ``transform`` must be deterministic (it is
    row-wise stateless by contract; it may be re-evaluated over the
    cached change set between the count and the MERGE).
    Upstream versions older than the retention window must already be
    reflected (start the feed before vacuuming upstream).

    ``coalesce`` (round-7, default on): contiguous pending data
    versions [a..b] drain as ONE ``snapshot_changes(a-1, b)`` MERGE —
    the net per-pk change set — instead of b-a+1 micro-batches. The
    downstream end state is identical (MERGE by pk is last-image-wins
    and no downstream read intervenes within a drain call); the
    drain's job count stops scaling with upstream commit frequency.
    Runs break at dataChange=false versions so pure-compaction spans
    keep the scan-free watermark advance, and at the oldest retained
    version (initial load has no diff base). ``coalesce=False``
    replays the r6 per-version protocol; ``versions_applied`` counts
    upstream versions REFLECTED either way.
    """
    from ..operators.writeops import apply_write_op
    from ..spec import TargetSpec

    pk = tuple(pk)
    last = downstream.last_stream_batch(stream_id)
    start = int(starting_version) if last is None else int(last) + 1
    vers = sorted(v for v in upstream.versions() if v >= start)
    applied = ups = dels = 0
    watermark = last
    retained = set(upstream.versions())

    # group pending versions into (a, b, kind) runs; kind 'meta' =
    # dataChange=false span, 'init' = oldest-retained initial load,
    # 'diff' = snapshot_changes(a-1, b)
    runs: list[tuple[int, int, str]] = []
    for v in vers:
        is_meta = upstream._raw_manifest_at(v).get("dataChange", True) is False
        kind = "meta" if is_meta else ("diff" if v - 1 in retained else "init")
        if (
            coalesce
            and runs
            and v == runs[-1][1] + 1
            and kind == runs[-1][2]
            and kind in ("meta", "diff")
        ):
            runs[-1] = (runs[-1][0], v, kind)
        else:
            runs.append((v, v, kind))

    for a, b, kind in runs:
        if kind == "meta":
            # compaction / zorder commits: files rewritten, row multiset
            # unchanged (Delta's dataChange=false) — advance the
            # watermark WITHOUT scanning the rewritten files to
            # discover zero changes
            downstream.stream_commit_meta(stream_id, b)
            downstream._commit(lambda prev, ps: (list(prev), ps))
            applied += b - a + 1
            watermark = b
            continue
        if kind == "init":
            # a is the oldest retained version (vacuum keeps a suffix of
            # the log): the whole snapshot is the initial load — there
            # is no a-1 to diff against
            changes = upstream.read_version(a).withColumn(
                "change_type", F.lit("insert")
            ).withColumn("commit_version", F.lit(int(a)))
        else:
            changes = upstream.snapshot_changes(a - 1, b, pk=pk)
        # share the CHANGE SET, not post/gone separately: post and gone
        # are both narrow filters of the same diff, and caching each one
        # executed the whole file-pruned diff plan TWICE per run (once
        # per count). One share materializes the diff once; the counts,
        # the upsert, and the delete are all cheap scans of it.
        # ``transform`` re-evaluates over the cache at apply time — the
        # documented contract (stateless row-wise, pk-preserving)
        # already implies determinism. The scope releases it on every
        # exit, an exception from transform or a write included.
        with scope():
            changes = shared(changes)
            post = changes.filter(
                F.col("change_type").isin("insert", "update_postimage")
            ).drop("change_type", "commit_version")
            gone = changes.filter(F.col("change_type") == "delete").select(*pk)
            if transform is not None:
                post = transform(post)
            # ONE job for both counts (round-15, guide §1 job-count
            # reduction): post and gone are narrow filters of the same
            # cached diff, but two .count() actions scheduled two
            # separate jobs per run. Project each side to a tag literal
            # and aggregate the union — same numbers (the post side
            # counts AFTER ``transform``, which may filter), half the
            # count jobs per drain.
            tallies = (
                post.select(F.lit(1).alias("__post"))
                .unionByName(gone.select(F.lit(0).alias("__post")))
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.sum("__post").alias("__np"),
                )
                .first()
            )
            n_post = int(tallies["__np"] or 0)
            n_gone = int(tallies["__n"]) - n_post
            committed = False
            if n_post:
                if n_gone == 0:
                    downstream.stream_commit_meta(stream_id, b)
                try:
                    apply_write_op(
                        post, downstream, TargetSpec(ds="cdf", op="upsert", pk=pk)
                    )
                finally:
                    downstream.stream_commit_abort()
                committed = n_gone == 0
                ups += n_post
            if n_gone:
                # deletes need the full target row shape only for pk cols;
                # delete op anti-joins the target on pk
                downstream.stream_commit_meta(stream_id, b)
                try:
                    apply_write_op(
                        gone, downstream, TargetSpec(ds="cdf", op="delete", pk=pk)
                    )
                finally:
                    downstream.stream_commit_abort()
                committed = True
                dels += n_gone
            if not committed:
                # no-op run: advance the watermark without new data so the
                # next drain doesn't rediff it
                downstream.stream_commit_meta(stream_id, b)
                downstream._commit(lambda prev, ps: (list(prev), ps))
        applied += b - a + 1
        watermark = b
    return ChangeFeedStats(applied, ups, dels, watermark)


def streaming_merge(
    spark: SparkSession,
    path: str,
    schema,
    table: ParquetTable,
    spec,
    checkpoint: str,
    stream_id: str = "default",
):
    """Exactly-once streaming MERGE: an append-only CDC drop directory
    streamed (``availableNow``) into a manifest ``ParquetTable`` via
    ``apply_write_op`` — the production shape of "upserts arriving
    continuously from a change feed".

    Exactly-once comes from BOTH halves of the standard recipe:

    - Structured Streaming's checkpoint makes each input file part of
      exactly one micro-batch (at-least-once delivery of batches);
    - the manifest commit atomically records ``(stream_id, batch_id)``
      alongside the data files (``ParquetTable.write_batch``), so when
      a crash lands between the sink commit and the checkpoint commit,
      the re-delivered batch sees ``last_stream_batch == batch_id`` and
      skips — an idempotent sink. Data visibility and the watermark are
      one put-if-absent, never out of sync. A batch id below the
      watermark means the checkpoint was reset and raises.

    ``spec`` is the TargetSpec for every batch (op=upsert/update/
    delete..., pk=...). One ``availableNow`` invocation drains all pending drops and returns;
    re-invoke as more land — progress survives restarts.
    """
    from ..operators.writeops import apply_write_op

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        table.write_batch(stream_id, batch_id, lambda: apply_write_op(df, table, spec))

    stream = spark.readStream.schema(schema).parquet(path)
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
