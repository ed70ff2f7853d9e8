"""Frozen job specification — the engine's IR.

Mirrors the reference's nested JSON job spec (IR2 in SURVEY §3: the wire
format POSTed to the ETL server, built by Script.setup at
/root/reference/etl_cli/etl.py:135-279) as immutable dataclasses. The
reference enforces write-once args (base.py:41-72); we get the same
discipline from ``frozen=True`` plus :meth:`JobSpec.with_overrides`.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Callable, Mapping, Sequence

WRITE_OPS = ("create", "index", "update", "upsert", "delete", "insert")
MERGE_DIRECTIONS = ("s2m", "m2s")


@dataclass(frozen=True)
class SourceSpec:
    """Source dataset + query + post-read transformer chain."""

    ds: str
    query: tuple[str, ...] = ()
    transformers: tuple[str, ...] = ()  # registry names, 'name:arg1,arg2'


@dataclass(frozen=True)
class MergerSpec:
    """The reference's merger = a configurable equi-join (etl.py:148-187)."""

    ds: str
    keys: tuple[str, ...] = ()          # 'k' (same name) or 'src_col:mrg_col'
    query: tuple[str, ...] = ()          # pre-join filter on merger side (--mq)
    merge_direction: str = "m2s"         # which side wins on conflict (--mmd)
    require_match: bool = False          # inner semantics (--mrm)
    require_no_match: bool = False       # anti semantics (--mrnm)
    match_one: bool = False              # one match per source row (--mmo)
    unwind: bool = False                 # one output row per match (--munwind)
    strict_match: bool = False           # null-safe key equality (--mstrict)
    merge_as: str | None = None          # nest match under a field (--mma)
    merge_rules: str | None = None       # custom merge callable name (--mrules)
    transformers: tuple[str, ...] = ()   # post_read (--mtr)
    post_merge_transformers: tuple[str, ...] = ()  # (--mtr-post-merge)
    broadcast: bool | None = None        # None = let Catalyst/AQE decide
    match_one_order: tuple[str, ...] = ()  # deterministic pick for match_one
    url: str | None = None               # http-backed merger (--murl, etl.py:36)

    def __post_init__(self) -> None:
        if self.merge_direction not in MERGE_DIRECTIONS:
            # mandatory + validated in the reference (etl.py:159-160)
            raise ValueError(f"merge_direction must be one of {MERGE_DIRECTIONS}")
        if self.require_match and self.require_no_match:
            raise ValueError("require_match and require_no_match are exclusive")


@dataclass(frozen=True)
class TargetSpec:
    """Target dataset + write op (etl.py:189-248)."""

    ds: str
    op: str = "create"
    pk: tuple[str, ...] = ()
    fields: tuple[str, ...] = ()         # projection on write (--tf)
    query: tuple[str, ...] = ()          # restrict rows the op touches (--tq)
    skip_by: tuple[str, ...] = ()        # anti-join key for insert
    skip_timestamp: bool = False
    overwrite_fields: tuple[str, ...] = ()  # per-field overwrite policy
    drop: bool = False                   # drop target first (--drop)
    dry_run: bool = False
    tmap: str | None = None              # named schema applied on write (--tmap)
    url: str | None = None               # http-backed target (--turl, etl.py:37)
    # pk-hash bucket count for the partitioned target layout (None = engine
    # default 32; size so one bucket ~ one comfortable rewrite unit)
    n_buckets: int | None = None
    # value/date hive partitioning (--partition-by; scoped write ops when
    # the column is pk-contained) and within-file clustering (--sort-by)
    partition_by: tuple[str, ...] = ()
    sort_by: tuple[str, ...] = ()
    # per-target write log: namespace to log written batches into
    # (reference --log-ds -> target.log_ds = '<ns>.<target>', etl.py:193-195)
    log_ds: str | None = None
    # projection of the logged rows (reference target.log_fields,
    # base.py:260-265; '-x' excludes, default hides log/source blobs)
    log_fields: tuple[str, ...] = ("-log", "-logs", "-source")

    def __post_init__(self) -> None:
        if self.op not in WRITE_OPS:
            raise ValueError(f"op must be one of {WRITE_OPS}, got {self.op!r}")


@dataclass(frozen=True)
class JobSpec:
    source: SourceSpec
    merger: MergerSpec | None = None
    target: TargetSpec | None = None
    workers: int | None = None           # repartition hint; None = AQE decides
    # write batch (reference default 1000, base.py:269) -> maxRecordsPerFile;
    # None = let Spark size files (the 1000-row server batch would mean
    # pathological tiny files on a distributed filesystem)
    batch_size: int | None = None
    fail_on_error: bool = True
    # free-form job comment recorded in the job log (the reference's
    # --msg "job comment for tracking", base.py:131)
    msg: str | None = None
    extra: Mapping[str, Any] = field(default_factory=dict)

    def with_overrides(self, **kw: Any) -> "JobSpec":
        return replace(self, **kw)


def manifest_only(flag: bool) -> None:
    """Every parquet table commits through its manifest log, so the
    ``manifest`` keyword of :func:`make_spec` and ``Engine.table``
    accepts only True; it stays for callers written when it chose the
    commit protocol."""
    if flag is not True:
        raise ValueError("manifest=False is gone: every table commits through its manifest log")


def make_spec(
    source: str,
    query: Sequence[str] | None = None,
    *,
    transformers: Sequence[str] | None = None,
    merger: str | None = None,
    mkeys: Sequence[str] | str | None = None,
    mq: Sequence[str] | None = None,
    mmd: str | None = None,
    mrm: bool = False,
    mrnm: bool = False,
    mmo: bool = False,
    munwind: bool = False,
    mstrict: bool = False,
    mma: str | None = None,
    mrules: str | None = None,
    mtr: Sequence[str] | None = None,
    mtr_post_merge: Sequence[str] | None = None,
    mmo_order: Sequence[str] | None = None,
    murl: str | None = None,
    broadcast: bool | None = None,
    target: str | None = None,
    op: str = "create",
    pk: Sequence[str] | str | None = None,
    tf: Sequence[str] | None = None,
    tq: Sequence[str] | None = None,
    skip_by: Sequence[str] | str | None = None,
    skip_timestamp: bool = False,
    overwrite: Sequence[str] | str | None = None,
    drop: bool = False,
    dry: bool = False,
    tmap: str | None = None,
    turl: str | None = None,
    n_buckets: int | None = None,
    partition_by: Sequence[str] | str | None = None,
    sort_by: Sequence[str] | str | None = None,
    manifest: bool = True,
    log_ds: str | None = None,
    log: Sequence[str] | str | None = None,
    workers: int | None = None,
    batch_size: int | None = None,
    fail_on_error: bool | None = None,
    msg: str | None = None,
) -> JobSpec:
    """CLI-flag-shaped convenience constructor (names mirror etl.py flags).

    ``SPARK_ETL__<FLAG>`` environment variables supply defaults for
    scalar flags not passed explicitly (the reference's args2env_var
    overlay, base.py:158-185): e.g. ``SPARK_ETL__OP=upsert``,
    ``SPARK_ETL__WORKERS=8``, ``SPARK_ETL__BATCH_SIZE=5000``.
    ``manifest`` as :func:`manifest_only`.
    """
    import os

    manifest_only(manifest)

    def env(flag: str, cast=str):
        raw = os.environ.get(f"SPARK_ETL__{flag.upper()}")
        if raw is None:
            return None
        if cast is bool:
            return raw.strip().lower() in ("1", "true", "yes")
        return cast(raw)

    op = op if op != "create" else (env("op") or "create")
    workers = workers if workers is not None else env("workers", int)
    batch_size = batch_size if batch_size is not None else env("batch_size", int)
    if fail_on_error is None:
        env_foe = env("fail_on_error", bool)
        fail_on_error = True if env_foe is None else env_foe

    def tup(x) -> tuple[str, ...]:
        if x is None:
            return ()
        if isinstance(x, str):
            return tuple(s.strip() for s in x.split(",") if s.strip())
        return tuple(x)

    # 'op:pk' form (etl.py:203-204)
    if ":" in op:
        op, _, op_pk = op.partition(":")
        pk = pk or op_pk
    if munwind:
        mmo = False  # unwind forces match_one=0 (etl.py:174-176)
    m = None
    if merger is not None:
        # the reference hard-errors on a merger without an explicit merge
        # direction (etl.py:159-160) — the highest-risk knob gets no default
        if mmd is None:
            mmd = env("mmd")
        if mmd is None:
            raise ValueError(
                "mmd (merge direction, s2m|m2s) is required when a merger is set"
            )
        m = MergerSpec(
            ds=merger, keys=tup(mkeys), query=tup(mq), merge_direction=mmd,
            require_match=mrm, require_no_match=mrnm, match_one=mmo,
            unwind=munwind, strict_match=mstrict, merge_as=mma, merge_rules=mrules,
            transformers=tup(mtr), post_merge_transformers=tup(mtr_post_merge),
            broadcast=broadcast, match_one_order=tup(mmo_order), url=murl,
        )
    t = None
    if target is not None:
        t = TargetSpec(
            ds=target, op=op, pk=tup(pk), fields=tup(tf), query=tup(tq),
            skip_by=tup(skip_by), skip_timestamp=skip_timestamp,
            overwrite_fields=tup(overwrite), drop=drop, dry_run=dry,
            tmap=tmap, url=turl, n_buckets=n_buckets,
            partition_by=tup(partition_by), sort_by=tup(sort_by),
            log_ds=log_ds,
            **({"log_fields": tup(log)} if log else {}),
        )
    return JobSpec(
        source=SourceSpec(ds=source, query=tup(query), transformers=tup(transformers)),
        merger=m,
        target=t,
        workers=workers,
        batch_size=batch_size,
        fail_on_error=fail_on_error,
        msg=msg if msg is not None else env("msg"),
    )
