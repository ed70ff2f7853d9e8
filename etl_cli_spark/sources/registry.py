"""Backend registry: dataset URI -> Spark reader/writer.

The reference dispatches on the URI's backend segment
(/root/reference/etl_cli/etl.py:230-240: mongo, es, csv; s3 at
etl.py:129-133; http via --surl/--murl/--turl at etl.py:35-37,81-86).
Here each backend is a reader/writer pair over Spark's DataSource API;
file backends are first-class (parquet default), connector backends
(mongo/es) are declared but gated behind their jars being present —
the engine raises a clear error instead of importing anything
non-public.
"""

from __future__ import annotations

import json
import os
import urllib.request
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..uri import DatasetURI, resolve_path


def read_dataset(
    spark: SparkSession,
    ds: DatasetURI,
    root: str,
    options: dict[str, Any] | None = None,
    url: str | None = None,
) -> DataFrame:
    options = dict(options or {})
    b = ds.backend
    if b == "http" or url:
        return _read_http(spark, url or options.pop("url", None) or f"{ds.ns}/{ds.name}")
    if b == "parquet":
        return read_parquet(spark, resolve_path(ds, root), options)
    if b == "orc":
        return spark.read.options(**options).orc(resolve_path(ds, root))
    if b == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
        return spark.read.options(**options).csv(resolve_path(ds, root))
    if b == "json":
        return spark.read.options(**options).json(resolve_path(ds, root))
    if b == "memory":
        return spark.table(ds.name)
    if b in ("mongo", "es", "s3"):
        return _read_connector(spark, ds, options)
    raise ValueError(f"unknown backend {ds.backend!r}")


def write_dataset(
    df: DataFrame,
    ds: DatasetURI,
    root: str,
    mode: str = "append",
    options: dict[str, Any] | None = None,
    url: str | None = None,
) -> None:
    options = dict(options or {})
    b = ds.backend
    if b == "http" or url:
        write_http(df, url or options.pop("url", None), batch_size=int(options.pop("batch_size", 500)))
        return
    if b == "parquet":
        df.write.mode(mode).options(**options).parquet(resolve_path(ds, root))
    elif b == "orc":
        df.write.mode(mode).options(**options).orc(resolve_path(ds, root))
    elif b == "csv":
        options.setdefault("header", "true")
        df.write.mode(mode).options(**options).csv(resolve_path(ds, root))
    elif b == "json":
        df.write.mode(mode).options(**options).json(resolve_path(ds, root))
    elif b == "memory":
        df.createOrReplaceTempView(ds.name)
    elif b in ("mongo", "es", "s3"):
        _write_connector(df, ds, mode, options)
    else:
        raise ValueError(f"unknown backend {ds.backend!r}")


def _data_files(path: str) -> list[tuple[str, int, int]] | None:
    """(relative name, size, mtime_ns) of every data file a parquet read
    of the local ``path`` (a file or a directory) scans, sorted; None
    for a path that is missing or a glob."""
    from ..operators.writeops import data_files

    if any(c in path for c in "*?[{") or not os.path.exists(path):
        return None
    if not os.path.isdir(path):
        st = os.stat(path)
        return [("", st.st_size, st.st_mtime_ns)]
    out = []
    for rel in data_files(path):
        st = os.stat(os.path.join(path, rel))
        out.append((rel, st.st_size, st.st_mtime_ns))
    return sorted(out)


# Spark session settings its parquet schema inference reads: a schema
# inferred under other values is not reused
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
    "spark.sql.files.ignoreCorruptFiles",
)


def _ns_timestamp_cols(target: str) -> list[str]:
    """Columns the parquet file ``target`` stores as INT64
    TIMESTAMP(NANOS) — Spark can't read them natively
    (PARQUET_TYPE_ILLEGAL); found by inspecting the footer.

    The check must be on the *parquet* schema, not the Arrow view: Arrow
    also reports Spark's INT96 timestamps as ``ns``, but those Spark reads
    fine — only INT64 nanos need the long-roundtrip workaround.
    """
    import pyarrow.parquet as pq

    try:
        schema = pq.ParquetFile(target).schema
    except Exception:
        return []
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        if (
            col.physical_type == "INT64"
            and lt is not None
            and getattr(lt, "type", None) == "TIMESTAMP"
            and "nanoseconds" in lt.to_json()  # only .type/.to_json exposed
        ):
            out.append(col.path)
    return out


def read_parquet(spark: SparkSession, path: str, options: dict[str, Any] | None = None) -> DataFrame:
    """Parquet read with nanosecond-timestamp compatibility and a
    per-session schema cache.

    ns-timestamps (pandas default) are read as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and converted to
    microsecond timestamps in the plan — same truncation DuckDB applies,
    so oracle comparisons line up. The columns are found in the footer
    of the first data file, in a hive-partitioned directory too.

    Spark infers a plain source's schema with a job that reads footers.
    The schema inferred on a path's first read is kept on the session
    and passed to later reads of the path, which then run no job. It is
    inferred again when the path's key changes: the options, the
    session settings inference reads (:data:`_INFER_CONFS`), or the
    (name, size, mtime) of any data file, so a rewritten source is
    re-inferred. A missing path or a glob goes straight to Spark.
    """
    from pyspark.sql import functions as F

    from ..operators.writeops import ParquetTable

    if ParquetTable.manages(path):
        # a table ParquetTable wrote: only it knows which files are
        # committed and which columns are its own
        df = ParquetTable(spark, path).read()
        if df is None:
            raise FileNotFoundError(f"{path}: manifest log present but no committed version")
        return df
    reader = spark.read.options(**(options or {}))
    files = _data_files(path)
    if not files:
        return reader.parquet(path)
    ns_cols = _ns_timestamp_cols(os.path.join(path, files[0][0]) if files[0][0] else path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (
        tuple(sorted((k, str(v)) for k, v in (options or {}).items())),
        tuple(spark.conf.get(c, None) for c in _INFER_CONFS),
        tuple(files),
    )
    # on the session object, like Engine.sql's view state: it dies with
    # the session. One entry per path; a changed key replaces it
    cache = getattr(spark, "_etl_parquet_schemas", None)
    if cache is None:
        cache = spark._etl_parquet_schemas = {}
    hit = cache.get(path)
    if hit is not None and hit[0] == key:
        df = reader.schema(hit[1]).parquet(path)
    else:
        df = reader.parquet(path)
        cache[path] = (key, df.schema)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def _read_http(spark: SparkSession, url: str) -> DataFrame:
    """``_url`` pseudo-source (etl.py:119-127): fetch JSON, parallelize.

    Driver-side fetch is correct here — the reference's http source is a
    small lookup feed, not a bulk path. Bulk HTTP ingest at scale would be
    a partitioned DataSource V2 python reader (url per partition).
    """
    if not url or not url.startswith(("http://", "https://")):
        raise ValueError(f"http source needs a full url, got {url!r}")
    with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
        payload = json.loads(resp.read().decode("utf-8"))
    if isinstance(payload, dict):
        payload = payload.get("data", [payload])
    return spark.createDataFrame(payload)


def write_http(df: DataFrame, url: str | None, batch_size: int = 500) -> None:
    """``--turl`` http target (etl.py:81-86): POST rows as JSON batches.

    Distributed, not driver-side: each partition posts its own batches
    from the executor (``foreachPartition``), so a 1000-executor job
    fans its POSTs out instead of funnelling 100 TB through the driver.
    ``batch_size`` rows per request mirrors the reference's write batch.
    """
    if not url or not url.startswith(("http://", "https://")):
        raise ValueError(f"http target needs a full url, got {url!r}")

    def _post_partition(rows):
        import json as _json
        import urllib.request as _rq

        buf = []

        def flush():
            if not buf:
                return
            req = _rq.Request(
                url,
                data=_json.dumps(buf).encode("utf-8"),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with _rq.urlopen(req, timeout=60):  # noqa: S310
                pass
            buf.clear()

        for r in rows:
            buf.append(r.asDict(recursive=True))
            if len(buf) >= batch_size:
                flush()
        flush()

    # default=str below isn't available through json.dumps in executors for
    # timestamps; serialize them up front as ISO strings (typed, portable)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, (T.TimestampType, T.DateType, T.TimestampNTZType)):
            df = df.withColumn(f.name, F.col(f.name).cast("string"))
    df.foreachPartition(_post_partition)


def _connector_format(backend: str) -> str:
    return {"mongo": "mongodb", "es": "org.elasticsearch.spark.sql"}.get(backend, backend)


def _read_connector(spark: SparkSession, ds: DatasetURI, options: dict[str, Any]) -> DataFrame:
    if ds.backend == "s3":
        path = f"s3a://{ds.ns}/{ds.name}"
        return spark.read.options(**options).parquet(path)
    fmt = _connector_format(ds.backend)
    try:
        reader = spark.read.format(fmt)
        if ds.backend == "mongo":
            reader = reader.option("database", ds.ns).option("collection", ds.name)
        elif ds.backend == "es":
            reader = reader.option("es.resource", f"{ds.ns}/{ds.name}")
        return reader.options(**options).load()
    except Exception as e:  # connector jar not on classpath in this image
        raise RuntimeError(
            f"backend {ds.backend!r} needs its Spark connector jar on the "
            f"classpath (format {fmt!r}); not bundled in this environment"
        ) from e


def _write_connector(df: DataFrame, ds: DatasetURI, mode: str, options: dict[str, Any]) -> None:
    if ds.backend == "s3":
        # bulk export path; the reference bumps batch to 100k for s3
        # (etl.py:129-133) -> here: fewer, larger files
        df.write.mode(mode).options(**options).parquet(f"s3a://{ds.ns}/{ds.name}")
        return
    fmt = _connector_format(ds.backend)
    try:
        writer = df.write.format(fmt).mode(mode)
        if ds.backend == "mongo":
            writer = writer.option("database", ds.ns).option("collection", ds.name)
        elif ds.backend == "es":
            writer = writer.option("es.resource", f"{ds.ns}/{ds.name}")
        writer.options(**options).save()
    except Exception as e:
        raise RuntimeError(
            f"backend {ds.backend!r} needs its Spark connector jar on the classpath"
        ) from e
