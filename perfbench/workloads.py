"""The benchmark's workloads.

Each workload generates its inputs from the seed, then yields the same
fixed op sequence for every pass (a pass writes to fresh targets, so
every pass does the same work). Ops call only the engine's public
surface: ``Engine.run``/``read``/``sql``/``table``, ``JobLog``,
``operators.*``, ``plans.corpus.run_corpus_pipeline`` and
``streaming.incremental.changefeed_merge``; the corpus operators are
called through the driver contract's query builders in
``__spark_entry__``, so each op has its published DuckDB twin.

An op is one client request: ``spec()`` compiles the job (when the op
is a job), ``build()`` is the public call, and ``act()`` materialises
a lazy result the way a caller would. ``kind`` is ``read`` for ops
that return a result without committing and ``write`` for ops that
commit.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from gen import compact_bytes, documents, embeddings, star_schema, write

# the unwind merger joins a seeded window of this many orders, so its
# output size does not depend on the seed
UNWIND_KEYS = 4000
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


@dataclass
class Op:
    name: str
    kind: str
    layers: tuple[str, ...]
    build: Callable[[Any], Any]
    act: Callable[[Any], Any] | None = None
    spec: Callable[[], Any] | None = None
    targets: tuple[str, ...] = ()
    changed_bytes: int = 0
    changed_rows: int = 0


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def to_arrow(df) -> pa.Table:
    return df.toArrow() if hasattr(df, "toArrow") else pa.Table.from_pandas(df.toPandas())


class Workload:
    """Base: inputs under ``root``, targets under ``root/<ns>``."""

    name = ""
    target_ns = ""

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.rng = np.random.default_rng(seed)

    def generate(self) -> None:
        raise NotImplementedError

    def engine(self):
        from etl_cli_spark import Engine

        return Engine(self.spark, self.root, job_log=True)

    def tables(self) -> list[str]:
        """Input datasets, read once during set-up."""
        raise NotImplementedError

    def ops(self, k: int) -> list[Op]:
        raise NotImplementedError

    def drop_pass(self, k: int) -> None:
        """Delete the targets pass ``k`` wrote (never timed)."""
        base = os.path.join(self.root, self.target_ns)
        if os.path.isdir(base):
            for n in os.listdir(base):
                if n.startswith(f"p{k}_"):
                    shutil.rmtree(os.path.join(base, n), ignore_errors=True)
        if hasattr(self, "eng"):
            self.eng.invalidate_catalog()

    def live_tables(self, k: int) -> list[tuple[str, Any]]:
        """(dir, DataFrame) of every target pass ``k`` left behind."""
        raise NotImplementedError

    def checks(self, outputs: dict[str, Any], k: int) -> list[Check]:
        raise NotImplementedError

    def duck(self, tables: list[str]):
        import duckdb

        con = duckdb.connect()
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.root}/{t}.parquet'")
        return con


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result (the scripts/check_oracle.py idiom)."""
    import hashlib
    import math

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(round(v, 9))
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for ln in sorted("|".join(cell(r[i]) for i in order) for r in rows):
        h.update(ln.encode() + b"\n")
    return h.hexdigest()[:16]


def pandas_hash(pdf) -> str:
    return frame_hash(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def match(name: str, pdf, con, sql: str) -> Check:
    """Hash-match a Spark result against its DuckDB twin."""
    rel = con.sql(sql)
    cols, rows = rel.columns, rel.fetchall()
    if len(pdf) != len(rows):
        return Check(name, False, f"rows {len(pdf)} != {len(rows)}")
    if sorted(pdf.columns) != sorted(cols):
        return Check(name, False, f"cols {sorted(pdf.columns)} != {sorted(cols)}")
    a, b = pandas_hash(pdf), frame_hash(list(cols), rows)
    return Check(name, a == b, "" if a == b else f"hash {a} != {b}")


# -- etl_jobs ---------------------------------------------------------------

def _group_agg(*keys: str):
    """``group_agg:k1,k2`` — a user-registered transformer (the
    reference's plug-in transformer mechanism) closing a chain with a
    group aggregate over ``rev`` and ``l_quantity``."""
    from pyspark.sql import functions as F

    return lambda df: df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("qty"),
        F.round(F.sum("rev"), 2).alias("rev"),
    )


class EtlJobs(Workload):
    """The paper's job language on a TPC-H-shaped star schema."""

    name = "etl_jobs"
    target_ns = "jobs"
    n_orders = 10_000

    def generate(self) -> None:
        t = star_schema(self.rng, self.n_orders)
        for name, tbl in t.items():
            write(tbl, f"{self.root}/{name}.parquet")
            # Engine.sql lists every dataset under its root and cannot
            # read the job log a job_log=True engine keeps there, so the
            # SQL client gets its own root holding only the star schema
            write(tbl, f"{self.root}/sqlcat/{name}.parquet")
        orders = t["orders"]
        rng = np.random.default_rng(self.seed + 1)
        self.k_target = self.n_orders // 2
        # upsert: recrawled existing keys plus new keys; delete: a key
        # sample over both
        ups = np.sort(np.concatenate([rng.choice(self.k_target, 700, replace=False),
                                      np.arange(self.k_target, self.k_target + 300)]))
        dels = rng.choice(self.k_target + 300, 500, replace=False)
        b = orders.take(pa.array(ups))
        b = b.set_column(2, "o_orderstatus", pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, len(ups))]))
        b = b.set_column(3, "o_totalprice", pa.array(np.round(rng.uniform(800, 500_000, len(ups)), 2)))
        write(b, f"{self.root}/batch/upsert.parquet")
        self.batch_bytes = {"upsert": (compact_bytes(b), len(ups))}
        d = orders.take(pa.array(np.sort(dels))).select(["o_orderkey"])
        write(d, f"{self.root}/batch/delete.parquet")
        self.batch_bytes["delete"] = (compact_bytes(d), len(dels))
        create = orders.filter(pc.less(orders["o_orderkey"], self.k_target))
        self.batch_bytes["create"] = (compact_bytes(create), create.num_rows)
        p = np.random.default_rng(self.seed + 2)
        self.params = {
            "rf": str(p.choice(["A", "N", "R"])),
            "q": int(p.integers(20, 40)),
            "unwind_lo": int(p.integers(0, self.n_orders - UNWIND_KEYS)),
            "q2": int(p.integers(5, 25)),
            "point": int(p.integers(0, self.k_target)),
            "st2": str(p.choice(["F", "O"])),
        }

    def tables(self) -> list[str]:
        return ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

    def ops(self, k: int) -> list[Op]:
        from etl_cli_spark import Engine, make_spec
        from etl_cli_spark.functions.registry import register

        register("group_agg", _group_agg)

        eng, p = self.eng, self.params
        sql_eng = Engine(self.spark, f"{self.root}/sqlcat")
        tgt = f"jobs/p{k}_orders"
        tdir = f"{self.root}/jobs/p{k}_orders.parquet"

        def job(name, kind, layers, source, cols=None, **kw) -> Op:
            act = None
            if kind == "read":
                act = lambda r: (r.df.select(*cols) if cols else r.df).toPandas()
            return Op(name, kind, layers, build=lambda s: eng.run(s), act=act,
                      spec=lambda: make_spec(source, **kw))

        def write_job(op_name, source, query=None) -> Op:
            o = job(f"write_{op_name}", "write", ("writeops",), source, query=query,
                    target=tgt, op=op_name, pk="o_orderkey", n_buckets=4, manifest=True)
            o.targets = (tdir,)
            o.changed_bytes, o.changed_rows = self.batch_bytes[op_name]
            return o

        poll = Op("job_status", "read", ("metrics",), build=lambda s: eng.job_log.job_status("last"))
        return [
            write_job("create", "orders", query=[f"o_orderkey__lt={self.k_target}"]),
            job("dsl_topk", "read", ("dsl", "sources"), "lineitem", query=[
                f"l_returnflag={p['rf']}", f"l_quantity__gte={p['q']}",
                "_sort=-l_extendedprice,l_orderkey,l_linenumber", "_limit=100",
                "_fields=l_orderkey,l_linenumber,l_extendedprice,l_quantity"]),
            write_job("upsert", "batch/upsert"),
            job("agg_chain", "read", ("dsl", "sources"), "lineitem", query=[f"l_quantity__gt={p['q2']}"],
                transformers=["with_column:rev,l_extendedprice * (1 - l_discount)",
                              "group_agg:l_returnflag,l_linestatus"]),
            job("merge_unwind", "read", ("merger",), "orders",
                cols=["o_orderkey", "l_linenumber", "l_quantity"],
                query=[f"o_orderkey__gte={p['unwind_lo']}",
                       f"o_orderkey__lt={p['unwind_lo'] + UNWIND_KEYS}"], merger="lineitem",
                mkeys="o_orderkey:l_orderkey", mmd="m2s", munwind=True),
            Op("sql_star", "read", ("sql", "sources"), build=lambda s: sql_eng.sql(
                "SELECT n_name, count(*) AS n, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                "JOIN customer ON o_custkey = c_custkey "
                "JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE o_orderstatus = '{p['st2']}' GROUP BY n_name"),
                act=lambda df: df.toPandas()),
            write_job("delete", "batch/delete"),
            poll,
            Op("target_point", "read", ("sources",),
               build=lambda s: eng.read(tgt, [f"o_orderkey={p['point']}"]),
               act=lambda df: df.select(*ORDER_COLS).toPandas()),
        ]

    def live_tables(self, k: int):
        return [(f"{self.root}/jobs/p{k}_orders.parquet", self.eng.read(f"jobs/p{k}_orders"))]

    def checks(self, outputs: dict[str, Any], k: int) -> list[Check]:
        p, con = self.params, self.duck(self.tables())
        twins = {
            "dsl_topk": (
                "SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem "
                f"WHERE l_returnflag = '{p['rf']}' AND l_quantity >= {p['q']} "
                "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"),
            "agg_chain": (
                "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev FROM lineitem "
                f"WHERE l_quantity > {p['q2']} GROUP BY 1, 2"),
            "merge_unwind": (
                "SELECT o_orderkey, l_linenumber, l_quantity FROM orders JOIN lineitem "
                f"ON o_orderkey = l_orderkey WHERE o_orderkey >= {p['unwind_lo']} "
                f"AND o_orderkey < {p['unwind_lo'] + UNWIND_KEYS}"),
            "sql_star": (
                "SELECT n_name, count(*) AS n, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE o_orderstatus = '{p['st2']}' GROUP BY n_name"),
        }
        out = [match(n, outputs[n], con, sql) for n, sql in twins.items()]
        st = outputs["job_status"]
        out.append(Check("job_status", bool(st) and st.get("status") == "succeeded", str(st)[:200]))
        cols = ", ".join(ORDER_COLS)
        b = f"{self.root}/batch"
        expect = (
            f"WITH t0 AS (SELECT {cols} FROM orders WHERE o_orderkey < {self.k_target}), "
            f"up AS (SELECT {cols} FROM '{b}/upsert.parquet'), "
            "t1 AS (SELECT * FROM t0 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up) "
            "UNION ALL SELECT * FROM up) "
            f"SELECT * FROM t1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM '{b}/delete.parquet')"
        )
        final = self.eng.read(f"jobs/p{k}_orders").select(*ORDER_COLS).toPandas()
        out.append(match("write_target", final, con, expect))
        want = final[final["o_orderkey"] == p["point"]]
        a, b = pandas_hash(outputs["target_point"]), pandas_hash(want)
        out.append(Check("target_point", a == b, f"{a} vs {b}"))
        return out


# -- corpus_prep ------------------------------------------------------------

CORPUS_OPS = (
    ("normalize_unicode", ("text",)),
    ("gopher_quality", ("text", "quality")),
    ("gopher_repetition", ("text", "quality")),
    ("c4_quality", ("text", "quality")),
    ("script_profile", ("text", "quality")),
    ("dedup_exact", ("dedup",)),
    ("dedup_minhash", ("dedup",)),
    ("semantic_dedup", ("similarity",)),
    ("perplexity_buckets", ("text", "rank")),
)
PIPELINE = [
    {"stage": "normalize"},
    {"stage": "quality_filter", "min_tokens": 20},
    {"stage": "dedup_exact"},
]


class CorpusPrep(Workload):
    """The LLM-data operators over a corpus with near-dup structure."""

    name = "corpus_prep"
    target_ns = "corpus"
    n_docs = 200
    n_vecs = 120

    def generate(self) -> None:
        write(documents(self.rng, self.n_docs), f"{self.root}/documents.parquet")
        write(embeddings(self.rng, self.n_vecs), f"{self.root}/embeddings.parquet")

    def tables(self) -> list[str]:
        return ["documents", "embeddings"]

    def ops(self, k: int) -> list[Op]:
        import __spark_entry__ as entry
        from etl_cli_spark.plans.corpus import run_corpus_pipeline
        from etl_cli_spark.streaming.incremental import changefeed_merge

        qs = entry.queries()
        spark, root, eng = self.spark, self.root, self.eng
        clean, view = self.pair(k)
        ops = [
            Op(name, "read", layers, build=lambda s, f=qs[name]: f(spark, root),
               act=lambda df: df.toPandas())
            for name, layers in CORPUS_OPS
        ]
        return ops + [
            Op("pipeline_write", "write", ("pipeline", "writeops", "commitlog"),
               build=lambda s: run_corpus_pipeline(eng.read("documents"), PIPELINE),
               act=clean.append, targets=(clean.path,)),
            Op("drain_view", "write", ("incremental", "writeops", "commitlog"),
               build=lambda s: changefeed_merge(spark, clean, view, pk=("doc_id",),
                                                transform=scrub_view),
               targets=(view.path,)),
        ]

    def pair(self, k: int):
        """The cleaned corpus (a manifest table) and its scrubbed view,
        kept up to date from the corpus's change feed."""
        from etl_cli_spark.uri import parse_ds

        return tuple(self.eng.table(parse_ds(f"corpus/p{k}_{n}"), manifest=True)
                     for n in ("clean", "view"))

    def live_tables(self, k: int):
        return [(t.path, t.read()) for t in self.pair(k)]

    def checks(self, outputs: dict[str, Any], k: int) -> list[Check]:
        import __spark_entry__ as entry
        from etl_cli_spark.plans.corpus import run_corpus_pipeline

        oracles, con = entry.oracle_sql(), self.duck(self.tables())
        out = [match(n, outputs[n], con, oracles[n]) for n in DUCKDB_CHECKED]
        docs = con.sql("SELECT doc_id, text, lang FROM documents").fetchall()
        got = outputs["dedup_minhash"]
        a, b = pandas_hash(got), frame_hash(["doc_id", "lang"], jaccard_keep(docs))
        out.append(Check("dedup_minhash", a == b, "" if a == b else f"hash {a} != {b}"))
        out.append(semantic_invariant(outputs["semantic_dedup"], con))
        clean, view = self.pair(k)
        written = clean.read().toPandas()
        batch = run_corpus_pipeline(self.eng.read("documents"), PIPELINE).toPandas()
        a, b = pandas_hash(written), pandas_hash(batch[written.columns])
        out.append(Check("pipeline_write", a == b and len(written) > 0, f"{a} vs {b}"))
        got = view.read().toPandas()
        want = scrub_view(clean.read()).toPandas()
        a, b = pandas_hash(got), pandas_hash(want[got.columns])
        out.append(Check("view_equals_batch", a == b and len(got) > 0, f"{a} vs {b}"))
        return out


def scrub_view(df):
    """The change feed's downstream: the cleaned corpus with PII shapes
    redacted, a row-wise transform that keeps the pk."""
    from etl_cli_spark.operators.text import pii_scrub

    return df.select("doc_id", pii_scrub("text").alias("text"), "lang")


# ops hash-matched against their oracle_sql() twin in DuckDB; the
# dedup_minhash twin is an all-pairs SQL join (~100 s at 1500 docs) and
# the semantic_dedup twin replays k-means in SQL (~45 s at 200 vectors),
# so those two are checked by the cheaper replays below instead
DUCKDB_CHECKED = (
    "normalize_unicode", "gopher_quality", "gopher_repetition", "c4_quality",
    "script_profile", "dedup_exact", "perplexity_buckets",
)


def jaccard_keep(docs: list[tuple], num: int = 4, den: int = 5) -> list[tuple]:
    """The dedup_minhash oracle's semantics, exactly, without its
    all-pairs join: word-trigram shingle sets of lower(trim(text)),
    a document is dropped when a lower doc_id has Jaccard >= num/den
    with it. Candidates come from a prefix filter (any pair at or above
    the threshold shares a token within both sets' rarest
    ``|S| - floor(|S| * num / den) + 1`` shingles), then verify exactly.
    Returns (doc_id, lang) of kept documents."""
    import re
    from collections import Counter, defaultdict

    sets = {}
    for doc_id, text, _ in docs:
        t = re.split(r"\s+", text.strip(" ").lower())
        sets[doc_id] = {" ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))}
    freq = Counter(g for s in sets.values() for g in s)
    index = defaultdict(list)
    dropped = set()
    for doc_id in sorted(sets):
        s = sets[doc_id]
        prefix = sorted(s, key=lambda g: (freq[g], g))[: len(s) - len(s) * num // den + 1]
        cands = {c for g in prefix for c in index[g]}
        for c in cands:
            o = sets[c]
            inter = len(s & o)
            if inter / max(len(s | o), 1) >= num / den:
                dropped.add(doc_id)
                break
        for g in prefix:
            index[g].append(doc_id)
    return [(d, lang) for d, _, lang in docs if d not in dropped]


def semantic_invariant(pdf, con, threshold: float = 0.4) -> Check:
    """Kept vectors are distinct input ids, and no two kept vectors in
    one cell are at or above the cosine threshold (the lower id would
    have dropped the higher)."""
    import numpy as np

    emb = dict(con.sql("SELECT vec_id, embedding FROM embeddings").fetchall())
    ids = list(pdf["vec_id"])
    if not ids or len(set(ids)) != len(ids) or not set(ids) <= set(emb):
        return Check("semantic_dedup", False, f"{len(ids)} kept ids, not a subset of the input")
    for _, g in pdf.groupby("cell"):
        v = np.array([emb[i] for i in g["vec_id"]], dtype="float64")
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        sim = v @ v.T
        np.fill_diagonal(sim, -1.0)
        if (sim >= threshold + 1e-6).any():
            return Check("semantic_dedup", False, "two kept vectors in one cell above threshold")
    return Check("semantic_dedup", True)


WORKLOADS = {w.name: w for w in (EtlJobs, CorpusPrep)}
