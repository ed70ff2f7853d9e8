"""Declarative corpus-pipeline runner (plans/corpus.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.plans.corpus import run_corpus_pipeline


def test_pipeline_equals_manual_composition(spark, engine):
    from etl_cli_spark.operators.dedup import exact_text_dedup
    from etl_cli_spark.operators.pipeline import decontaminate, deterministic_split
    from etl_cli_spark.operators.text import token_count

    docs = engine.read("documents")
    stages = [
        {"stage": "quality_filter", "min_tokens": 20},
        {"stage": "dedup_exact"},
        {"stage": "decontaminate", "benchmark_filter": "doc_id % 97 = 0", "n": 8},
        {"stage": "split", "weights": {"train": 0.9, "val": 0.05, "test": 0.05}},
    ]
    declared = run_corpus_pipeline(docs, stages)
    manual = deterministic_split(
        decontaminate(
            exact_text_dedup(docs.filter(token_count("text") >= 20)),
            docs.filter("doc_id % 97 = 0"),
            n=8,
        ),
        weights={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    assert sorted((r.doc_id, r.split) for r in declared.select("doc_id", "split").collect()) == \
        sorted((r.doc_id, r.split) for r in manual.select("doc_id", "split").collect())


def test_pipeline_validate_and_tokenize_stages(spark, engine):
    docs = engine.read("documents")
    out = run_corpus_pipeline(
        docs,
        [
            {"stage": "validate", "rules": {"has_text": "length(text) > 0"}},
            {"stage": "quota", "group_cols": ["lang"], "quotas": {"en": 5}, "default": 2},
            {"stage": "tokenize", "top_k": 10},
            {"stage": "transform", "exprs": {"n_ids": "size(token_ids)"}},
        ],
    )
    rows = out.select("doc_id", "lang", "token_ids", "n_ids").collect()
    assert rows and all(r.n_ids == len(r.token_ids) for r in rows)
    per_lang = {}
    for r in rows:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    assert per_lang.get("en", 0) <= 5 and all(
        v <= 5 if k == "en" else v <= 2 for k, v in per_lang.items()
    )


def test_pipeline_unknown_stage_fails_fast(spark, engine):
    with pytest.raises(ValueError, match="unknown stage 'dedupe'"):
        run_corpus_pipeline(engine.read("documents"), [{"stage": "dedupe"}])


def test_pipeline_is_lazy_one_plan(spark, engine):
    """Composition must not trigger jobs: the runner returns a lazy frame
    whose optimized plan spans all stages (cross-stage optimization)."""
    docs = engine.read("documents")
    df = run_corpus_pipeline(
        docs,
        [
            {"stage": "filter", "expr": "n_chars > 10"},
            {"stage": "quality_filter", "min_tokens": 5},
            {"stage": "split"},
        ],
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # both filters collapse into the scan-adjacent Filter of one plan
    assert plan.count("Scan") <= 2 and "split" in df.columns


# -- streaming corpus pipeline (round-4: incremental crawl drops) ------------


def test_streaming_pipeline_two_drops_equal_batch(spark, engine, tmp_path):
    """Two crawl drops through run_corpus_pipeline_streaming (stages +
    persisted-index dedup) must produce EXACTLY the one-shot batch
    result: stages over the union, then minhash_dedup. Also proves
    exactly-once: a third invocation with no new files appends nothing."""
    from etl_cli_spark.operators.dedup import create_dedup_index, minhash_dedup
    from etl_cli_spark.operators.writeops import ParquetTable
    from etl_cli_spark.plans.corpus import run_corpus_pipeline, run_corpus_pipeline_streaming

    docs = engine.read("documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    drop1 = docs.filter(F.col("doc_id") <= mid)
    drop2 = docs.filter(F.col("doc_id") > mid)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    stages = [{"stage": "filter", "expr": "n_chars > 50"}]
    create_dedup_index(spark, idx)

    drop1.write.mode("append").parquet(src)
    run_corpus_pipeline_streaming(
        spark, src, docs.schema, stages, out, ckpt,
        dedup_index_path=idx, threshold=0.8,
    )
    drop2.write.mode("append").parquet(src)
    run_corpus_pipeline_streaming(
        spark, src, docs.schema, stages, out, ckpt,
        dedup_index_path=idx, threshold=0.8,
    )
    inc_ids = sorted(
        r.doc_id for r in ParquetTable(spark, out).read().select("doc_id").collect()
    )
    batch = minhash_dedup(run_corpus_pipeline(docs, stages), threshold=0.8)
    batch_ids = sorted(r.doc_id for r in batch.select("doc_id").collect())
    assert inc_ids == batch_ids

    # exactly-once: nothing new -> nothing appended
    run_corpus_pipeline_streaming(
        spark, src, docs.schema, stages, out, ckpt,
        dedup_index_path=idx, threshold=0.8,
    )
    again = sorted(
        r.doc_id for r in ParquetTable(spark, out).read().select("doc_id").collect()
    )
    assert again == inc_ids


def test_streaming_replay_does_not_duplicate_dedup_index(spark, engine, tmp_path, monkeypatch):
    """A batch killed after its signature append, before the streaming
    checkpoint commit, is replayed: the replay must not append its
    signatures a second time, or the index holds every row twice and
    ``fuzzy_join_indexed`` returns each pair twice."""
    import etl_cli_spark.operators.dedup as dd
    from etl_cli_spark.operators.dedup import create_dedup_index, fuzzy_join_indexed
    from etl_cli_spark.operators.writeops import ParquetTable
    from etl_cli_spark.plans.corpus import run_corpus_pipeline_streaming

    docs = engine.read("documents")
    src, out = str(tmp_path / "src"), str(tmp_path / "out.parquet")
    ckpt, idx = str(tmp_path / "ckpt"), str(tmp_path / "idx")
    create_dedup_index(spark, idx)
    docs.filter("doc_id % 2 = 0").write.parquet(src)

    def counts():
        return {s: ParquetTable(spark, f"{idx}/{s}").read().count() for s in ("sigs", "buckets")}

    real = dd.append_dedup_signatures

    def crash_after(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("injected crash after the index append")

    monkeypatch.setattr(dd, "append_dedup_signatures", crash_after)
    with pytest.raises(Exception, match="injected crash"):
        run_corpus_pipeline_streaming(
            spark, src, docs.schema, [], out, ckpt, dedup_index_path=idx, threshold=0.8
        )
    once = counts()
    monkeypatch.setattr(dd, "append_dedup_signatures", real)
    run_corpus_pipeline_streaming(
        spark, src, docs.schema, [], out, ckpt, dedup_index_path=idx, threshold=0.8
    )
    assert counts() == once
    pairs = fuzzy_join_indexed(docs.filter("doc_id % 2 = 1"), idx, threshold=0.8)
    assert pairs.count() == pairs.select("left_id", "right_id").distinct().count() > 0


def test_streaming_pipeline_stateless_stages_only(spark, tmp_path):
    """Without a dedup index the runner is a pure per-drop map: rows in
    the output are exactly the union of per-drop stage outputs."""
    from etl_cli_spark.operators.writeops import ParquetTable
    from etl_cli_spark.plans.corpus import run_corpus_pipeline_streaming

    rows1 = [(1, "short", 5), (2, "long enough text here", 21)]
    rows2 = [(3, "x", 1), (4, "another sufficiently long text", 30)]
    schema = "doc_id long, text string, n_chars long"
    src, out, ckpt = str(tmp_path / "s"), str(tmp_path / "o.parquet"), str(tmp_path / "c")
    stages = [{"stage": "filter", "expr": "n_chars > 10"}]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    run_corpus_pipeline_streaming(spark, src, spark.createDataFrame(rows1, schema).schema, stages, out, ckpt)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    run_corpus_pipeline_streaming(spark, src, spark.createDataFrame(rows2, schema).schema, stages, out, ckpt)
    got = sorted(r.doc_id for r in ParquetTable(spark, out).read().collect())
    assert got == [2, 4]


def test_round4_stages_compose(engine):
    """paragraph_dedup / token_budget stages equal their operators and
    compose lazily with the rest of the pipeline."""
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    docs = engine.read("documents")
    out = run_corpus_pipeline(
        docs,
        [
            {"stage": "filter", "expr": "n_chars > 50"},
            {"stage": "paragraph_dedup", "window_words": 10},
            {"stage": "token_budget", "group_cols": ["lang"],
             "budgets": {"en": 800}, "default": 300},
        ],
    )
    assert out.count() > 0
    assert set(out.columns) >= {"doc_id", "text", "lang"}
    # text was actually rewritten by the dedup (non-empty everywhere)
    assert out.filter("length(text) = 0").count() == 0


def test_semantic_dedup_stage(engine):
    from etl_cli_spark.plans.corpus import run_corpus_pipeline
    from etl_cli_spark.operators.similarity import semantic_dedup

    emb = engine.read("embeddings")
    out = run_corpus_pipeline(
        emb, [{"stage": "semantic_dedup", "n_clusters": 8, "threshold": 0.4}]
    )
    direct = semantic_dedup(emb, n_clusters=8, threshold=0.4)
    assert sorted(r.vec_id for r in out.collect()) == sorted(
        r.vec_id for r in direct.collect()
    )
    assert "__cell" not in out.columns


def test_dsir_stage(engine):
    from etl_cli_spark.operators.rank import dsir_select
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    docs = engine.read("documents")
    out = run_corpus_pipeline(
        docs,
        [{"stage": "dsir", "k": 15, "target_filter": "lang = 'en' and doc_id % 7 = 0"}],
    )
    direct = dsir_select(docs, docs.filter("lang = 'en' and doc_id % 7 = 0"), k=15)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in direct.collect()
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="dsir stage needs"):
        run_corpus_pipeline(docs, [{"stage": "dsir", "k": 5}])


def test_url_stages(engine):
    from pyspark.sql import functions as F
    from etl_cli_spark.operators.urls import per_domain_cap
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    docs = engine.read("documents").withColumn(
        "url",
        F.expr(
            "'HTTPS://WWW.site' || CAST(doc_id % 4 AS STRING) "
            "|| '.example.com/p/' || CAST(doc_id AS STRING) || '?utm_source=x&a=1'"
        ),
    )
    out = run_corpus_pipeline(
        docs,
        [
            {"stage": "url_canonicalize", "url_col": "url"},
            {"stage": "domain_cap", "url_col": "url", "cap": 5},
        ],
    )
    rows = out.collect()
    # canonicalized in place: lowercase host, www/utm gone, params kept
    assert all(r.url.startswith("https://site") for r in rows)
    assert all(r.url.endswith("?a=1") for r in rows)
    # all four hosts share example.com -> one domain, capped at 5
    assert len(rows) == 5
    direct = per_domain_cap(
        docs.withColumn("url", F.regexp_replace("url", r"\?utm_source=x", "?")), "url", 5
    )
    assert {r.doc_id for r in rows} == {r.doc_id for r in direct.collect()}


def test_corpus_changefeed_tracks_upserts_and_deletes(spark, engine, tmp_path):
    """A recrawl (upsert) and a takedown (delete) on the upstream
    manifest table propagate through run_corpus_pipeline_changefeed:
    the downstream equals the batch stage run over the final upstream
    state, and a second drain with no new versions applies nothing."""
    from etl_cli_spark.operators.writeops import ParquetTable, apply_write_op
    from etl_cli_spark.plans.corpus import (
        run_corpus_pipeline,
        run_corpus_pipeline_changefeed,
    )
    from etl_cli_spark.spec import TargetSpec

    docs = engine.read("documents")
    up = ParquetTable(
        spark, str(tmp_path / "up.parquet"),
        bucket_by=("doc_id",), n_buckets=4,
    )
    down = ParquetTable(spark, str(tmp_path / "down.parquet"))
    stages = [
        {"stage": "filter", "expr": "n_chars > 50"},
        {"stage": "transform", "exprs": {"lang_uc": "upper(lang)"}},
    ]
    up.append(docs.filter("doc_id % 2 = 0"))  # v0
    run_corpus_pipeline_changefeed(spark, up, stages, down, pk=("doc_id",))
    # recrawl: new text for a slice (n_chars untouched -> filter-stable)
    recrawl = docs.filter("doc_id % 10 = 0").withColumn("lang", F.lit("zz"))
    apply_write_op(recrawl, up, TargetSpec(ds="u", op="upsert", pk=("doc_id",)))
    # takedown
    gone = up.read().filter("doc_id % 6 = 0").select("doc_id")
    apply_write_op(gone, up, TargetSpec(ds="u", op="delete", pk=("doc_id",)))
    stats = run_corpus_pipeline_changefeed(spark, up, stages, down, pk=("doc_id",))
    assert stats.versions_applied == 2 and stats.rows_deleted > 0

    batch = run_corpus_pipeline(up.read(), stages)
    assert sorted(map(tuple, down.read().collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert run_corpus_pipeline_changefeed(
        spark, up, stages, down, pk=("doc_id",)
    ).versions_applied == 0


def test_classifier_filter_stage(engine):
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    docs = engine.read("documents")
    seed = (
        "size(filter(split(lower(trim(text)), '\\\\s+'), x -> x = 'fast')) > "
        "size(filter(split(lower(trim(text)), '\\\\s+'), x -> x = 'slow'))"
    )
    out = run_corpus_pipeline(
        docs,
        [{"stage": "classifier_filter", "seed_expr": seed,
          "min_score": 0.5, "iters": 6, "lr": 400.0}],
    )
    rows = out.collect()
    assert 0 < len(rows) < docs.count()  # a real filter, not pass-all/none
    assert all(r.score >= 0.5 for r in rows)


def test_leakage_split_stage(engine):
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    docs = engine.read("documents")
    out = run_corpus_pipeline(
        docs, [{"stage": "leakage_split", "threshold": 0.8}]
    )
    assert out.filter("split not in ('train','val','test')").count() == 0
    assert out.count() == docs.count()


def test_dedup_indexed_stage(engine, tmp_path):
    from etl_cli_spark.operators.dedup import build_dedup_index, dedup_against_index
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    docs = engine.read("documents")
    path = str(tmp_path / "hist")
    build_dedup_index(docs.filter("doc_id % 2 = 0"), path)
    batch = docs.filter("doc_id % 2 = 1")
    out = run_corpus_pipeline(
        batch, [{"stage": "dedup_indexed", "index_path": path, "threshold": 0.8}]
    )
    direct = dedup_against_index(batch, path, threshold=0.8)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in direct.collect()
    )
    assert out.count() < batch.count()  # fixture has cross-half near-dups


def test_strip_repeated_spans_stage(spark):
    """The declarative runner's span-strip stage equals the direct
    operator call."""
    from etl_cli_spark.operators.pipeline import strip_repeated_spans
    from etl_cli_spark.plans.corpus import run_corpus_pipeline

    df = spark.createDataFrame(
        [
            (1, "common header line here plus unique body one"),
            (2, "common header line here plus other words too"),
            (3, "totally different document body"),
        ],
        "doc_id int, text string",
    )
    direct = sorted(
        map(tuple, strip_repeated_spans(df, n=5, min_docs=2).collect())
    )
    staged = sorted(
        map(
            tuple,
            run_corpus_pipeline(
                df, [{"stage": "strip_repeated_spans", "n": 5, "min_docs": 2}]
            ).collect(),
        )
    )
    assert staged == direct
    assert any(r[-1] > 0 for r in staged)  # something actually stripped


def test_streaming_runner_span_index_strips_across_drops(spark, tmp_path):
    """Two crawl drops through the streaming runner with a span index:
    drop 2's boilerplate (shared with drop 1) is stripped even though
    the two drops never coexist in one micro-batch; drop 1's unique
    text passes through."""
    from pyspark.sql import types as T

    from etl_cli_spark.operators.pipeline import build_span_index
    from etl_cli_spark.plans.corpus import run_corpus_pipeline_streaming

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "drops")
    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")
    span_idx = str(tmp_path / "span_idx")
    drop1 = spark.createDataFrame(
        [(1, "standard legal footer boilerplate here plus unique one")],
        schema,
    )
    drop2 = spark.createDataFrame(
        [
            (10, "standard legal footer boilerplate here plus unique ten"),
            (11, "completely original second drop document"),
        ],
        schema,
    )
    # seed an empty index (build over an empty frame pins n)
    build_span_index(drop1.limit(0), span_idx, n=5)
    for drop in (drop1, drop2):
        drop.write.mode("append").parquet(src)
        run_corpus_pipeline_streaming(
            spark, src, schema, [], out, ckpt, span_index_path=span_idx,
        )
    rows = {r.doc_id: (r.text, r.n_stripped)
            for r in spark.read.parquet(out).collect()}
    assert rows[1][1] == 0                      # drop 1 saw no history
    # drop 2: shared 5-gram windows start at tokens 0,1,2 (the texts
    # agree through "...plus unique"), so the union covers tokens 0-6
    # and only the final differing token survives
    assert rows[10] == ("ten", 7)
    assert rows[11][1] == 0


def test_streaming_runner_signs_raw_text_not_stripped(spark, tmp_path):
    """The index must sign each drop's RAW text, not its stripped text
    (r8 fix): drop 2's leading boilerplate is stripped (shared with
    drop 1), but its raw window "e w x y z" must still land in the
    index so drop 3 — which shares exactly that span and nothing
    else — strips it. Signing the stripped text would lose the gram
    and leave drop 3 untouched."""
    from pyspark.sql import types as T

    from etl_cli_spark.operators.pipeline import build_span_index
    from etl_cli_spark.plans.corpus import run_corpus_pipeline_streaming

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "drops")
    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")
    span_idx = str(tmp_path / "span_idx")
    drops = [
        (1, "a b c d e q1"),
        (2, "a b c d e w x y z q2"),   # strips "a b c d e" vs drop 1
        (3, "e w x y z q3"),           # shares ONLY drop 2's raw window
    ]
    build_span_index(
        spark.createDataFrame([], schema).limit(0), span_idx, n=5
    )
    for row in drops:
        spark.createDataFrame([row], schema).write.mode("append").parquet(src)
        run_corpus_pipeline_streaming(
            spark, src, schema, [], out, ckpt, span_index_path=span_idx,
        )
    rows = {r.doc_id: (r.text, r.n_stripped)
            for r in spark.read.parquet(out).collect()}
    assert rows[1] == ("a b c d e q1", 0)
    assert rows[2] == ("w x y z q2", 5)
    # the decisive row: only drop 2's RAW text contains "e w x y z"
    assert rows[3] == ("q3", 5)


def test_span_index_append_is_batch_gated_exactly_once(spark, tmp_path):
    """Crash-replay contract: re-appending the SAME batch id must be
    skipped, not double-count the drop's grams; a replayed strip
    excluding its own batch sees exactly the history the original run
    saw; and a backwards batch id raises. Stream ids are manifest
    keys, so any string works (a space, non-ASCII)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import pytest as _pytest

    from etl_cli_spark.operators.pipeline import (
        append_to_span_index,
        build_span_index,
        strip_against_span_index,
    )
    from etl_cli_spark.operators.writeops import ParquetTable

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    b1 = spark.createDataFrame(
        [(1, "shared legal boilerplate span here plus one")], schema
    )
    b2 = spark.createDataFrame(
        [(10, "shared legal boilerplate span here plus ten")], schema
    )
    for i, sid in enumerate(["has space", "naïve", "s"]):
        idx = str(tmp_path / f"span_idx{i}")
        build_span_index(spark.createDataFrame([], schema).limit(0), idx, n=5)
        append_to_span_index(b1, idx, batch_id=0, stream_id=sid)

        def hist_counts():
            return {
                r.gh: r.n
                for r in ParquetTable(spark, idx).read()
                .groupBy("gh")
                .agg(F.sum("n_docs").alias("n"))
                .collect()
            }

        once = hist_counts()
        # replay batch 0 (crash between append and checkpoint commit)
        append_to_span_index(b1, idx, batch_id=0, stream_id=sid)
        assert hist_counts() == once, "replayed append double-counted grams"

        # strip of batch 1 BEFORE its append...
        before = {
            r.doc_id: (r.text, r.n_stripped)
            for r in strip_against_span_index(b2, idx, min_docs=2).collect()
        }
        # ...must equal the replayed strip AFTER its append landed, when
        # the replay excludes its own batch
        append_to_span_index(b2, idx, batch_id=1, stream_id=sid)
        replay = {
            r.doc_id: (r.text, r.n_stripped)
            for r in strip_against_span_index(
                b2, idx, min_docs=2, exclude_batch=(sid, 1)
            ).collect()
        }
        assert replay == before, "replayed strip saw its own batch"
        # and WITHOUT the exclusion the self-sighting over-strip is real
        # (the failure mode the gate exists to prevent)
        with_self = {
            r.doc_id: r.n_stripped
            for r in strip_against_span_index(b2, idx, min_docs=2).collect()
        }
        assert with_self[10] >= before[10][1]

        # lineage guard: a batch id BELOW the stream's committed one
        # means the checkpoint was reset — re-signing history would
        # double-count grams, so the append must refuse
        with _pytest.raises(RuntimeError, match="checkpoint was reset"):
            append_to_span_index(b1, idx, batch_id=0, stream_id=sid)
        # equal (crash replay) and forward batch ids still append fine
        append_to_span_index(b2, idx, batch_id=1, stream_id=sid)
        append_to_span_index(b1.limit(0), idx, batch_id=2, stream_id=sid)
        assert ParquetTable(spark, idx).last_stream_batch(sid) == 2

def test_streaming_runner_exactly_once_output(spark, tmp_path):
    """Exactly-once output, lineage-scoped (the Delta txnAppId pattern —
    stream ids derive from the checkpoint path):

    1. resuming the SAME checkpoint is a no-op (no duplicates);
    2. a NEW checkpoint is a new lineage: re-delivered history appends
       again (duplicates) but NEW files are never silently lost — the
       failure a lineage-global watermark would have (fresh batch ids
       restart at 0 and would look like replays);
    3. deleting and recreating the checkpoint at the SAME path is
       detected (backwards batch id) and refused loudly.
    """
    import shutil

    import pytest as _pytest
    from pyspark.sql import types as T

    from etl_cli_spark.operators.writeops import ParquetTable
    from etl_cli_spark.plans.corpus import run_corpus_pipeline_streaming

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows_a = [(i, f"document number {i} body text") for i in range(6)]
    src = str(tmp_path / "drops")
    out = str(tmp_path / "out_eo.parquet")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    spark.createDataFrame(rows_a, schema).write.mode("append").parquet(src)

    run_corpus_pipeline_streaming(
        spark, src, schema, [], out, ck1)
    # (1) same-checkpoint resume: nothing pending, nothing duplicated
    run_corpus_pipeline_streaming(
        spark, src, schema, [], out, ck1)
    assert ParquetTable(spark, out).read().count() == len(rows_a)

    # (2) new checkpoint + a NEW drop: history duplicates (documented
    # at-least-once across lineages) but the new rows ARE present —
    # never silently lost
    rows_b = [(100 + i, f"late drop doc {i}") for i in range(3)]
    spark.createDataFrame(rows_b, schema).write.mode("append").parquet(src)
    run_corpus_pipeline_streaming(
        spark, src, schema, [], out, ck2)
    got = ParquetTable(spark, out).read()
    assert got.count() == 2 * len(rows_a) + len(rows_b)
    assert {r[0] for r in rows_b} <= {r.doc_id for r in got.collect()}

    # (3) same-path checkpoint reset with multi-batch history: refused
    out3 = str(tmp_path / "out3.parquet")
    ck3 = str(tmp_path / "ck3")
    src3 = str(tmp_path / "drops3")
    spark.createDataFrame(rows_a[:3], schema).write.mode("append").parquet(src3)
    run_corpus_pipeline_streaming(
        spark, src3, schema, [], out3, ck3)   # batch 0
    spark.createDataFrame(rows_a[3:], schema).write.mode("append").parquet(src3)
    run_corpus_pipeline_streaming(
        spark, src3, schema, [], out3, ck3)   # batch 1
    shutil.rmtree(ck3)
    spark.createDataFrame(rows_b, schema).write.mode("append").parquet(src3)
    with _pytest.raises(Exception, match="checkpoint.*reset|below the committed"):
        run_corpus_pipeline_streaming(
            spark, src3, schema, [], out3, ck3)



@pytest.mark.parametrize("seed", [0, 1])
def test_streaming_runner_crash_replay_property(spark, tmp_path, monkeypatch, seed):
    """Round-9 end-to-end crash-replay property (VERDICT r8 item 6):
    every batch of a 3-drop exactly-once run is killed ONCE at a
    seeded-random point inside the foreachBatch body — before the
    output commit, between the commit and the span-index append, or
    after all work but before the streaming checkpoint commit — and
    then replayed by re-invoking the runner on the same checkpoint.
    The final corpus content, manifest version count, exactly-once
    watermark, and span-index per-gram history must all equal a
    never-crashed run over the same drops. (r8 pinned append
    idempotence and strip self-exclusion separately; this drives the
    whole runner through the streaming machinery.)"""
    import hashlib
    import os
    import random

    from pyspark.sql import types as T

    import etl_cli_spark.operators.pipeline as pl
    from etl_cli_spark.operators.pipeline import build_span_index
    from etl_cli_spark.operators.writeops import ParquetTable
    from etl_cli_spark.plans.corpus import run_corpus_pipeline_streaming

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    # shared boilerplate so the span index actually strips across drops,
    # plus a stage so the composed pipeline participates
    drops = [
        [(1, "standard legal footer boilerplate text plus unique one"),
         (2, "fully original first drop document body q2")],
        [(10, "standard legal footer boilerplate text plus unique ten"),
         (-1, "filtered out by the stage list")],
        [(20, "standard legal footer boilerplate text plus unique twenty"),
         (21, "fully original first drop document body q21")],
    ]
    stages = [{"stage": "filter", "expr": "doc_id >= 0"}]

    real_strip = pl.strip_against_span_index
    real_append = pl.append_to_span_index
    arm = {"point": None}

    def strip_w(*a, **kw):
        if arm["point"] == "pre_commit":
            arm["point"] = None
            raise RuntimeError("injected crash pre-commit")
        return real_strip(*a, **kw)

    def append_w(*a, **kw):
        if arm["point"] == "post_commit":
            arm["point"] = None
            raise RuntimeError("injected crash post-commit")
        r = real_append(*a, **kw)
        if arm["point"] == "post_all":
            arm["point"] = None
            raise RuntimeError("injected crash post-all")
        return r

    monkeypatch.setattr(pl, "strip_against_span_index", strip_w)
    monkeypatch.setattr(pl, "append_to_span_index", append_w)

    # every crash point exercised exactly once, order seeded-random
    points = ["pre_commit", "post_commit", "post_all"]
    random.Random(seed).shuffle(points)

    def run(tag, crash_points):
        src = str(tmp_path / f"drops_{tag}")
        out = str(tmp_path / f"out_{tag}.parquet")
        ck = str(tmp_path / f"ck_{tag}")
        idx = str(tmp_path / f"span_{tag}")
        build_span_index(spark.createDataFrame([], schema), idx, n=5)
        for i, rows in enumerate(drops):
            spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
            if crash_points is not None:
                arm["point"] = crash_points[i]
                with pytest.raises(Exception, match="injected crash"):
                    run_corpus_pipeline_streaming(
                        spark, src, schema, stages, out, ck,
                        span_index_path=idx,
                    )
                assert arm["point"] is None, "crash point never fired"
            # (re-)run to completion — replays the killed batch
            run_corpus_pipeline_streaming(
                spark, src, schema, stages, out, ck,
                span_index_path=idx,
            )
        t = ParquetTable(spark, out)
        ck_tag = hashlib.sha256(os.path.abspath(ck).encode()).hexdigest()[:12]
        content = sorted(
            (r.doc_id, r.text, r.n_stripped) for r in t.read().collect()
        )
        grams = {
            (r.gh, r.n)
            for r in ParquetTable(spark, idx).read()
            .groupBy("gh").agg(F.sum("n_docs").alias("n")).collect()
        }
        return {
            "content": content,
            "versions": len(t.versions()),
            "watermark": t.last_stream_batch(f"corpus_out_{ck_tag}"),
            "grams": grams,
        }

    clean = run("clean", None)
    crashed = run("crashed", points)
    assert crashed == clean, f"crash-replay diverged (points={points})"
    # sanity on the scenario itself: stripping DID happen and the stage
    # dropped the negative doc
    ids = {c[0] for c in clean["content"]}
    assert -1 not in ids and {1, 2, 10, 20, 21} <= ids
    assert any(c[2] > 0 for c in clean["content"]), "no spans stripped?"
