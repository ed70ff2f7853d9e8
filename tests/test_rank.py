"""Vocabulary / TF-IDF / BM25 ranking (operators/rank.py)."""

import math

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.operators.rank import bm25_score, tfidf_score, vocab


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "cats and dogs living together"),
            (4, "the the the the"),
        ],
        "doc_id long, text string",
    )


def test_vocab_counts_and_doc_freq(corpus):
    rows = {r.term: (r["count"], r.doc_freq) for r in vocab(corpus).collect()}
    assert rows["the"] == (8, 3)  # 2 + 2 + 0 + 4 occurrences across 3 docs
    assert rows["sat"] == (2, 2)
    assert rows["cat"] == (1, 1)


def test_vocab_min_count_and_top_k(corpus):
    only_frequent = vocab(corpus, min_count=2)
    assert all(r["count"] >= 2 for r in only_frequent.collect())
    top1 = vocab(corpus, top_k=1).collect()
    assert len(top1) == 1 and top1[0].term == "the"


def test_vocab_topk_tiebreak_deterministic(spark):
    df = spark.createDataFrame([(1, "b a"), (2, "a b")], "doc_id long, text string")
    got = [r.term for r in vocab(df, top_k=2).collect()]
    assert got == ["a", "b"]  # equal counts -> lexicographic


def test_tfidf_matches_hand_formula(corpus):
    # 'cat': tf=1 in doc1, df=1, N=4 -> idf = ln(5/2)
    got = {r.doc_id: r.score for r in tfidf_score(corpus, ["cat"]).collect()}
    assert set(got) == {1}
    assert got[1] == pytest.approx(math.log(5 / 2))


def test_tfidf_sums_over_terms(corpus):
    got = {r.doc_id: r.score for r in tfidf_score(corpus, ["cat", "sat"]).collect()}
    idf_cat = math.log(5 / 2)
    idf_sat = math.log(5 / 3)
    assert got[1] == pytest.approx(idf_cat + idf_sat)
    assert got[2] == pytest.approx(idf_sat)


def test_bm25_matches_hand_formula(corpus):
    k1, b = 1.2, 0.75
    # doc lengths: 6, 6, 5, 4 -> avgdl = 5.25, N = 4
    # 'sat': df=2 -> idf = ln(1 + (4-2+0.5)/(2+0.5)) = ln(2)
    got = {r.doc_id: r.score for r in bm25_score(corpus, ["sat"]).collect()}
    idf = math.log(2.0)
    dl, avgdl = 6.0, 5.25
    want = idf * 1.0 / (1.0 + k1 * (1 - b + b * dl / avgdl))
    assert got[1] == pytest.approx(want)
    assert got[2] == pytest.approx(want)  # same length, same tf


def test_bm25_rewards_tf_with_saturation(corpus):
    got = {r.doc_id: r.score for r in bm25_score(corpus, ["the"]).collect()}
    # doc4 has tf=4 of 'the' and is shortest: highest score
    assert got[4] > got[1] and got[4] > got[2]
    # saturation: score grows sublinearly in tf
    assert got[4] < 4 * got[1]


def test_scoring_only_touches_query_terms(corpus):
    out = tfidf_score(corpus, ["nonexistent_zz"])
    assert out.count() == 0


def test_unigram_logprob_hand_computed(corpus):
    """Doc 4 is pure 'the' (the most common token -> lowest nll); the
    value matches a hand-built unigram model over the corpus."""
    import math

    from etl_cli_spark.operators.rank import unigram_logprob

    toks = []
    for _, text in [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "cats and dogs living together"),
        (4, "the the the the"),
    ]:
        toks.extend(text.split())
    total = len(toks)
    cnt = {t: toks.count(t) for t in set(toks)}
    got = {r.doc_id: r.nll for r in unigram_logprob(corpus).collect()}
    for doc_id, text in [(1, "the cat sat on the mat"), (4, "the the the the")]:
        ts = text.split()
        want = -sum(math.log(cnt[t] / total) for t in ts) / len(ts)
        assert got[doc_id] == pytest.approx(want)
    assert got[4] == min(got.values())  # all-boilerplate scores lowest


def test_unigram_logprob_flags_rare_tokens(corpus):
    from etl_cli_spark.operators.rank import unigram_logprob

    got = {r.doc_id: r.nll for r in unigram_logprob(corpus).collect()}
    # doc 3 is all singleton tokens -> most surprising
    assert got[3] == max(got.values())


def test_vocab_with_ids_deterministic(corpus):
    from etl_cli_spark.operators.rank import vocab_with_ids

    ids = {r.term: r.tid for r in vocab_with_ids(corpus).collect()}
    # 'the' dominates (8 occurrences) -> id 1; ids dense 1..V
    assert ids["the"] == 1
    assert sorted(ids.values()) == list(range(1, len(ids) + 1))


def test_tokenize_documents_order_and_unk(corpus):
    from etl_cli_spark.operators.rank import tokenize_documents, vocab_with_ids

    voc = vocab_with_ids(corpus, top_k=3)  # small vocab -> unk path real
    ids = {r.term: r.tid for r in voc.collect()}
    got = {r.doc_id: list(r.token_ids) for r in tokenize_documents(corpus, voc).collect()}
    for doc_id, text in [(1, "the cat sat on the mat"), (4, "the the the the")]:
        want = [ids.get(t, 0) for t in text.split()]
        assert got[doc_id] == want  # document order preserved, unk = 0
    assert 0 in got[3]  # doc 3 is rare words -> unks present


def test_score_documents_matches_individual_scorers(corpus):
    """The shared-terms combined pass must equal the three scorers run
    independently — same math, one corpus scan instead of three."""
    from etl_cli_spark.operators.rank import (
        bm25_score,
        score_documents,
        tfidf_score,
        unigram_logprob,
    )

    q = ["the", "sat"]
    combined = {r.doc_id: (r.tfidf, r.bm25, r.nll) for r in score_documents(corpus, q).collect()}
    tf = {r.doc_id: r.score for r in tfidf_score(corpus, q).collect()}
    bm = {r.doc_id: r.score for r in bm25_score(corpus, q).collect()}
    lm = {r.doc_id: r.nll for r in unigram_logprob(corpus).collect()}
    assert set(combined) == set(tf)
    for k, (a, b, c) in combined.items():
        assert (a, b, c) == pytest.approx((tf[k], bm[k], lm[k]))


def test_text_index_search_matches_direct(spark, engine, tmp_path):
    """Indexed BM25 top-k must equal the direct scorer's top-k — same
    math, but the read is partition-pruned postings, not the corpus."""
    from etl_cli_spark.operators.rank import bm25_score, bm25_topk_indexed, build_text_index

    docs = engine.read("documents")
    path = str(tmp_path / "tidx")
    build_text_index(docs, path, n_buckets=16)
    q = ["spark", "join", "window"]
    indexed = [(r.doc_id, r.score) for r in bm25_topk_indexed(spark, path, q, k=15).collect()]
    direct = [
        (r.doc_id, r.score)
        for r in bm25_score(docs, q)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
        .collect()
    ]
    assert indexed == direct


def test_text_index_probe_is_partition_pruned(spark, engine, tmp_path):
    """The probe's parquet scan must carry a PartitionFilters entry on
    __tb — directory pruning, the property that makes a query touch a
    handful of buckets instead of the corpus."""
    from etl_cli_spark.operators.rank import bm25_topk_indexed, build_text_index

    docs = engine.read("documents")
    path = str(tmp_path / "tidx2")
    build_text_index(docs, path, n_buckets=16)
    df = bm25_topk_indexed(spark, path, ["spark"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__tb" in plan.split("PartitionFilters: [", 1)[1][:200]


def test_text_index_append_equals_rebuild(spark, engine, tmp_path):
    """build(A) + append(B) must answer identically to build(A union B):
    df(t) derives from postings at query time and (n_docs, sum_dl)
    update exactly (integer-double sums), so no drift is possible."""
    from etl_cli_spark.operators.rank import (
        append_to_text_index,
        bm25_topk_indexed,
        build_text_index,
    )

    docs = engine.read("documents")
    a, b = docs.filter("doc_id % 3 != 0"), docs.filter("doc_id % 3 = 0")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index(a, inc, n_buckets=8)
    append_to_text_index(b, inc)
    build_text_index(docs, full, n_buckets=8)
    q = ["spark", "join", "window"]
    got_inc = [(r.doc_id, r.score) for r in bm25_topk_indexed(spark, inc, q, k=20).collect()]
    got_full = [(r.doc_id, r.score) for r in bm25_topk_indexed(spark, full, q, k=20).collect()]
    assert got_inc == got_full


# -- DSIR importance resampling (round-4) ------------------------------------


def test_importance_weights_favor_target_like_docs(engine):
    """Documents from the target distribution score higher than the
    corpus average — the basic DSIR property."""
    from etl_cli_spark.operators.rank import importance_weights

    d = engine.read("documents")
    target = d.filter("lang = 'en' and doc_id % 7 = 0")
    w = importance_weights(d, target)
    rows = {r.doc_id: r.log_weight for r in w.select("doc_id", "log_weight").collect()}
    import statistics

    tgt_ids = {r.doc_id for r in target.select("doc_id").collect()}
    tgt_mean = statistics.mean(rows[i] for i in tgt_ids)
    rest_mean = statistics.mean(v for k, v in rows.items() if k not in tgt_ids)
    assert tgt_mean > rest_mean
    assert len(rows) == d.count()  # every doc scored (short docs -> 0)


def test_dsir_select_deterministic_topk(engine):
    from etl_cli_spark.operators.rank import dsir_select, importance_weights

    d = engine.read("documents")
    target = d.filter("lang = 'de'")
    sel = dsir_select(d, target, k=20)
    assert sel.count() == 20
    # the selection IS the top-20 by (weight desc, id)
    w = importance_weights(d, target)
    expected = [
        r.doc_id
        for r in w.orderBy(F.col("log_weight").desc(), "doc_id").limit(20).collect()
    ]
    assert sorted(r.doc_id for r in sel.collect()) == sorted(expected)


def test_dsir_gumbel_reproducible_and_distinct(engine):
    """Gumbel resampling is deterministic given the seed (hash-derived
    noise), differs from the mode-seeking top-k, and changes with seed."""
    from etl_cli_spark.operators.rank import dsir_select

    d = engine.read("documents")
    target = d.filter("lang = 'en' and doc_id % 7 = 0")
    g1 = {r.doc_id for r in dsir_select(d, target, k=20, gumbel=True).collect()}
    g2 = {r.doc_id for r in dsir_select(d, target, k=20, gumbel=True).collect()}
    assert g1 == g2 and len(g1) == 20
    plain = {r.doc_id for r in dsir_select(d, target, k=20).collect()}
    other = {r.doc_id for r in dsir_select(d, target, k=20, gumbel=True, seed="x").collect()}
    assert g1 != plain or g1 != other  # noise actually does something


def test_unigram_logprob_external_model_scores_in_vocab_only(spark):
    """model_docs trains the counts on a reference corpus; OOV tokens
    are excluded from sum AND normalizer, and a doc with zero in-vocab
    tokens emits no row (the CCNet-shape contract)."""
    import math

    from etl_cli_spark.operators.rank import unigram_logprob

    model = spark.createDataFrame(
        [(100, "aa aa bb")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "aa bb zz"), (2, "zz qq")], "doc_id long, text string"
    )
    got = {r.doc_id: r.nll for r in unigram_logprob(docs, model_docs=model).collect()}
    # model: aa 2/3, bb 1/3; doc 1 scores over {aa, bb} only
    want = -(math.log(2 / 3) + math.log(1 / 3)) / 2
    assert abs(got[1] - want) < 1e-12
    assert 2 not in got  # fully OOV -> absent


def test_perplexity_buckets_equal_count_tiers_and_tie_safety(spark):
    """Quantile-threshold bucketing: equal-count head/middle/tail per
    language; tied scores always share a bucket (never split by id,
    which would be arbitrary)."""
    from etl_cli_spark.operators.rank import perplexity_buckets

    # 9 'en' docs with three distinct fluency levels (3 docs each: the
    # common word, a mid word, a rare word), 3 'xx' docs
    rows = []
    for i in range(3):
        rows.append((i, "en", "common common common"))
        rows.append((10 + i, "en", "common mid"))
        rows.append((20 + i, "en", "rare"))
    for i in range(3):
        rows.append((30 + i, "xx", "foo" if i < 2 else "foo bar"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: (r.lang, r.bucket, r.tier) for r in perplexity_buckets(df).collect()}
    # en: the three score levels map to the three tiers, ties together
    assert all(out[i] == ("en", 1, "head") for i in range(3))
    assert all(out[10 + i] == ("en", 2, "middle") for i in range(3))
    assert all(out[20 + i] == ("en", 3, "tail") for i in range(3))
    # languages bucket independently
    assert {out[30 + i][0] for i in range(3)} == {"xx"}


def test_text_index_probe_reads_id_col_from_index(spark, engine, tmp_path):
    """An index built with another id column answers under that column:
    the probe takes ``id_col`` from the index's commit."""
    from etl_cli_spark.operators.rank import bm25_topk_indexed, build_text_index

    docs = engine.read("documents")
    path = str(tmp_path / "tidx_id")
    build_text_index(docs.withColumnRenamed("doc_id", "id"), path, id_col="id", n_buckets=8)
    build_text_index(docs, str(tmp_path / "tidx_doc"), n_buckets=8)
    q = ["spark", "join", "window"]
    got = bm25_topk_indexed(spark, path, q, k=10)
    assert got.columns == ["id", "score"]
    want = bm25_topk_indexed(spark, str(tmp_path / "tidx_doc"), q, k=10).collect()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]


def test_text_index_failed_append_keeps_answer(spark, engine, tmp_path, monkeypatch):
    """An append that fails at its commit leaves the index answering as
    before (postings and statistics are one commit), and the retried
    append answers like a rebuild over the union."""
    from etl_cli_spark.operators.rank import (
        append_to_text_index,
        bm25_topk_indexed,
        build_text_index,
    )
    from etl_cli_spark.operators.writeops import ParquetTable

    docs = engine.read("documents").filter("doc_id < 40")
    even, odd = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index(even, inc, n_buckets=8)
    build_text_index(docs, full, n_buckets=8)
    q = ["spark", "join", "window"]
    probe = lambda p: [tuple(r) for r in bm25_topk_indexed(spark, p, q, k=5).collect()]
    before = probe(inc)

    def dying_commit(self, make, **kw):
        raise RuntimeError("injected crash at the append commit")

    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_commit", dying_commit)
        with pytest.raises(RuntimeError, match="injected crash"):
            append_to_text_index(odd, inc)
    assert probe(inc) == before
    append_to_text_index(odd, inc)
    assert probe(inc) == probe(full)
    assert ParquetTable(spark, inc).read().count() == ParquetTable(spark, full).read().count()
