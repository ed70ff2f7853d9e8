"""Corpus statistics and relevance ranking: vocabulary building, TF-IDF,
and BM25 scoring.

Training-data pipelines use these beyond search: vocabulary frequency
tables feed tokenizer training and coverage checks; TF-IDF / BM25 scores
drive quality-targeted selection ("keep documents most similar to a
trusted seed corpus" — the DSIR/importance-resampling family reduces to
scoring docs against seed-set terms).

Everything is built-in Column expressions over an explode -> groupBy
skeleton — no UDFs — and the per-query scoring path filters to the query
terms BEFORE any shuffle, so only matching (doc, term) pairs ever move:
at 100 TB the corpus-stats pass is one scan + one narrow-key shuffle, and
a scoring pass moves data proportional to the hit set, not the corpus.

Tokenization matches operators.text.tokens (lowercased, whitespace) so
scores line up with the rest of the text family and the DuckDB oracles
can re-tokenize identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fanout import fan_out_for_compute
from ..share import scope, shared

from .text import tokens
from .writeops import open_index


def _doc_terms(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, tf) — term frequency per document. The explode is
    narrow; the groupBy shuffles (id, term) pairs only."""
    docs = fan_out_for_compute(docs)  # parallelize tokenize+explode (round-14)
    return (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def vocab(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: (term, count, doc_freq), optionally truncated
    to the ``top_k`` most frequent terms (deterministic tie-break on the
    term itself — a stable vocab is what a tokenizer build needs).

    One scan, ONE shuffle on the term (count and distinct-doc count come
    out of the same hash aggregate, with map-side partials). top_k sorts
    the already-aggregated vocab, never the corpus.
    """
    out = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.count_distinct(F.col(id_col)).alias("doc_freq"),
        )
        .filter(F.col("count") >= min_count)
    )
    if top_k is not None:
        out = out.orderBy(F.col("count").desc(), F.col("term")).limit(top_k)
    return out


def tfidf_score(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    terms: DataFrame | None = None,
) -> DataFrame:
    """Score documents against a bag of query terms with smooth TF-IDF:
    score = sum_t tf(d,t) * ln((1 + N) / (1 + df(t))).

    df(t) counts over the FULL corpus (so idf reflects true rarity), but
    the scoring join touches only rows whose term is in the query set —
    the filter sits under the aggregate, so Catalyst pushes it into the
    scan side of the shuffle.
    """
    terms = _doc_terms(docs, text_col, id_col) if terms is None else terms
    n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
    dfreq = (
        terms.filter(F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log((1 + F.col("__n")) / (1 + F.col("df"))).alias("idf")
    )
    return (
        terms.filter(F.col("term").isin(query_terms))
        .join(F.broadcast(idf), "term")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("score"))
    )


def vocab_with_ids(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """(term, tid) — deterministic contiguous token ids, 1-based, ordered
    by (count desc, term). Id 0 is reserved for unknown tokens.

    The id-assignment window is unpartitioned — one task ranks the
    VOCABULARY (already aggregated, Zipf-bounded: ~1e5-1e6 tiny rows at
    any corpus size), never the corpus. That is the right trade: stable
    dense ids need a total order.
    """
    from pyspark.sql.window import Window

    v = vocab(docs, text_col, id_col, min_count=min_count, top_k=top_k)
    w = Window.orderBy(F.col("count").desc(), F.col("term"))
    return v.select("term", F.row_number().over(w).alias("tid"))


def tokenize_documents(
    docs: DataFrame,
    vocab_ids: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """(doc_id, token_ids array<int>) — the "tokenized shards" endpoint
    of the training pipeline: posexplode tokens with positions,
    broadcast-join the vocabulary, reassemble in document order.

    The only wide exchange carries (doc_id, pos, tid) triples — ints,
    never text — and the vocab join broadcasts. Documents with no tokens
    produce no row (matching the explode semantics).
    """
    if vocab_ids is None:
        vocab_ids = vocab_with_ids(docs, text_col, id_col)
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "term")
    ).filter(F.col("term") != "")
    joined = toks.join(F.broadcast(vocab_ids), "term", "left").select(
        id_col, "pos", F.coalesce(F.col("tid"), F.lit(int(unk_id))).alias("tid")
    )
    return (
        joined.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tid"))).alias("__pt"))
        .select(id_col, F.transform("__pt", lambda s: s["tid"]).alias("token_ids"))
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    terms: DataFrame | None = None,
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-token negative log-likelihood under a unigram model:
    nll(d) = -(1/|d|) * sum_t tf(d,t) * ln(count(t) / total).

    The KenLM-style perplexity quality filter reduced to its relational
    core — documents full of model-rare tokens score high (surprising),
    boilerplate scores low. ``model_docs`` (round-13) trains the term
    counts on a REFERENCE corpus instead of the scored corpus itself —
    the CCNet shape, where the LM comes from a clean corpus (their
    Wikipedia KenLM) and scores the crawl. Out-of-vocabulary tokens are
    excluded from both the sum and the normalizer (score over in-vocab
    mass; a document with zero in-vocab tokens emits no row) — the
    deterministic relational analogue of CCNet scoring only what the
    LM knows. Train and score are ONE plan: model term counts (one
    term-key shuffle with map-side partials), broadcast-join back onto
    the (doc, term) pairs, weighted average per doc. No UDFs; at
    100 TB the vocabulary table is Zipf-small next to the corpus, so
    AQE broadcasts it and the scoring pass adds no extra wide shuffle
    beyond the tf aggregate.
    """
    terms = _doc_terms(docs, text_col, id_col) if terms is None else terms
    model_terms = (
        terms if model_docs is None else _doc_terms(model_docs, text_col, id_col)
    )
    cnt = model_terms.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = cnt.agg(F.sum("cnt").alias("total"))
    logp = cnt.crossJoin(F.broadcast(total)).select(
        "term", F.log(F.col("cnt") / F.col("total")).alias("logp")
    )
    return (
        terms.join(logp, "term")
        .groupBy(id_col)
        .agg((-F.sum(F.col("tf") * F.col("logp")) / F.sum("tf")).alias("nll"))
    )


def perplexity_buckets(
    docs: DataFrame,
    model_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — public method): score every document's unigram NLL
    against a reference model (``model_docs``; the corpus itself by
    default), then split each language into ``n_buckets`` equal-count
    tiers by score — CCNet's head / middle / tail, the standard crawl
    curation knob (keep head, sample middle, drop tail).

    Bucketing is QUANTILE-THRESHOLD, not ntile: a per-language ntile
    window would sort every document of a language on ONE task
    (English = half the corpus at web scale — the classic window-scale
    cliff). Instead: (1) NLL rounds to 6 dp (the portable-score grid
    every rank oracle uses); (2) one hash aggregate counts docs per
    (lang, nll6) — map-side combined, output bounded by DISTINCT
    score values, not documents; (3) a window over that SMALL distinct
    table builds per-language cumulative counts; (4) a broadcastable
    join maps each document to ``bucket = ceil(cum * n_buckets /
    n_lang)``. Equal scores land in the same bucket (tied documents
    are genuinely indistinguishable — splitting them by id, as ntile
    does, is arbitrary), buckets are equal-count up to tie granularity,
    and every step is replayable SQL. Documents with no in-vocab
    tokens are absent (the unigram_logprob contract).

    Returns ``(id, lang, nll, bucket, tier)`` with bucket in
    1..n_buckets (1 = most fluent) and tier = head/middle/tail when
    ``n_buckets == 3`` (else the bucket number as a string).

    The scored ``(id, lang, nll6)`` table feeds two consumers (the
    tier-threshold aggregate and the final doc→bucket join) inside one
    query, so Catalyst's exchange reuse evaluates its shuffles once
    (``ReusedExchange`` in the final plan); nothing is cached."""
    from pyspark.sql import Window

    nll = unigram_logprob(
        docs, text_col=text_col, id_col=id_col, model_docs=model_docs
    )
    base = docs.select(id_col, lang_col).join(nll, id_col).select(
        id_col, lang_col, F.round("nll", 6).alias("nll")
    )
    by_val = base.groupBy(lang_col, "nll").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(lang_col).orderBy("nll")
    cum = by_val.select(
        lang_col,
        "nll",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n_lang"),
    )
    bucket = F.ceil(F.col("cum") * n_buckets / F.col("n_lang")).cast("int")
    tiers = cum.select(lang_col, "nll", bucket.alias("bucket"))
    out = base.join(F.broadcast(tiers), [lang_col, "nll"])
    if n_buckets == 3:
        tier = (
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        tier = F.col("bucket").cast("string")
    return out.select(id_col, lang_col, "nll", "bucket", tier.alias("tier"))


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 (Lucene's non-negative idf variant):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(d)    = sum_t idf(t) * tf / (tf + k1 * (1 - b + b * |d|/avgdl))

    |d| and avgdl count whitespace tokens. Corpus-level scalars (N,
    avgdl) are one tiny aggregate broadcast everywhere; per-term df only
    covers query terms. Data moved by the scoring join = hit set size.
    """
    dlen = docs.select(
        F.col(id_col), F.size(tokens(text_col)).cast("double").alias("dl")
    )
    scalars = dlen.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("avgdl")
    )
    terms = _doc_terms(docs, text_col, id_col) if terms is None else terms
    terms = terms.filter(F.col("term").isin(query_terms))
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(scalars)).select(
        "term",
        F.log(
            1 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avgdl",
    )
    return (
        terms.join(F.broadcast(idf), "term")
        .join(dlen, id_col)
        .select(
            id_col,
            (
                F.col("idf")
                * F.col("tf")
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("__s"),
        )
        .groupBy(id_col)
        .agg(F.sum("__s").alias("score"))
    )


# The BM25 index is one manifest table (writeops.open_index) of postings
# (term, id, tf, dl) at <path>, value-partitioned on __tb =
# pmod(xxhash64(term), n_buckets) and sorted on term within files. Its
# commits carry (n_buckets, n_docs, sum_dl, id_col), so a probe reads
# the corpus statistics and the postings of one snapshot, and an append
# commits its postings and the updated statistics together. A rebuild
# keeps the replaced version's files until ``vacuum`` runs on <path>.
_TEXT_TABLES = [("", ("__tb",))]


def _term_bucket(n_buckets: int) -> Column:
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets))


def _postings(docs: DataFrame, text_col: str, id_col: str, n_buckets: int):
    """(postings, n_docs, sum_dl) of ``docs``. sum_dl, not avgdl: dl
    values are integer-valued doubles, so the sum is EXACT in any order
    — incremental appends update it and stay bit-identical to a rebuild
    (avgdl derives as sum_dl / n_docs)."""
    dlen = docs.select(
        F.col(id_col), F.size(tokens(text_col)).cast("double").alias("dl")
    )
    postings = (
        _doc_terms(docs, text_col, id_col).join(dlen, id_col)
        .withColumn("__tb", _term_bucket(n_buckets))
    )
    agg = dlen.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).first()
    return postings, agg.n, float(agg.s or 0.0)


def build_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Persist an inverted index for BM25 search (see the layout note
    above).

    The text twin of the persisted ANN/IVF indexes: one corpus pass at
    build time; a query then reads ONLY the partitions holding its
    terms' buckets — a handful of directories, not the corpus. Document
    length is denormalized onto each posting so scoring needs no
    doc-side join. The partitioned write clusters each bucket into ~1
    file.
    """
    postings, n_docs, sum_dl = _postings(docs, text_col, id_col, n_buckets)
    [table] = open_index(docs.sparkSession, path, "bm25", _TEXT_TABLES, sort_by=("term",))
    table.overwrite(
        postings,
        params={"n_buckets": n_buckets, "n_docs": n_docs, "sum_dl": sum_dl, "id_col": id_col},
    )


def append_to_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Add documents to an existing index WITHOUT a rebuild: their
    postings append into the same term buckets, and the statistics
    update incrementally (counts and the exact integer-double dl sum)
    in the same commit — a failed append leaves the index as it was.

    Query results afterwards are bit-identical to a full rebuild over
    the union: df(t) is derived from the postings at query time (so it
    is automatically current), and (n_docs, sum_dl) update exactly.
    Unit-asserted against a rebuild. Deletes/updates still need a
    rebuild — postings carry no tombstones by design. One writer at a
    time: two racing appends would each commit statistics that miss
    the other's documents."""
    [table] = open_index(docs.sparkSession, path, "bm25", _TEXT_TABLES)
    p = table.snapshot().params
    postings, n_docs, sum_dl = _postings(
        docs.withColumnRenamed(id_col, p["id_col"]), text_col, p["id_col"], p["n_buckets"]
    )
    table.append(
        postings,
        params=dict(p, n_docs=p["n_docs"] + n_docs, sum_dl=p["sum_dl"] + sum_dl),
    )


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k over a :func:`build_text_index` artifact.

    Plan shape: the term-bucket ids for the query are computed with one
    tiny JVM job (|query| rows), then the index read carries BOTH a
    partition filter on ``__tb`` (directory pruning — PartitionFilters
    in the scan, unit-asserted) and a term filter (row pruning inside
    the touched buckets). Everything downstream — df(t), idf, score,
    top-k — runs on the hit postings only; identical math to
    :func:`bm25_score` (unit-asserted)."""
    [table] = open_index(spark, path, "bm25", _TEXT_TABLES)
    snap = table.snapshot()
    p = snap.params
    id_col, n_docs = p["id_col"], p["n_docs"]
    avgdl = float(p["sum_dl"]) / n_docs
    tdf = spark.createDataFrame([(t,) for t in query_terms], "term string")
    tb = [r[0] for r in tdf.select(_term_bucket(p["n_buckets"])).collect()]
    idx = table.read_partitions(sorted(set(tb)), version=snap.version).where(
        F.col("term").isin(query_terms)
    )
    dfreq = idx.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.select(
        "term",
        F.log(
            1 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    return (
        idx.join(F.broadcast(idf), "term")
        .select(
            id_col,
            (
                F.col("idf")
                * F.col("tf")
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
            ).alias("__s"),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
    )


def score_documents(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All three scores — (id, tfidf, bm25, nll) — from ONE (id, term,
    tf) pass: the term-frequency frame is computed once and
    shared by the scorers, so the corpus is tokenized and shuffled once
    instead of per score (3x fewer document scans; the per-score math is
    identical to calling the scorers individually).

    Only docs containing at least one query term carry tfidf/bm25; the
    inner join keeps exactly those (nll exists for all docs — use
    :func:`unigram_logprob` directly for a full-corpus quality pass).

    The terms frame is shared for the duration of this call: the
    result is materialized into a ``localCheckpoint`` (hit-set-sized —
    one row per matching doc, four columns — so the checkpoint is
    bounded however large the corpus) before the scope releases the
    corpus-sized cache.
    """
    with scope():
        terms = shared(_doc_terms(docs, text_col, id_col))
        tf = tfidf_score(docs, query_terms, text_col, id_col, terms=terms).select(
            id_col, F.col("score").alias("tfidf")
        )
        bm = bm25_score(docs, query_terms, text_col, id_col, terms=terms).select(
            id_col, F.col("score").alias("bm25")
        )
        lm = unigram_logprob(docs, text_col, id_col, terms=terms)
        out = tf.join(bm, id_col).join(lm, id_col)
        return out.localCheckpoint(eager=True)


# -- DSIR importance resampling (round-4) ------------------------------------

def _gram_bucket(gram: Column, m_buckets: int) -> Column:
    """Portable hashed-n-gram bucket: md5-prefix uint32 mod m — the same
    engine-replayable hash the split/sample/bloom family uses."""
    h = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(int(m_buckets)))


def _doc_gram_buckets(
    docs: DataFrame, text_col: str, id_col: str, n: int, m_buckets: int
) -> DataFrame:
    """(id, bucket, c) — hashed word-n-gram bucket counts per document.
    Explode is narrow; the groupBy shuffles (id, bucket) int pairs only.
    The token array is ``let``-bound so the per-position lambda reads a
    bound variable instead of re-splitting the text per gram (the same
    O(words^2) HOF re-evaluation trap ngrams() had; round-9 fix)."""
    from .text import let

    def _grams(toks: Column) -> Column:
        return F.when(F.size(toks) < n, F.array()).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )

    grams = let(tokens(text_col), _grams)
    docs = fan_out_for_compute(docs)  # parallelize gram build+hash (round-14)
    return (
        docs.select(F.col(id_col), F.explode(grams).alias("__g"))
        .select(F.col(id_col), _gram_bucket(F.col("__g"), m_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    m_buckets: int = 10_000,
    eager: bool = True,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public arXiv method):
    fit bag-of-hashed-n-grams models on the target (seed) corpus and the
    raw corpus, then score every raw document by its log importance
    ratio  sum_b c_b * (log p_target(b) - log p_raw(b))  with add-1
    smoothing over the m hashed buckets.

    Returns ``raw`` plus ``log_weight`` (rounded to 6 dp — the portable
    cross-engine protocol; an independent SQL engine replays the hash,
    the counts, and the float arithmetic).

    Scale: both model fits are ONE narrow groupBy each, reduced to
    m-bucket tables that broadcast (m is 10^4..10^6 — the paper's
    hashing trick exists precisely so model size is corpus-independent);
    the scoring join touches only each doc's own buckets. No UDFs.
    """
    # the raw-corpus gram pass feeds BOTH the q-model and the scoring
    # join: share it so the corpus tokenizes once, not per branch;
    # scored is narrow (id, weight), so it checkpoints eagerly before
    # the scope releases the shares
    with scope():
        raw_grams = _doc_gram_buckets(raw, text_col, id_col, n, m_buckets)
        if eager:
            raw_grams = shared(raw_grams)
        tgt_grams = _doc_gram_buckets(target, text_col, id_col, n, m_buckets)
        raw_model = raw_grams.groupBy("bucket").agg(F.sum("c").alias("qc"))
        tgt_model = tgt_grams.groupBy("bucket").agg(F.sum("c").alias("pc"))
        # both totals come out of the joined model frame in ONE driver
        # job (not one collect per model): the frame is m buckets —
        # corpus-independent and small — so sharing it costs nothing
        # and the target corpus tokenizes once instead of twice
        joined = raw_model.join(tgt_model, "bucket", "full")
        if eager:
            joined = shared(joined)
        tots = joined.agg(
            F.sum("qc").alias("q"), F.sum("pc").alias("p")
        ).collect()[0]
        q_tot, p_tot = tots["q"] or 0, tots["p"] or 0
        # add-1 smoothed log prob difference per bucket
        model = joined.select(
            "bucket",
            (
                F.log((F.coalesce("pc", F.lit(0)) + 1.0) / F.lit(float(p_tot + m_buckets)))
                - F.log((F.coalesce("qc", F.lit(0)) + 1.0) / F.lit(float(q_tot + m_buckets)))
            ).alias("llr"),
        )
        scored = (
            raw_grams.join(F.broadcast(model), "bucket")
            .groupBy(id_col)
            .agg(F.round(F.sum(F.col("c") * F.col("llr")), 6).alias("log_weight"))
        )
        if eager:
            # narrow (id, weight): materialize so the scope can release
            # the shares; eager=False keeps the full lazy plan (used by
            # plan-quality tests to assert the model join broadcasts)
            scored = scored.localCheckpoint(eager=True)
    # docs with no n-grams (too short) get weight 0 — neutral
    return raw.join(scored, id_col, "left").withColumn(
        "log_weight", F.coalesce("log_weight", F.lit(0.0))
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    m_buckets: int = 10_000,
    gumbel: bool = False,
    seed: str = "",
) -> DataFrame:
    """Select the ``k`` raw documents most target-like by DSIR weight.

    ``gumbel=False``: deterministic top-k by (log_weight desc, id) — the
    mode-seeking variant. ``gumbel=True``: importance RESAMPLING without
    replacement via the Gumbel top-k trick, with the Gumbel noise
    derived from the portable content hash (u = (h+1)/2^32+1), so the
    "randomness" is reproducible AND engine-replayable — rerunning or
    re-deriving on another engine draws the identical sample.

    The rank is a global TopK (TakeOrderedAndProject when k is small —
    no full sort), after a scoring pass that moves only (doc, bucket)
    pairs.
    """
    w = importance_weights(raw, target, text_col, id_col, n, m_buckets)
    if gumbel:
        h = F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 8),
            16, 10,
        ).cast("double")
        u = (h + 1.0) / F.lit(float((1 << 32) + 1))
        key = F.round(F.col("log_weight") - F.log(-F.log(u)), 6)
    else:
        key = F.col("log_weight")
    return (
        w.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(int(k))
        .drop("__key")
    )
