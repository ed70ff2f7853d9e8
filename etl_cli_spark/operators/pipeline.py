"""Training-data pipeline operators: split / chunk / pack / sample /
decontaminate.

These are the dataset-preparation steps a large-scale LLM training
pipeline runs between "raw corpus" and "tokenized shards" — beyond the
reference's ETL surface (which stops at move/merge/write, etl.py:13), but
first-class citizens of this engine alongside dedup and similarity.

Every operator here is pure Column expressions / window functions — no
Python UDFs, no driver-side loops — so the whole stage stays inside
whole-stage codegen and scales with the cluster:

- determinism is by content hash (md5), never rand(): reruns, retried
  tasks, and different cluster sizes produce the identical assignment,
  and the same rule is expressible in any engine (the DuckDB oracles run
  the same md5 math);
- nothing shuffles except where the semantics demand grouping (packing
  shuffles by shard; stratified sampling by stratum); splits, chunking
  and hash-sampling are fully narrow.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..fanout import fan_out_for_compute
from ..share import shared

from .text import token_count
from .writeops import open_index

# md5-prefix -> uint32: the portable deterministic hash. Spark's
# conv(hex,16,10) and DuckDB's CAST('0x'||hex AS BIGINT) agree exactly.
_HASH_MOD = 1 << 32


def hash_bucket(col: Column | str, seed: str = "") -> Column:
    """Deterministic uint32 from a value (content-hash, not rand()).

    ``seed`` folds a salt into the hash so independent decisions (split
    vs. sample, say) de-correlate while each stays reproducible.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(c.cast("string"), F.lit(seed)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test) by content hash.

    The assignment depends only on (id, seed): stable across reruns,
    cluster sizes, and row order — the property that matters when the
    val set must never leak into a later training run. Narrow (no
    shuffle): a per-row expression the optimizer can push around.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = hash_bucket(id_col, seed)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cut = int(acc * _HASH_MOD)
        branch = F.when(bucket < F.lit(cut), F.lit(name))
        expr = branch if expr is None else expr.when(bucket < F.lit(cut), F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def hash_sample(
    df: DataFrame, id_col: str = "doc_id", fraction: float = 0.1, seed: str = ""
) -> DataFrame:
    """Deterministic Bernoulli-style sample: keep rows whose content hash
    falls under ``fraction``. Unlike ``df.sample`` it is reproducible
    across runs/cluster layouts and consistent per id across datasets
    (sampling documents and their embeddings by the same id keeps them
    aligned). Narrow, pushes down."""
    cut = int(fraction * _HASH_MOD)
    return df.filter(hash_bucket(id_col, seed) < F.lit(cut))


def alpha_rebalance(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.3,
    budget: int = 0,
    id_col: str = "doc_id",
    seed: str = "",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Temperature-based group rebalancing — the multilingual mixture
    move of mC4 / XLM-R (Xue et al. 2021; Conneau et al. 2020, public
    methods): sample group ``g`` with probability ∝ n_g^alpha, so
    low-resource groups are up-weighted relative to their raw share
    (alpha = 1 keeps natural proportions, alpha -> 0 approaches
    uniform). Quotas are ``min(n_g, floor(budget * n_g^alpha /
    Σ n^alpha))`` and selection is :func:`quota_sample`'s deterministic
    content-hash ranking, so the kept set is a pure function of
    (data, alpha, budget, seed) — rerunning on a grown corpus keeps a
    stable prefix per group.

    Scale posture: group counts are one hash aggregate; the quota table
    is groups-sized (tiny) and broadcasts; selection inherits
    quota_sample's plan, including the ``salt_buckets`` hot-group
    tournament — nothing here collects, and no new shuffle appears
    beyond quota_sample's own.
    """
    if budget <= 0:
        raise ValueError("alpha_rebalance: budget must be a positive row count")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))).alias("__tot")
    )
    quotas = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.least(
            F.col("__n"),
            F.floor(
                F.lit(int(budget))
                * F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
                / F.col("__tot")
            ),
        ).cast("int").alias("quota"),
    )
    return quota_sample(
        df, [group_col], quotas, id_col=id_col, seed=seed,
        salt_buckets=salt_buckets,
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    fraction: float,
    id_col: str = "doc_id",
    seed: str = "",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Exact per-stratum fraction: rank rows inside each stratum by
    content hash and keep the first ceil(fraction * stratum_size).

    Hash-threshold sampling only approximates per-group fractions; the
    rank cut makes them exact (a requirement when small strata must not
    vanish, e.g. low-resource languages). One shuffle on the strata
    columns; the rank is a window inside each stratum.

    ``salt_buckets``: hot-stratum guard. The stratum sizes are computed
    first (one cheap aggregate) and the selection delegates to
    :func:`quota_sample` with quota = ceil(n * fraction) — identical
    kept set (same hash-rank order, unit-asserted), but the rank runs
    as the salted two-level tournament, so a stratum owning half the
    corpus never serializes onto one task.
    """
    if salt_buckets and salt_buckets > 1:
        counts = df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("__n"))
        qdf = counts.select(
            *strata_cols,
            F.ceil(F.col("__n") * F.lit(fraction)).cast("long").alias("quota"),
        )
        return quota_sample(
            df, strata_cols, qdf, id_col=id_col, seed=seed, salt_buckets=salt_buckets
        )
    w = Window.partitionBy(*strata_cols).orderBy(hash_bucket(id_col, seed), F.col(id_col))
    cw = Window.partitionBy(*strata_cols)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(cw))
        .filter(F.col("__rk") <= F.ceil(F.col("__n") * F.lit(fraction)))
        .drop("__rk", "__n")
    )


def quota_sample(
    df: DataFrame,
    group_cols: list[str],
    quotas: dict | DataFrame,
    id_col: str = "doc_id",
    seed: str = "",
    default: int | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Mixture sampling: keep at most ``quota`` rows per group, chosen
    deterministically — the "target data mixture" step of a training
    pipeline (N_en docs of English, N_code of code, ...).

    ``quotas`` maps a group value (or tuple, for multi-column groups) to
    a row budget; alternatively pass a DataFrame with the group columns
    plus a ``quota`` column so the mixture itself can be computed by an
    upstream query. Groups without a quota keep ``default`` rows each
    (None = keep all).

    Selection inside a group is by content hash (then id, so ties are
    impossible): rerunning on a grown corpus keeps a stable prefix — the
    sample only gains rows that hash under the cut, it never churns.
    One shuffle on the group columns; the quota table is tiny and
    broadcasts.

    ``salt_buckets``: hot-group guard for corpus scale. The default
    single window ranks each group on ONE task — fine until a group owns
    half the corpus. With ``salt_buckets=S`` the rank runs as a two-level
    tournament (exactly :func:`~etl_cli_spark.operators.sketch._min_k`'s
    shape): top-``quota`` within each (group, hash-salt) bucket first —
    any row outside its bucket's top-quota cannot be in the group's — so
    the final window sees at most ``S * quota`` survivors per group
    instead of the whole group. Identical output, unit-asserted.
    """
    if isinstance(quotas, DataFrame):
        qdf = quotas
    else:
        rows = []
        for key, q in quotas.items():
            key = key if isinstance(key, tuple) else (key,)
            rows.append((*key, int(q)))
        qdf = df.sparkSession.createDataFrame(rows, group_cols + ["quota"])

    rank_key = [hash_bucket(id_col, seed), F.col(id_col)]
    src = df.join(F.broadcast(qdf), group_cols, "left")
    bound = (
        F.col("quota")
        if default is None
        else F.coalesce(F.col("quota"), F.lit(int(default)))
    )
    if salt_buckets and salt_buckets > 1:
        # pre-prune: a row not in its salt bucket's top-`bound` cannot be
        # in the group's top-`bound`; unbounded (null-quota) groups pass
        salt = F.pmod(hash_bucket(id_col, seed + "#qsalt"), F.lit(salt_buckets))
        w1 = Window.partitionBy(*group_cols, salt).orderBy(*rank_key)
        src = (
            src.withColumn("__rk1", F.row_number().over(w1))
            .filter(bound.isNull() | (F.col("__rk1") <= bound))
            .drop("__rk1")
        )
    w = Window.partitionBy(*group_cols).orderBy(*rank_key)
    ranked = src.withColumn("__rk", F.row_number().over(w))
    if default is None:
        keep = F.col("quota").isNull() | (F.col("__rk") <= F.col("quota"))
    else:
        keep = F.col("__rk") <= F.coalesce(F.col("quota"), F.lit(int(default)))
    return ranked.filter(keep).drop("__rk", "quota")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-width overlapping character windows.

    Chunk i covers [i*stride, i*stride + size) with stride = size -
    overlap; a document emits ceil(max(1, len - overlap) / stride)
    chunks, so every character lands in >= 1 chunk and no chunk starts
    beyond the text. The per-row explode is narrow — Spark parallelizes
    by document and the output inherits the input partitioning; no
    shuffle, no UDF (sequence + posexplode + substring are all codegen).
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    n = F.ceil(
        F.greatest(F.lit(1), F.length(F.col(text_col)) - F.lit(overlap))
        / F.lit(float(stride))
    ).cast("int")
    exploded = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n - F.lit(1))).alias("chunk_id"),
        F.col(text_col),
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.substring(
            F.col(text_col), F.col("chunk_id") * stride + 1, size
        ).alias("chunk_text"),
    )


def chunk_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 128,
) -> DataFrame:
    """Sentence-ALIGNED chunking (round-12): split on sentence
    boundaries (``text.split_sentences``), then group consecutive
    sentences into chunks of ~``max_tokens`` whitespace tokens —
    chunks are cut at floor(exclusive running token sum / max_tokens)
    boundaries, so a chunk never starts mid-sentence and carries at
    most one budget-straddling sentence (the deterministic
    window-cumsum rule; a greedy reset would need iteration and buys
    little). This is the chunker real LLM pipelines want over
    ``chunk_documents``' blind character windows: no mid-sentence cuts
    in training windows.

    ``chunk_id`` is DENSE per document (0..n_chunks-1, round-13 advice
    fix): the raw cumsum floor jumps whenever a single sentence exceeds
    ``max_tokens`` (ids 0 then 2), so a final dense_rank over the
    already-aggregated per-chunk rows renumbers them — consumers can
    enumerate chunks by index.

    Plan: posexplode per document (narrow), one window cumsum
    partitioned BY DOCUMENT (bounded state — never a global sort),
    one hash aggregate to rejoin chunk text via ``array_join(
    array_agg ordered by position)``, one dense_rank window over the
    per-chunk rows (orders of magnitude fewer rows than sentences,
    still partitioned by document). All codegen, no UDF; scales by
    documents exactly like chunk_documents.
    """
    from .text import split_sentences

    w = Window.partitionBy(id_col).orderBy("__pos")
    sents = df.select(
        F.col(id_col),
        F.posexplode(split_sentences(F.col(text_col))).alias("__pos", "__sent"),
    ).withColumn("__toks", token_count(F.col("__sent")))
    cum_excl = (
        F.coalesce(F.sum("__toks").over(w) - F.col("__toks"), F.lit(0))
    )
    chunks = sents.withColumn(
        "__raw_chunk", F.floor(cum_excl / F.lit(max_tokens)).cast("int")
    )
    agged = (
        chunks.groupBy(id_col, "__raw_chunk")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__pos"), F.col("__sent")))
                    ),
                    lambda s: s["__sent"],
                ),
                " ",
            ).alias("chunk_text"),
            F.sum("__toks").alias("n_tokens"),
        )
    )
    wd = Window.partitionBy(id_col).orderBy("__raw_chunk")
    return agged.select(
        id_col,
        (F.dense_rank().over(wd) - 1).cast("int").alias("chunk_id"),
        "chunk_text",
        "n_tokens",
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 16,
    token_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign documents to fixed
    token-budget packs.

    Documents are deterministically sharded (content hash), ordered by id
    inside each shard, and the running token total is quantized into
    packs of ``budget`` tokens: pack_id = floor(exclusive_cumsum /
    budget) — the semantics of concatenating the shard's token stream
    and cutting every ``budget`` tokens, which is how training shards
    are actually packed (documents may straddle a boundary).

    Scale: one shuffle on the shard key; each shard's cumsum is an
    independent window, so parallelism = n_shards — size it to the
    cluster (thousands at 100 TB), not to 16.
    """
    toks = F.col(token_col) if token_col else token_count(text_col)
    shard = (hash_bucket(id_col) % n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.select(F.col(id_col), shard, toks.alias("n_tokens"))
    return out.withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(budget)),
    )


def pack_token_ids(
    docs: DataFrame,
    vocab_ids: DataFrame | None = None,
    budget: int = 2048,
    n_shards: int = 16,
    eos_id: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize PACKED token-id sequences — the actual byte payload
    a trainer reads: every document's vocab ids plus a trailing
    ``eos_id``, concatenated in deterministic shard order and cut
    every ``budget`` tokens (documents straddle pack boundaries, the
    concat-and-chunk convention). :func:`pack_sequences` assigns packs
    by token COUNTS; this produces the sequences themselves.

    Returns (shard, pack_id, ids — space-joined string for portable
    comparison, n_tokens). The final pack of each shard is short
    (padding is the trainer's concern). Docs with no tokens vanish
    (tokenize semantics) and contribute no eos.

    Scale: tokenization shuffles (id, pos, tid) ints; packing adds one
    shuffle on the shard key (window cumsum) and one on (shard, pack)
    (the reassembly groupBy). Parallelism = n_shards for the cumsum —
    size to the cluster — and pack count for reassembly."""
    from .rank import tokenize_documents

    tok = tokenize_documents(docs, vocab_ids, text_col=text_col, id_col=id_col)
    base = (
        tok.withColumn(
            "__ids", F.concat("token_ids", F.array(F.lit(int(eos_id))))
        )
        .withColumn("__n", F.size("__ids").cast("long"))
        .withColumn("shard", (hash_bucket(id_col) % n_shards).cast("int"))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = base.withColumn(
        "__ofs", F.coalesce(F.sum("__n").over(w), F.lit(0).cast("long"))
    )
    b = F.lit(int(budget))
    pieces = F.transform(
        F.sequence(
            F.floor(F.col("__ofs") / b),
            F.floor((F.col("__ofs") + F.col("__n") - 1) / b),
        ),
        lambda p: F.struct(
            p.cast("long").alias("pack_id"),
            F.greatest(p * b - F.col("__ofs"), F.lit(0).cast("long")).alias("s"),
            (
                F.least((p + 1) * b, F.col("__ofs") + F.col("__n"))
                - F.col("__ofs")
            ).alias("e"),
        ),
    )
    sliced = (
        base.select("shard", "__ofs", "__ids", F.explode(pieces).alias("pc"))
        .select(
            "shard",
            F.col("pc.pack_id").alias("pack_id"),
            (F.col("__ofs") + F.col("pc.s")).alias("__gpos"),
            F.slice(
                "__ids",
                (F.col("pc.s") + 1).cast("int"),
                (F.col("pc.e") - F.col("pc.s")).cast("int"),
            ).alias("__piece"),
        )
    )
    return (
        sliced.groupBy("shard", "pack_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__gpos", "__piece"))),
                    lambda x: x["__piece"],
                )
            ).alias("__pack")
        )
        .select(
            "shard",
            "pack_id",
            F.array_join(F.col("__pack"), " ").alias("ids"),
            F.size("__pack").alias("n_tokens"),
        )
    )


def ngrams(col: Column | str, n: int = 8) -> Column:
    """Word n-grams (lowercased, whitespace-tokenized) as an array of
    space-joined strings; texts shorter than n words produce none.

    The token array is ``let``-bound before the per-position transform:
    HOF lambda bodies re-evaluate embedded non-lambda-var subexpressions
    PER ELEMENT, so the unbound form re-split the whole text once per
    gram position — O(words^2) per document (measured 5-11x slower on
    sf0.1 documents; round-9 fix)."""
    from .text import let

    c = F.col(col) if isinstance(col, str) else col

    def grams(toks: Column) -> Column:
        count = F.size(toks) - F.lit(n - 1)
        # guard: sequence(1, 0) yields a DESCENDING [1,0] in Spark, and
        # slice(toks, 0, n) then errors — short texts must short-circuit
        return F.when(
            count >= 1,
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(F.split(F.lower(F.trim(c)), r"\s+"), grams)


def repeated_spans(
    docs: DataFrame,
    n: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, start, gh) of every word n-gram window whose gram appears in
    >= ``min_docs`` DISTINCT documents — the candidate set for
    cross-document exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", public
    arXiv method: repeated >=50-token spans are memorization fuel;
    RefinedWeb strips them rather than dropping whole documents).

    Plan shape: one corpus scan explodes positioned n-gram hashes (the
    ``decontaminate`` shape plus a position column), SHARED — the
    distinct-doc count and the window semi-join would otherwise each
    re-run the tokenize+explode (the minhash_lsh_pairs base-persist
    precedent); a hash groupBy with map-side combine counts distinct
    docs; a semi-join keeps the repeated windows. Only (id, pos,
    64-bit hash) rows ever shuffle — never text — and the
    repeated-gram table is Zipf-small (AQE broadcasts it)."""
    wins = shared(_span_windows(docs, n, id_col, text_col))
    bad = (
        wins.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    return wins.join(bad, "gh", "left_semi").select(id_col, "start", "gh")


def strip_repeated_spans(
    docs: DataFrame,
    n: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove cross-document repeated spans from each document's token
    stream: every token covered by ANY repeated n-gram window (union of
    overlapping windows) is dropped, and the text is rebuilt from the
    surviving tokens (lowercased, single-space joined — the token-level
    normalization every operator in this family shares). Adds
    ``n_stripped`` (tokens removed). Documents with no repeated span
    pass through with the same normalization, so output text is a pure
    function of the token stream either way.

    This is the span-level complement to document-level near-dup
    removal: boilerplate (license headers, navigation chrome, quote
    chains) repeats across otherwise-distinct pages, and dropping the
    SPAN keeps the unique remainder in the corpus. All Column
    expressions — the per-token coverage test is an ``exists`` over the
    doc's own span-start array (spans per doc are few; the quadratic
    term is span_count x tokens per document, not corpus-sized)."""
    spans = repeated_spans(docs, n=n, min_docs=min_docs, id_col=id_col, text_col=text_col)
    return _strip_spans(docs, spans, n, id_col, text_col)


def _strip_spans(
    docs: DataFrame, spans: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild each doc's text with every token covered by a span in
    ``spans`` (an (id, start, ...) frame) removed — the shared strip
    step of the batch and index-probe variants.

    The per-token coverage test is exists-over-starts: nominally
    O(tokens x spans) per document, but ``F.exists`` SHORT-CIRCUITS on
    the first covering span, so covered tokens exit in a few steps and
    only uncovered tokens scan the full starts array — bounded by
    document length, JVM-side. Round-8 closed the question with a
    boilerplate-SATURATED fixture (scripts/span_stress.py: 93% of every
    5-10k-token doc covered, ~7.2k spans/doc): exists-over-starts runs
    2.1 s / 20 docs and 74.9 s / 300 docs (per-doc bounded, corpus axis
    linear), while the interval-merge fold is ~200x WORSE there
    (474 s / 20 docs — merging 7.2k starts costs 7.2k interpreted
    aggregate() steps per doc before the first token is tested), and
    round-7 already measured it slower at realistic densities too.
    Decision: exists-over-starts unconditionally; the fold stays in the
    stress script as the measured-and-rejected alternative."""
    starts = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_set("start")).alias("__starts")
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        F.zip_with(idx, toks, lambda i, t: F.struct(i.alias("i"), t.alias("t"))),
        lambda s: ~F.exists(
            F.col("__starts"),
            lambda st: (s["i"] >= st) & (s["i"] < st + F.lit(n)),
        ),
    )
    return (
        docs.join(starts, id_col, "left")
        .withColumn("__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>")))
        .withColumn("__kept", kept)
        .withColumn(
            "n_stripped",
            F.coalesce(
                (F.size(toks) - F.size(F.col("__kept"))).cast("int"), F.lit(0)
            ),
        )
        .withColumn(
            text_col,
            F.concat_ws(" ", F.transform(F.col("__kept"), lambda s: s["t"])),
        )
        .drop("__starts", "__kept")
    )


def _span_windows(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, start, gh) positioned n-gram hash windows — the shared
    discovery pass."""
    docs = fan_out_for_compute(docs)  # parallelize gram build+hash (round-14)
    return docs.select(
        F.col(id_col),
        F.posexplode(ngrams(text_col, n)).alias("start", "g"),
    ).select(id_col, "start", F.xxhash64("g").alias("gh"))


# The span index is one unpartitioned manifest table (writeops.open_index)
# of (gh, n_docs) rows at <path>: per-gram distinct-document counts,
# summed per gram by a probe. Its commits carry the window parameters
# (n, id_col, text_col); a streamed append commits its (stream, batch)
# id with its rows (ParquetTable.write_batch). A rebuild keeps the
# replaced version's files until compaction or ``vacuum`` runs.
_SPAN_TABLES = [("", ())]


def _span_counts(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(gh, n_docs): each window gram's distinct-document count."""
    wins = _span_windows(docs, n, id_col, text_col)
    return wins.groupBy("gh").agg(F.count_distinct(F.col(id_col)).alias("n_docs"))


def build_span_index(
    docs: DataFrame,
    path: str,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist per-gram distinct-document counts — the incremental-crawl
    side of repeated-span stripping (the same persisted-index
    discipline the minhash/ANN/BM25 families follow): sign history
    once, then each new batch probes counts instead of re-scanning
    every prior crawl.

    The index is APPEND-ONLY — probes sum counts per gram — so updating
    it never rewrites history. Contract: batches must have DISJOINT
    document ids (the crawl-batch invariant); distinct-doc counts then
    add exactly."""
    [table] = open_index(docs.sparkSession, path, "span", _SPAN_TABLES)
    table.overwrite(
        _span_counts(docs, n, id_col, text_col),
        params={"n": n, "id_col": id_col, "text_col": text_col},
    )


def append_to_span_index(
    docs: DataFrame,
    path: str,
    batch_id: int | None = None,
    stream_id: str = "stream",
) -> None:
    """Add a (disjoint) batch's gram counts to the index — no rewrite,
    no read of prior counts.

    Exactly-once: with ``batch_id`` the append is batch ``batch_id`` of
    ``stream_id`` (``ParquetTable.write_batch``): a crashed-and-replayed
    micro-batch whose append committed is skipped, so replay can never
    double-count a drop's grams, and a ``batch_id`` below the stream's
    committed one raises (a deleted-and-recreated checkpoint would
    otherwise re-sign history and double every count). Without
    ``batch_id`` (manual/batch callers) it is a plain append."""
    [table] = open_index(docs.sparkSession, path, "span", _SPAN_TABLES)
    p = table.snapshot().params
    counts = _span_counts(docs, p["n"], p["id_col"], p["text_col"])
    if batch_id is None:
        table.append(counts)
    else:
        table.write_batch(stream_id, batch_id, lambda: table.append(counts))


def compact_span_index(spark, path: str) -> None:
    """Fold the index into one summed count per gram — probe cost stays
    proportional to DISTINCT grams instead of growing with the number
    of drops ever appended — committed in place of exactly the files
    it read (``ParquetTable.rewrite``: an append racing it survives),
    then drop every older version (``vacuum``). Stream watermarks ride
    the commit, so a replay of a folded batch is still skipped, but a
    replayed strip of it can no longer read the index without it and
    raises. OFFLINE maintenance (the ``vacuum`` contract): run it
    between stream invocations, not concurrently with probes."""
    [table] = open_index(spark, path, "span", _SPAN_TABLES)
    table.rewrite(lambda rows: rows.groupBy("gh").agg(F.sum("n_docs").alias("n_docs")))
    table.vacuum(retain_versions=1)


def strip_against_span_index(
    docs: DataFrame,
    path: str,
    min_docs: int = 2,
    exclude_batch: tuple[str, int] | None = None,
) -> DataFrame:
    """Strip spans from a NEW batch counting repetitions across the
    batch AND the indexed history: a window is stripped when
    (its batch distinct-doc count + its indexed count) >= ``min_docs``
    — exactly the spans :func:`strip_repeated_spans` would find over
    history ∪ batch for the batch's documents, without re-scanning
    history (equality pinned by unit test). Appending the batch
    afterwards is the caller's choice (``append_to_span_index``).

    ``exclude_batch=(stream_id, batch_id)``: read the newest version
    that does not yet hold that batch — a replayed micro-batch whose
    append already landed would otherwise see ITSELF in history and
    strip more aggressively than the original run. If compaction
    vacuumed that version, this raises (before any output commits)."""
    [table] = open_index(docs.sparkSession, path, "span", _SPAN_TABLES)
    snap = table.snapshot(None if exclude_batch is None else table.version_before(*exclude_batch))
    n, id_col, text_col = snap.params["n"], snap.params["id_col"], snap.params["text_col"]
    wins = shared(_span_windows(docs, n, id_col, text_col))
    batch_counts = wins.groupBy("gh").agg(
        F.count_distinct(F.col(id_col)).alias("__bn")
    )
    hist = (
        table.read_version(snap.version)
        .groupBy("gh")
        .agg(F.sum("n_docs").alias("__hn"))
    )
    bad = (
        batch_counts.join(hist, "gh", "left")
        .filter(F.col("__bn") + F.coalesce(F.col("__hn"), F.lit(0)) >= min_docs)
        .select("gh")
    )
    spans = wins.join(bad, "gh", "left_semi")
    return _strip_spans(docs, spans, n, id_col, text_col)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bench_text_col: str | None = None,
    min_hits: int = 1,
) -> DataFrame:
    """Drop training documents sharing word n-grams with a benchmark set
    (test-set contamination removal, the WMT/GPT-3-style n-gram rule).

    ``min_hits``: how many DISTINCT benchmark n-grams a document must
    share before it is dropped. 1 is the strict classic rule; raising it
    trades recall for fewer false positives on boilerplate phrases.

    Plan shape: explode both sides to distinct (hashed) n-grams, semi-join
    (or count-join for min_hits > 1) docs' grams against the benchmark's,
    anti-join hit ids back. Only 64-bit gram hashes shuffle — never
    document text — and the benchmark gram set is small (AQE broadcasts
    it), so the cost is one scan of each side at any scale.
    """
    bcol = bench_text_col or text_col
    doc_grams = docs.select(
        F.col(id_col), F.explode(ngrams(text_col, n)).alias("g")
    ).select(id_col, F.xxhash64("g").alias("gh"))
    bench_grams = (
        benchmark.select(F.explode(ngrams(bcol, n)).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    if min_hits <= 1:
        # semi-join tolerates duplicate grams: no pre-distinct shuffle
        hit_ids = doc_grams.join(bench_grams, "gh", "left_semi").select(id_col).distinct()
    else:
        hit_ids = (
            doc_grams.distinct()  # count DISTINCT shared grams per doc
            .join(bench_grams, "gh", "inner")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__hits"))
            .filter(F.col("__hits") >= min_hits)
            .select(id_col)
        )
    return docs.join(hit_ids, id_col, "left_anti")


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bench_text_col: str | None = None,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter variant of :func:`decontaminate`: test each training
    n-gram against a Bloom filter of the benchmark's n-grams instead of
    joining the gram sets directly.

    Why at 100 TB: the exact path broadcasts every distinct benchmark
    gram hash (8 bytes each); the Bloom path broadcasts only the
    filter's SET BIT POSITIONS — at most ``m_bits`` ints however large
    the benchmark grows, tunable via the classic m/n false-positive
    trade. False positives only ever DROP extra training docs (safe
    direction for contamination removal); false negatives are
    impossible.

    The filter is expressed relationally so the plan is pure codegen and
    an external engine can replay it bit-for-bit: position i of gram g is
    ``uint32(md5(g || '#bloom<i>')) % m_bits``; the benchmark side
    explodes its grams into distinct set positions (the Bloom bit
    array as a table); a training gram "hits" when ALL ``k`` of its
    positions appear, i.e. a (doc, gram)-grouped inner join matching
    ``k`` distinct probe indexes. The DuckDB oracle reproduces the same
    md5 arithmetic, so even the false positives match exactly.
    """
    bcol = bench_text_col or text_col

    def positions(gram: Column) -> Column:
        return F.array(
            *[
                (hash_bucket(gram, f"#bloom{i}") % m_bits).alias(f"p{i}")
                for i in range(k)
            ]
        )

    bloom_bits = (
        benchmark.select(F.explode(ngrams(bcol, n)).alias("g"))
        .select(F.explode(positions(F.col("g"))).alias("pos"))
        .distinct()
    )
    doc_pos = docs.select(
        F.col(id_col), F.explode(ngrams(text_col, n)).alias("g")
    ).select(
        id_col,
        F.xxhash64("g").alias("gh"),
        F.posexplode(positions(F.col("g"))).alias("probe", "pos"),
    )
    hit_ids = (
        doc_pos.join(F.broadcast(bloom_bits), "pos", "inner")
        .groupBy(id_col, "gh")
        .agg(F.count_distinct("probe").alias("__k"))
        .filter(F.col("__k") >= k)
        .select(id_col)
        .distinct()
    )
    return docs.join(hit_ids, id_col, "left_anti")


def validate(
    df: DataFrame,
    rules: dict,
    reason_col: str = "reasons",
):
    """Data-quality gate: split rows into (valid, quarantined) by named
    rule predicates, with every failed rule's name attached.

    ``rules`` maps rule name -> boolean Column that must hold. A row
    fails if ANY rule is false (null counts as a failure — unknown is
    not valid); the quarantine frame carries the failed names in
    ``reason_col`` (sorted array, so downstream grouping by reason set
    is deterministic). Pure Column expressions — the gate is a single
    narrow projection + filter, evaluated once per row inside codegen;
    both outputs share one scan under Spark's plan reuse.

    The pipeline-stage shape: quarantine-with-reasons beats dropping
    rows silently (you can count, sample, and re-admit by reason).
    """
    checks = [
        F.when(cond.isNull() | ~cond, F.lit(name)) for name, cond in rules.items()
    ]
    reasons = F.array_sort(F.array_compact(F.array(*checks)))
    tagged = df.withColumn(reason_col, reasons)
    valid = tagged.filter(F.size(reason_col) == 0).drop(reason_col)
    quarantined = tagged.filter(F.size(reason_col) > 0)
    return valid, quarantined


def token_budget_sample(
    df: DataFrame,
    group_cols: list[str],
    budgets: dict | DataFrame,
    id_col: str = "doc_id",
    tokens_col: str | Column = None,
    seed: str = "",
    default: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Mixture sampling by TOKEN budget instead of row quota — the form
    a training-data mixture is actually specified in ("300B tokens of
    web, 50B of code, ..."). :func:`quota_sample` caps rows; this walks
    each group in content-hash order and keeps whole documents while
    the group's cumulative token count stays within its budget.

    ``budgets`` maps a group value (or tuple) to a token budget, or is a
    DataFrame with the group columns plus a ``token_budget`` column.
    ``tokens_col`` is the per-document token count (a column name or
    expression; defaults to the whitespace ``token_count`` over
    ``text``). Groups without a budget keep everything (or ``default``
    tokens). A document is kept iff the cumulative count INCLUDING it
    is <= budget, in (hash, id) order — so the kept set is a stable
    prefix: a grown corpus only inserts documents at hash positions,
    it never churns the decision boundary arbitrarily.

    One shuffle on the group columns. The running sum is a window over
    each group — one task per group, like every order-sensitive prefix
    walk. ``shards=S`` is the hot-group guard: the budget splits evenly
    across S hash-shards of the group and the prefix walk runs per
    shard. That changes the kept SET (each shard enforces budget/S
    locally — the deviation from the exact prefix is bounded by S *
    max_doc_tokens) but keeps determinism and stability, and the
    window parallelism becomes S per group.
    """
    from .text import token_count

    if tokens_col is None:
        tokens_col = token_count("text")
    elif isinstance(tokens_col, str):
        tokens_col = F.col(tokens_col)
    if isinstance(budgets, DataFrame):
        bdf = budgets
    else:
        rows = []
        for key, q in budgets.items():
            key = key if isinstance(key, tuple) else (key,)
            rows.append((*key, int(q)))
        bdf = df.sparkSession.createDataFrame(rows, group_cols + ["token_budget"])

    src = df.join(F.broadcast(bdf), group_cols, "left").withColumn(
        "__ntok", tokens_col.cast("long")
    )
    bound = (
        F.col("token_budget")
        if default is None
        else F.coalesce(F.col("token_budget"), F.lit(int(default)))
    )
    if shards and shards > 1:
        shard = F.pmod(hash_bucket(id_col, seed + "#tshard"), F.lit(int(shards)))
        w = Window.partitionBy(*group_cols, shard).orderBy(
            hash_bucket(id_col, seed), F.col(id_col)
        )
        bound = F.floor(bound / F.lit(int(shards)))
    else:
        w = Window.partitionBy(*group_cols).orderBy(
            hash_bucket(id_col, seed), F.col(id_col)
        )
    # running sum INCLUDING the current row (window must materialize
    # before the filter — Spark disallows window functions in WHERE)
    withcum = src.withColumn("__cum", F.sum("__ntok").over(w))
    keep = bound.isNull() | (F.col("__cum") <= bound)
    return withcum.filter(keep).drop("__ntok", "__cum", "token_budget")


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n{2,}",
    window_words: int | None = None,
) -> DataFrame:
    """Paragraph-level exact deduplication with first-occurrence-wins
    (the RefinedWeb / Dolma recipe, public: Penedo et al. 2023 §3;
    repeated boilerplate paragraphs — headers, navbars, license blocks
    — are removed corpus-wide while each document keeps its unique
    prose, reassembled in order).

    Segmentation: split on ``sep`` (default blank lines). For corpora
    without paragraph structure pass ``window_words=W`` to segment into
    fixed W-word passages instead (same dedup semantics at passage
    granularity). A segment instance survives iff it is the globally
    FIRST occurrence of its content, ordered by (id, position) — a
    deterministic, order-free policy. Documents whose every segment was
    seen elsewhere come back empty (callers typically filter on
    ``n_kept > 0``).

    Scale: segments explode narrowly; the winner per distinct segment
    is a ``min_by`` HASH AGGREGATE on the segment hash (partial
    aggregation absorbs hot segments map-side — a boilerplate paragraph
    repeated a billion times reduces to one row per map task, no
    skewed window), then one semi join back on (hash, id, position) and
    one groupBy(id) to reassemble. Only hashes and ids shuffle twice;
    segment text shuffles once for reassembly.
    """
    if window_words:
        from .text import let

        W = int(window_words)

        def _windows(toks: Column) -> Column:
            # group the word array into W-word windows, rejoin with
            # spaces; ``toks`` is a bound lambda variable, so each
            # window slices the already-split array instead of
            # re-splitting the whole text per window (O(words), not
            # O(words^2/W) per document — round-10 fix, same class as
            # the round-9 ngrams/lang_id let-binding)
            return F.transform(
                F.array_compact(
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.greatest(
                                (F.size(toks) - 1) / F.lit(W),
                                F.lit(0),
                            ).cast("int"),
                        ),
                        lambda i: F.slice(toks, i * W + 1, W),
                    )
                ),
                lambda a: F.array_join(a, " "),
            )

        segs = let(F.split(F.col(text_col), r"\s+"), _windows)
    else:
        segs = F.split(F.col(text_col), sep)
    exploded = (
        df.select(F.col(id_col), F.posexplode(segs).alias("__pos", "__seg"))
        .filter(F.length(F.trim("__seg")) > 0)
        .withColumn("__h", F.sha2(F.col("__seg"), 256))
    )
    winners = exploded.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first")
    )
    kept = exploded.join(
        winners,
        (exploded["__h"] == winners["__h"])
        & (exploded[id_col] == winners["__first"][id_col])
        & (exploded["__pos"] == winners["__first"]["__pos"]),
        "left_semi",
    )
    joiner = " " if window_words else "\n\n"
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
            joiner,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.filter(segs, lambda s: F.length(F.trim(s)) > 0)).alias("__n_segs"),
    )
    return (
        totals.join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__n_segs") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    by: Sequence[str] = (),
    id_col: str = "doc_id",
    seed: str = "",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: keep ``k`` rows (per
    ``by`` group) with inclusion probability proportional to
    ``weight_col`` — the Efraimidis–Spirakis A-ES scheme: rank by
    ``ln(u) / w`` (descending) with ``u`` derived from the portable
    content hash, take the top k. The "randomness" is reproducible AND
    engine-replayable: rerunning, or re-deriving the sample in another
    SQL engine, draws the identical row set (the rank key is rounded
    to 6 dp with the id as the tiebreak — the same portable-float
    protocol as DSIR's Gumbel top-k).

    Rows with NULL or non-positive weight are excluded. One shuffle on
    the group columns; ``salt_buckets=S`` runs the rank as the usual
    two-level tournament for hot groups (top-k per (group, salt)
    bucket first — a row outside its bucket's top-k cannot be in the
    group's).
    """
    if k < 1:
        raise ValueError("weighted_sample needs k >= 1")
    grp = list(by)
    h = hash_bucket(id_col, seed)
    u = (h + F.lit(1.0)) / F.lit(float(_HASH_MOD + 1))
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    d = (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__wk", key)
    )
    order = [F.col("__wk").desc(), F.col(id_col)]
    if salt_buckets is not None and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(*grp, salt).orderBy(*order) if grp else (
            Window.partitionBy(salt).orderBy(*order)
        )
        d = (
            d.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= k)
            .drop("__r1")
        )
    if not grp:
        # global top-k must NEVER be a partitionBy(lit(1)) window — that
        # funnels the corpus through one task. orderBy+limit compiles to
        # TakeOrderedAndProject: per-partition top-k map-side, k rows
        # per partition to the driver-side merge, no global sort
        return d.orderBy(*order).limit(k).drop("__wk")
    w = Window.partitionBy(*grp).orderBy(*order)
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__wk")
    )


def leakage_safe_split(
    df: DataFrame,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    seed: str = "",
    out_col: str = "split",
    **lsh_kw,
) -> DataFrame:
    """Train/val/test split that can NEVER leak through near-duplicates:
    the split hash is taken over the near-dup CLUSTER label, so every
    member of a connected near-dup component lands in the same split.
    (Splitting on doc ids alone puts one crawl copy in train and its
    near-identical twin in val — the benchmark-contamination failure
    the decontaminate family exists to catch; this prevents the
    intra-corpus variant by construction.)

    ``clusters`` is a (node, cluster) frame from
    dedup.connected_components — pass a precomputed one to reuse the
    dedup pass the pipeline already ran; by default it is derived here
    with minhash LSH (``lsh_kw`` forwarded). Docs absent from the
    cluster frame are singletons and hash on their own id.

    Scale: one left join against the cluster labels (tiny relative to
    the corpus — AQE broadcasts them) on top of deterministic_split's
    narrow per-row expression.
    """
    if clusters is None:
        from .dedup import connected_components, minhash_lsh_pairs

        clusters = connected_components(
            minhash_lsh_pairs(df, id_col=id_col, text_col=text_col, **lsh_kw)
        )
    labeled = df.join(
        clusters.select(F.col("node").alias(id_col), "cluster"), id_col, "left"
    ).withColumn("__grp", F.coalesce(F.col("cluster"), F.col(id_col)))
    return (
        deterministic_split(labeled, "__grp", weights, seed, out_col)
        .drop("__grp", "cluster")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 16,
    token_col: str | None = None,
    columns: list[str] | None = None,
) -> dict:
    """Materialize the corpus as deterministic fixed-token-budget
    training shards: rows land in ``path/shard=K/`` ordered by
    (pack_id, id) with their pack assignment attached, plus a
    ``_shards.json`` index (per-shard doc/token/pack counts) so a
    training loader can plan epochs without listing or scanning data
    files. Layout is a pure function of (content hash, id, budget) —
    re-running on the same corpus reproduces byte-identical shard
    membership, the property checkpoint-resume depends on.

    Scale: shard assignment + pack cumsum is pack_sequences (one
    shuffle on the shard key, per-shard windows); the write is one
    hive-partitioned pass; the index is ONE extra aggregate over
    (shard, tokens) — n_shards rows to the driver, never data. At
    100 TB, size n_shards to the cluster (thousands), not 16.
    """
    import json
    import os

    packed = pack_sequences(
        df, id_col=id_col, text_col=text_col, budget=budget,
        n_shards=n_shards, token_col=token_col,
    ).select(id_col, "shard", "n_tokens", "pack_id")
    keep = columns or [c for c in df.columns if c != id_col]
    out = df.select(id_col, *keep).join(packed, id_col)
    # Range-partition on (shard, pack_id) rather than hash(shard) into
    # exactly n_shards slots: a hash collision between two shard values
    # would co-locate both in one task and idle another, and hash
    # partitioning caps sort+write parallelism at the number of DISTINCT
    # hashes, not n_shards. Range boundaries spread the keyspace evenly
    # across tasks; partitionBy("shard") below still lays each shard out
    # in its own directory, and membership/order stay a pure function of
    # the packing, so the on-disk contract is unchanged.
    (
        out.repartitionByRange(n_shards, F.col("shard"), F.col("pack_id"))
        .sortWithinPartitions("shard", "pack_id", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(path, "data"))
    )
    stats = (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            (F.max("pack_id") + 1).alias("packs"),
        )
        .collect()  # n_shards rows
    )
    index = {
        "budget": budget,
        "n_shards": n_shards,
        # string keys: the index round-trips through JSON, where int
        # keys silently become strings
        "shards": {
            str(int(r.shard)): {"docs": int(r.docs), "tokens": int(r.tokens),
                                "packs": int(r.packs)}
            for r in stats
        },
    }
    with open(os.path.join(path, "_shards.json"), "w") as f:
        json.dump(index, f, sort_keys=True)
    return index


def read_training_shards(spark, path: str, shards: list[int] | None = None):
    """Read shard data back, partition-pruned to ``shards`` when given
    (a loader reading its worker's shard subset touches only those
    directories). Returns (DataFrame, index dict)."""
    import json
    import os

    with open(os.path.join(path, "_shards.json")) as f:
        index = json.load(f)
    df = spark.read.parquet(os.path.join(path, "data"))
    if shards is not None:
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    return df, index


def epoch_shuffle(
    df: DataFrame,
    epoch: int = 0,
    id_col: str = "doc_id",
    partitions: int | None = None,
    out_col: str = "__ord",
) -> DataFrame:
    """Deterministic global shuffle for one training epoch: every row
    gets a content-hash order key seeded by the epoch, and the frame is
    range-partitioned + locally sorted on it — a TOTAL order across the
    output (partition p's keys all precede partition p+1's) with no
    single-task global sort; this is the TeraSort shape, so 100 TB
    shuffles with cluster-wide parallelism. Different epochs
    de-correlate (different seed into the same md5 hash); the same
    epoch reproduces the same order on any cluster and any input row
    order — what checkpoint-resume mid-epoch requires.
    """
    keyed = df.withColumn(out_col, hash_bucket(id_col, f"epoch{int(epoch)}"))
    n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return keyed.repartitionByRange(int(n), F.col(out_col), F.col(id_col)) \
        .sortWithinPartitions(out_col, id_col)
