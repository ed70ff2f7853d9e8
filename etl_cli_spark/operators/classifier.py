"""Hashed-feature linear quality classifier — the fastText/CCNet-style
filter every production corpus pipeline runs ("keep documents that look
like the trusted seed set"; Joulin et al. 2016 fastText, Wenzek et al.
2019 CCNet — public methods).

Model: logistic-style linear classifier over L1-normalized hashed
bag-of-words features (the hashing trick: model size is
corpus-independent, ``m_buckets`` rows). Training is deterministic
full-batch gradient descent with a RATIONAL surrogate sigmoid
p = 0.5 + 0.5·t/(1+|t|): only +,·,/,abs — every step is exactly
replayable by an independent SQL engine, where exp() could differ in
the last ulp between libm implementations. The cross-engine float
protocol matches the DSIR/k-means house rules: margins rounded to 6 dp,
residuals/gradients/weights to 9 dp (absorbs summation-order jitter).

100 TB posture: the feature pass is ONE corpus scan reduced to
(doc, bucket, x) int/double triples (explode narrow, groupBy shuffles
(doc, bucket) pairs only, map-side combine absorbs Zipf-hot buckets);
each training iteration joins those features against the m-row weight
table (broadcast — the model is corpus-independent by construction) and
collects exactly m+1 gradient rows to the driver, the same bounded
iterative-driver-loop shape as graph.pagerank and bpe.bpe_train.
Scoring is one broadcast join + one aggregate. No UDFs anywhere.

Feature hashing reuses the portable md5-prefix bucket
(rank._gram_bucket) so DuckDB replays the hash bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..share import scope, shared
from .rank import _gram_bucket
from .text import tokens


def hashed_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 256,
) -> DataFrame:
    """(id, bucket, x) — L1-normalized hashed term counts per document:
    x_b = count_b / n_tokens. One scan; only (id, bucket, count) move.
    The per-doc total is a window over doc_id, NOT a join against a
    per-doc aggregate — the aggregate is corpus-sized (one row per
    doc), and Spark's size estimate happily broadcasts it (plan-audit
    finding, round 5); the window is one narrow co-partitioned pass."""
    from pyspark.sql import Window

    toks = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .select(F.col(id_col), _gram_bucket(F.col("term"), m_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy(id_col))
    return toks.select(
        id_col, "bucket", (F.col("c").cast("double") / n).alias("x")
    )


def _surrogate_p(mg: Column) -> Column:
    """Rational sigmoid: 0.5 + 0.5·t/(1+|t|). Monotone, bounded (0,1),
    p(0)=0.5 — and built from exactly-reproducible IEEE ops only."""
    return F.lit(0.5) + F.lit(0.5) * mg / (F.lit(1.0) + F.abs(mg))


def train_linear_classifier(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 256,
    iters: int = 6,
    lr: float = 1.0,
    lr_intercept: float = 1.0,
) -> DataFrame:
    """Deterministic full-batch GD; returns the model as a DataFrame of
    (bucket, w) with the intercept at bucket = -1 — a persistable,
    broadcastable artifact. ``label`` is any 0/1 Column over ``docs``.

    ``lr`` applies to the hashed-feature weights; the intercept keeps
    its own ``lr_intercept``: L1-normalized features are ~1/vocab in
    magnitude, so feature weights want a step size 100-1000x larger
    than the intercept's O(1) gradient — sharing one rate makes the
    intercept oscillate (diverge) long before features move.
    """
    spark = docs.sparkSession
    base = docs.select(F.col(id_col), label.cast("double").alias("y"))
    n_docs = base.count()
    with scope():
        feats = shared(hashed_features(docs, text_col, id_col, m_buckets))
        w: dict[int, float] = {
            int(r.bucket): 0.0
            for r in feats.select("bucket").distinct().collect()  # ≤ m_buckets rows
        }
        b0 = 0.0
        for _ in range(iters):
            wdf = spark.createDataFrame(
                list(w.items()) or [(0, 0.0)], "bucket int, w double"
            )
            s = (
                feats.join(F.broadcast(wdf), "bucket")
                .groupBy(id_col)
                .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
            )
            # one action per iteration: feature gradients UNION the
            # intercept gradient as sentinel bucket -1 (same arithmetic
            # as two separate aggregates, half the Spark jobs); resid is
            # shared so the two branches share one computation
            with scope():
                resid = shared(
                    base.join(s, id_col, "left")
                    .select(
                        id_col,
                        F.round(F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(b0), 6).alias("mg"),
                        "y",
                    )
                    .select(
                        id_col,
                        F.round(_surrogate_p(F.col("mg")) - F.col("y"), 9).alias("resid"),
                    )
                )
                grads = (
                    feats.join(resid, id_col)
                    .groupBy("bucket")
                    .agg(F.round(F.sum(F.col("x") * F.col("resid")) / n_docs, 9).alias("g"))
                    .unionAll(
                        resid.agg(F.round(F.sum("resid") / n_docs, 9).alias("g"))
                        .select(F.lit(-1).alias("bucket"), "g")
                    )
                    .collect()  # ≤ m_buckets + 1 rows — the model, not the corpus
                )
            for r in grads:
                if r.bucket == -1:
                    b0 = round(b0 - lr_intercept * float(r.g or 0.0), 9)
                else:
                    w[int(r.bucket)] = round(w[int(r.bucket)] - lr * float(r.g), 9)
    return spark.createDataFrame(
        [(-1, b0)] + sorted(w.items()), "bucket int, w double"
    )


def score_with_classifier(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 256,
    out_col: str = "score",
) -> DataFrame:
    """docs + ``score`` = p(doc looks like the positive class), rounded
    to 6 dp (the cross-engine protocol). One scan + one broadcast join."""
    feats = hashed_features(docs, text_col, id_col, m_buckets)
    b0 = model.filter("bucket = -1").select("w").first()
    intercept = float(b0.w) if b0 else 0.0
    s = (
        feats.join(F.broadcast(model.filter("bucket >= 0")), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
    )
    return (
        docs.join(s, id_col, "left")
        .withColumn(
            out_col,
            F.round(
                _surrogate_p(
                    F.round(F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(intercept), 6)
                ),
                6,
            ),
        )
        .drop("s")
    )
