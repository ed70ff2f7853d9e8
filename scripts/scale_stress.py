"""Corpus scale-stress: time the pipeline operators at 1x and Nx.

Replicates the documents table N times (ids offset; one token perturbed
per copy so replicas are NEAR-duplicates, the crawl-dedup shape) into a
scratch dir, then times each operator at both scales. Sub-linear or
~linear growth is the pass signal; anything super-linear means a plan
lost its narrow-exchange shape.

    python scripts/scale_stress.py [sf_dir] [factor]

Writes nothing outside /tmp; prints a markdown table for COVERAGE.md.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def build_corpus(spark, sf_dir: str, factor: int) -> tuple[str, str]:
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="etl_stress_")
    one = f"{tmp}/docs_1x.parquet"
    big = f"{tmp}/docs_{factor}x.parquet"
    base.write.parquet(one)
    n = base.count()
    copies = [base]
    for i in range(1, factor):
        copies.append(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(i * n)).withColumn(
                # perturb one token so replicas are near- not exact dups
                "text",
                F.concat(F.col("text"), F.lit(f" replica{i}")),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.parquet(big)
    return one, big


def ops(spark):
    from etl_cli_spark.operators.dedup import minhash_dedup
    from etl_cli_spark.operators.pipeline import bloom_decontaminate, quota_sample
    from etl_cli_spark.operators.rank import score_documents, tokenize_documents, vocab_with_ids
    from etl_cli_spark.operators.sketch import cms_sketch
    from etl_cli_spark.operators.text import tokens

    def _minhash(d):
        return minhash_dedup(d, threshold=0.8)

    def _quota(d):
        return quota_sample(d, ["lang"], {"en": 500}, default=200, salt_buckets=16)

    def _bloom(d):
        return bloom_decontaminate(d, d.filter("doc_id % 97 = 0"), n=8)

    def _cms(d):
        t = d.select("lang", F.explode(tokens("text")).alias("term")).filter(
            F.col("term") != ""
        )
        return cms_sketch(t, "term", by=["lang"])

    def _tokenize(d):
        return tokenize_documents(d, vocab_with_ids(d, top_k=50))

    def _scores(d):
        return score_documents(d, ["spark", "join", "window"])

    def _paragraph(d):
        from etl_cli_spark.operators.pipeline import paragraph_dedup

        return paragraph_dedup(d, window_words=10)

    def _token_budget(d):
        from etl_cli_spark.operators.pipeline import token_budget_sample

        return token_budget_sample(
            d, ["lang"], {"en": 3000}, default=1500, shards=8
        )

    def _dsir(d):
        from etl_cli_spark.operators.rank import importance_weights

        return importance_weights(d, d.filter("lang = 'en' and doc_id % 7 = 0"))

    def _domain_cap(d):
        from etl_cli_spark.operators.urls import per_domain_cap

        u = d.withColumn(
            "url",
            F.expr(
                "'https://site' || CAST(doc_id % 50 AS STRING) "
                "|| '.example.com/p/' || CAST(doc_id AS STRING)"
            ),
        )
        return per_domain_cap(u, "url", cap=200, salt_buckets=8)

    def _hll(d):
        from etl_cli_spark.operators.sketch import hll_distinct

        return hll_distinct(d, "text", by=["lang"], p=12)

    def _resample(d):
        from etl_cli_spark.operators.timeseries import resample

        t = d.withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 2592000)
        )
        return resample(
            t, "ts", 3600, by=["lang"],
            aggs={"n": "count(*)"}, fill={"n": "zero"},
        )

    def _weighted(d):
        from etl_cli_spark.operators.pipeline import weighted_sample

        w = d.withColumn("w", (F.col("n_chars") + 1).cast("double"))
        # ungrouped global top-k: must stay TakeOrderedAndProject
        return weighted_sample(w, 100, "w")

    def _bpe(d):
        from etl_cli_spark.operators.bpe import bpe_train

        return bpe_train(d, n_merges=10)

    def _classifier(d):
        from etl_cli_spark.operators.classifier import (
            score_with_classifier,
            train_linear_classifier,
        )

        cnt = lambda w: F.size(F.filter(tokens("text"), lambda x: x == F.lit(w)))
        model = train_linear_classifier(
            d, cnt("fast") > cnt("slow"), iters=4, lr=400.0
        )
        return score_with_classifier(d, model)

    return {
        "minhash_dedup": _minhash,
        "weighted_sample(global)": _weighted,
        "quota_sample(salted)": _quota,
        "bloom_decontaminate": _bloom,
        "cms_sketch(terms by lang)": _cms,
        "tokenize_documents": _tokenize,
        "score_documents(3-in-1)": _scores,
        "paragraph_dedup": _paragraph,
        "token_budget(sharded)": _token_budget,
        "dsir_weights": _dsir,
        "per_domain_cap(salted)": _domain_cap,
        "hll_distinct(by lang)": _hll,
        "resample(1h,zero-fill)": _resample,
        "bpe_train(10 merges)": _bpe,
        "classifier(4 iters)": _classifier,
    }


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from etl_cli_spark.session import get_spark

    spark = get_spark(app_name="scale-stress")
    one, big = build_corpus(spark, sf, factor)
    d1 = spark.read.parquet(one)
    dn = spark.read.parquet(big)
    print(f"corpus: {d1.count()} -> {dn.count()} docs ({factor}x)\n")
    rows = []
    for name, fn in ops(spark).items():
        t0 = time.time()
        fn(d1).count()
        t1 = time.time() - t0
        t0 = time.time()
        fn(dn).count()
        tn = time.time() - t0
        rows.append((name, t1, tn, tn / t1))
        print(f"{name:28s} 1x={t1:6.1f}s  {factor}x={tn:6.1f}s  ratio={tn/t1:4.1f}")
    # manifest stats skipping: a FIXED-selectivity range read should
    # cost ~the same however many range-disjoint files the table has —
    # the pruner drops the rest before Spark builds a file index
    from etl_cli_spark.operators.writeops import ParquetTable

    tmp = one.rsplit("/", 1)[0]
    times = {}
    for tag, df, copies in (("1x", d1, 1), (f"{factor}x", dn, factor)):
        t = ParquetTable(spark, f"{tmp}/skip_{tag}.parquet")
        n1 = d1.count()
        for i in range(copies * 4):
            lo, hi_ = i * n1 // 4, (i + 1) * n1 // 4
            t.append(df.filter(f"doc_id >= {lo} AND doc_id < {hi_}"))
        t0 = time.time()
        got = t.read_where(["doc_id__gte=10", f"doc_id__lt={n1 // 4}"]).count()
        times[tag] = time.time() - t0
        assert got > 0
    r = times[f"{factor}x"] / times["1x"]
    rows.append(("stats_pruned_read(fixed range)", times["1x"], times[f"{factor}x"], r))
    print(
        f"{'stats_pruned_read':28s} 1x={times['1x']:6.1f}s  "
        f"{factor}x={times[f'{factor}x']:6.1f}s  ratio={r:4.1f}"
    )

    print("\n| op | 1x | %dx | ratio |" % factor)
    print("|---|---|---|---|")
    for name, t1, tn, r in rows:
        print(f"| {name} | {t1:.1f} s | {tn:.1f} s | {r:.1f}x |")
    shutil.rmtree(one.rsplit("/", 1)[0], ignore_errors=True)


if __name__ == "__main__":
    main()
