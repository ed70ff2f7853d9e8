"""Similarity search over embedding columns (array<float>).

Two tiers (BASELINE.json north star):

- brute-force cosine top-k: exact baseline. Dot products are pure
  Column expressions (``zip_with`` + ``aggregate`` — JVM-side fold, no
  Python), so a single scan scores the corpus; ``TakeOrderedAndProject``
  handles the top-k without a global sort.
- LSH-bucketed ANN (random hyperplanes): the 100 TB path. Signatures
  are sign-bits of dot products with deterministic pseudo-random
  hyperplanes; same-bucket candidates get exact re-ranking. Probing
  multiple band permutations trades recall for candidate volume.

Embedding near-dup (cosine >= threshold pairs) reuses the same buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..share import scope, shared
from .text import let
from .writeops import open_index


def dot(a: Column, b: Column) -> Column:
    """Index-order left fold — deterministic, engine-portable."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in ONE fold: zip to (x*y, x*x, y*y) triples and
    accumulate all three sums together — a/b are let-bound so the input
    expressions evaluate once however complex they are."""
    return let(
        a,
        lambda va: let(
            b,
            lambda vb: F.aggregate(
                F.zip_with(
                    va,
                    vb,
                    lambda x, y: F.struct(
                        (x * y).alias("d"), (x * x).alias("sa"), (y * y).alias("sb")
                    ),
                ),
                F.struct(F.lit(0.0).alias("d"), F.lit(0.0).alias("sa"), F.lit(0.0).alias("sb")),
                lambda acc, p: F.struct(
                    (acc["d"] + p["d"]).alias("d"),
                    (acc["sa"] + p["sa"]).alias("sa"),
                    (acc["sb"] + p["sb"]).alias("sb"),
                ),
                lambda acc: acc["d"] / (F.sqrt(acc["sa"]) * F.sqrt(acc["sb"])),
            ),
        ),
    )


def cosine_to_const(vec: Column, query_vec: list[float]) -> Column:
    """Cosine against a constant query vector — the query norm is computed
    driver-side (HOF folds over literal arrays are NOT constant-folded,
    so the naive form re-normalizes the query per row)."""
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return let(
        vec,
        lambda v: F.aggregate(
            F.zip_with(v, q, lambda x, y: F.struct((x * y).alias("d"), (x * x).alias("s"))),
            F.struct(F.lit(0.0).alias("d"), F.lit(0.0).alias("s")),
            lambda acc, p: F.struct(
                (acc["d"] + p["d"]).alias("d"), (acc["s"] + p["s"]).alias("s")
            ),
            lambda acc: acc["d"] / (F.sqrt(acc["s"]) * F.lit(qn)),
        ),
    )


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector.

    One scan + TakeOrderedAndProject; ties broken by id for determinism.
    """
    scored = df.select(
        F.col(id_col),
        F.round(cosine_to_const(_as_double(F.col(vec_col)), query_vec), 6).alias("score"),
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(exclude_ids))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy needed at
    the executor — generated once on the driver, inlined as literals)."""
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / s for x in v])
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: one bit per hyperplane, packed into a long.

    ``vec`` is let-bound: the n_planes dot products reference a cheap
    lambda variable instead of re-evaluating the input expression each.
    """

    def body(v: Column) -> Column:
        sig = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            pc = F.array(*[F.lit(x) for x in p])
            sig = sig.bitwiseOR(
                F.when(dot(v, pc) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                    F.lit(0).cast("long")
                )
            )
        return sig

    return let(vec, body)


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only candidates sharing >= 1 LSH band with the
    query get exact scoring. At scale this prunes the scan to a few
    buckets (predicate on the precomputable signature column)."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    mask = (1 << width) - 1

    vec_d = _as_double(F.col(vec_col))
    with_sig = df.withColumn("__sig", lsh_signature(vec_d, planes))

    # query signature computed driver-side with the same planes
    def _dot(p):  # python-side: tiny, driver-only
        return sum(a * b for a, b in zip(p, query_vec))

    qsig = 0
    for i, p in enumerate(planes):
        if _dot(p) >= 0:
            qsig |= 1 << i
    band_match = None
    for b in range(bands):
        qband = (qsig >> (b * width)) & mask
        term = F.shiftright("__sig", b * width).bitwiseAND(F.lit(mask)) == qband
        band_match = term if band_match is None else (band_match | term)

    cand = with_sig.filter(band_match)
    return (
        cand.select(F.col(id_col), F.round(cosine_to_const(vec_d, query_vec), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Cosine >= threshold pairs via banded hyperplane-LSH buckets.

    Same shape as minhash_lsh_pairs: explode bands -> bucket equi-join
    -> exact cosine verify on candidates only.
    """
    dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    mask = (1 << width) - 1
    # share (id, unit-norm vector, signature): the bucket join moves only
    # (id, band, bucket); pre-normalized vectors make the verify a pure dot
    base = shared(
        df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("__n", norm(F.col("v")))
        .select(
            "id",
            F.zip_with("v", F.array_repeat("__n", dim), lambda x, n: x / n).alias("u"),
            lsh_signature(F.col("v"), planes).alias("__sig"),
        )
    )
    buckets = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("__sig", b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("p"),
    ).select("id", F.col("p.band").alias("band"), F.col("p.bucket").alias("bucket"))
    cand = (
        buckets.join(
            buckets.select(F.col("id").alias("b_id"), "band", "bucket"),
            on=["band", "bucket"],
            how="inner",
        )
        .filter(F.col("id") < F.col("b_id"))
        .select(F.col("id").alias("a_id"), "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    vecs = base.select("id", "u")
    return (
        cand.join(vecs.select(F.col("id").alias("a_id"), F.col("u").alias("a_u")), "a_id")
        .join(vecs.select(F.col("id").alias("b_id"), F.col("u").alias("b_u")), "b_id")
        .withColumn("cosine", F.round(dot(F.col("a_u"), F.col("b_u")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def _kmeans_lite(sample: list[list[float]], k: int, iters: int = 8, seed: int = 42):
    """Tiny driver-side Lloyd's k-means over a bounded sample (numpy).

    IVF needs rough centroids, not converged ones; the sample is capped
    (driver memory-safe) and the loop is O(sample * k * iters).

    Fully deterministic AND floating-point-portable so an independent
    engine (the DuckDB oracle) can replay it bit-for-bit: init = the
    first k sample rows (callers pass the sample in id order), squared
    distances are rounded to 6 dp before argmin (ties break to the
    lowest centroid id, numpy argmin's native behavior), and centroids
    are rounded to 9 dp after each update so summation-order ulp drift
    can never flip a later assignment. ``seed`` is kept for API
    compatibility; the deterministic init no longer uses it.
    """
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    cent = x[: min(k, len(x))].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).round(6)
        assign = d.argmin(axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
        cent = cent.round(9)
    return cent


def ivf_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 2048,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF (inverted-file) index: assign every vector to its nearest
    centroid. Returns (df + ``__cell`` column, centroids).

    Scale path: centroids come from a bounded driver-side sample (the
    only collect); assignment is one Arrow-batched pass, no shuffle.
    A real deployment would persist/partition the output by ``__cell``
    so probes prune at the file level (partition pruning).
    """
    # lowest-id rows, not partition order: the sample (and therefore the
    # centroids) is a pure function of the data, replayable by the oracle
    sample = [
        [float(v) for v in r[1]]
        for r in df.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    ]
    cent = _kmeans_lite(sample, n_centroids, seed=seed)
    return _assign_cells(df, cent, vec_col), [list(map(float, c)) for c in cent]


def _quantize(v: float, scale: float) -> float:
    """Shared cross-engine quantizer for the ``mean_strategy='exact'``
    protocol: ``floor(v * scale + 0.5) / scale`` — three primitive IEEE
    binary64 ops with bit-specified results, so Python, numpy, the JVM,
    and DuckDB all compute the SAME double from the same input double.
    This replaces ``round(v, 9)`` in the exact arm (round-13 advice
    fix): Python's ``round`` is correctly-rounded half-even on the
    DECIMAL value while DuckDB's ``round`` is multiply-based half-away
    — on identical doubles they demonstrably diverge (e.g.
    0.7645514175 -> 0.764551417 vs 0.764551418), so 'bit-exact'
    required one shared rule, not two engines' round() builtins.
    (Ties quantize toward +inf for negatives; the direction is
    irrelevant — only that both engines share it.)"""
    import math

    return math.floor(v * scale + 0.5) / scale


def _neumaier_mean(xs) -> Column:
    """Mean of ``xs`` (sorted array of struct(i=id, v=value)) by
    Neumaier-compensated left fold in array order — a pure JVM
    ``aggregate()`` expression, no UDF. Bit-replayable by any engine
    folding the same order (DuckDB: ``list(... ORDER BY id)`` +
    ``list_reduce``; the first-element-as-accumulator convention is
    equivalent because the zero-accumulator step adds exactly 0.0
    compensation on the first element)."""
    zero = F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("c"))

    def step(acc, x):
        t = acc["s"] + x["v"]
        comp = acc["c"] + F.when(
            F.abs(acc["s"]) >= F.abs(x["v"]), (acc["s"] - t) + x["v"]
        ).otherwise((x["v"] - t) + acc["s"])
        return F.struct(t.alias("s"), comp.alias("c"))

    total = F.aggregate(xs, zero, step, lambda a: a["s"] + a["c"])
    return total / F.size(xs)


def kmeans_refine(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mean_strategy: str = "auto",
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd's k-means over the FULL corpus — the
    ``_kmeans_lite`` protocol at corpus scale.

    ``_kmeans_lite`` trains on a bounded driver-side sample, which is
    right for IVF coarse cells but not for web-scale SemDeDup-style
    clustering (Abbas et al. 2023 use ~100k clusters over billions of
    vectors — a 2048-row sample cannot even fill that many cells, let
    alone place them). Here every iteration is one Arrow-batched
    assignment pass (no shuffle; centroids closure-captured) plus one
    per-(cell, dim) mean whose map-side partial aggregation reduces the
    shuffle AND the driver collect to exactly ``n_centroids × dim``
    doubles — the model, never the corpus. Spark job count is
    ``iters + 1`` (one mean per iteration, one init collect), so the
    driver loop stays O(model), the standard distributed-k-means shape.

    Protocol (bit-replayable cross-engine, byte-compatible with
    ``_kmeans_lite`` when the corpus fits its sample): init = the
    ``n_centroids`` lowest-``id_col`` vectors; squared distances
    rounded to 6 dp before argmin with ties to the lowest cell id
    (``_assign_cells``); per-iteration means rounded to 9 dp; empty
    cells keep their previous centroid (then re-round — idempotent).
    Returns ``(df + __cell from the FINAL centroids, centroids)``.

    Replay-order risk — ELIMINATED BY OPT-IN (round-12; "documented
    risk" through r11): with the default strategies the per-cell mean
    is a naive double-precision ``avg`` in every engine (Spark
    partial+final merge, numpy pairwise mean, DuckDB avg), so summation
    ORDER differs across engines and runs; the 9-dp rounding absorbs
    the ulp drift in every observed case, but a true mean within
    ~0.5e-9 of a rounding boundary CAN land on either side (the unit
    test manufactures such a cell). ``mean_strategy='exact'`` closes
    it: per (cell, dim), values fold in FIXED ``id_col`` order with
    Neumaier-compensated summation (``sort_array(collect_list(struct(
    id, val)))`` → JVM ``aggregate()`` fold — no UDF), so the mean is a
    pure function of the data, bit-identical across partitionings,
    engines, and runs; the DuckDB oracle replays the same fold with
    ``list(... ORDER BY id)`` + ``list_reduce``. Round-13 closed the
    two residual implementation channels the r12 advice found: (a) the
    9-dp centroid rounding now uses the shared ``_quantize`` rule
    (``floor(v*1e9 + 0.5)/1e9`` — primitive IEEE ops, identical in
    every engine) instead of Python ``round`` vs DuckDB ``round``,
    whose half-even vs half-away implementations diverge on real
    doubles; and (b) assignment distances accumulate as a sequential
    per-dimension left fold quantized by the same rule at 6 dp
    (``_assign_cells(exact=True)``) instead of numpy's pairwise sum +
    half-even round. Every step of the exact arm is therefore a
    composition of bit-specified IEEE primitives — 'bit-exact by
    construction' with no rounding-implementation caveat. Cost: the
    fold cannot map-side combine (combining would reorder), so the
    exchange carries corpus × dim rows instead of the combined
    K × dim — an opt-in for when bit-exact replay matters more than
    shuffle volume.

    ``mean_strategy``: ``'wide'`` = one ``avg(element_at(vec, d))``
    aggregate column per dimension (K rows × dim cols collected);
    ``'long'`` = ``posexplode(vec)`` → ``groupBy(__cell, __pos).avg``
    (K × dim rows collected). Both are map-side-combined and collect
    exactly the model. ``'exact'`` = the long shape with the
    fixed-order compensated fold above. ``'auto'`` (default) picks
    wide only while the aggregate stays inside whole-stage codegen
    (``spark.sql.codegen.maxFields`` defaults to 100 generated fields;
    past that the wide agg silently falls back to interpreted row-based
    aggregation) — at production embedding widths (768–4096) auto
    therefore routes to long, whose exchange is bounded at
    K × dim rows per task regardless of width. Measured A/B at
    dim=768 / K=1024 / 100k vectors in SCALE.md (kmeans width section).

    Memory budget: the centroid matrix is closure-captured into every
    assignment task — K × dim × 8 bytes pickled per task batch
    (e.g. K=1024 × dim=768 ≈ 6.3 MB; K=100k × dim=768 ≈ 614 MB). Past
    ~tens of MB, shard the corpus per coarse cell and train sub-models
    (the IVF-PQ per-subspace pattern) rather than shipping one giant
    flat model; ``n_centroids × dim`` is the knob to budget.
    """
    # the training loop reads the SAME (id, vec) projection iters+1
    # times (init + each Lloyd pass would re-scan the source otherwise
    # — iterative training is the textbook persist case, guide §5);
    # sharing BEFORE the init collect lets that first job fill the
    # cache. The scope releases it on every exit path, and the RETURNED
    # final assignment reads the original ``df`` so no cached plan escapes.
    with scope():
        train = df.select(id_col, vec_col)
        if iters > 0:
            train = shared(train)
        init_rows = train.orderBy(id_col).limit(n_centroids).collect()
        if not init_rows:
            raise ValueError("kmeans_refine: empty input")
        if mean_strategy not in ("auto", "wide", "long", "exact"):
            raise ValueError(f"kmeans_refine: unknown mean_strategy {mean_strategy!r}")
        cent: list[list[float]] = [[float(x) for x in r[1]] for r in init_rows]
        dim = len(cent[0])
        # 96 ≈ spark.sql.codegen.maxFields (100) minus the grouping key's
        # slots: past it the wide agg drops out of whole-stage codegen
        wide = mean_strategy == "wide" or (mean_strategy == "auto" and dim <= 96)
        exact = mean_strategy == "exact"
        for _ in range(iters):
            assigned = _assign_cells(train, cent, vec_col, exact=exact)
            new = [list(c) for c in cent]
            if wide:
                # one row per cell, dim avg columns: partial aggregation
                # combines map-side, so the exchange carries <= n_centroids
                # rows per task
                mean_row = assigned.groupBy("__cell").agg(
                    *[
                        F.avg(F.element_at(F.col(vec_col), d + 1).cast("double")).alias(str(d))
                        for d in range(dim)
                    ]
                ).collect()
                for r in mean_row:
                    new[r["__cell"]] = [r[str(d)] for d in range(dim)]
            else:
                # long format: explode (cell, pos, val) then a narrow 2-key
                # aggregate — no wide codegen, map-side combine bounds the
                # exchange at K × dim rows per task. The driver transfer is
                # K × dim scalars either way, but here it's K*dim ROWS, so
                # fetch via Arrow (columnar, no per-Row objects) and fill
                # vectorized — the same float64 bits collect() would carry
                long = assigned.select(
                    "__cell",
                    F.col(id_col).alias("__oid"),
                    F.posexplode(F.col(vec_col)).alias("__pos", "__val"),
                )
                if mean_strategy == "exact":
                    # fixed-order (by id) Neumaier fold: order-independent
                    # of partitioning, bit-replayable cross-engine; the
                    # sort_array makes collect_list's nondeterministic
                    # build order irrelevant (ids are the sort key)
                    mean_col = _neumaier_mean(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("__oid").alias("i"),
                                    F.col("__val").cast("double").alias("v"),
                                )
                            )
                        )
                    )
                else:
                    mean_col = F.avg(F.col("__val").cast("double"))
                mpdf = (
                    long.groupBy("__cell", "__pos")
                    .agg(mean_col.alias("__avg"))
                    .toPandas()
                )
                import numpy as np

                arr = np.asarray(new, dtype=np.float64)
                arr[mpdf["__cell"].to_numpy(), mpdf["__pos"].to_numpy()] = mpdf[
                    "__avg"
                ].to_numpy()
                new = arr.tolist()
            if exact:
                # shared floor-based quantizer (see _quantize): one rule,
                # both engines — never two round() implementations
                cent = [[_quantize(float(v), 1e9) for v in c] for c in new]
            else:
                cent = [[round(float(v), 9) for v in c] for c in new]
        return _assign_cells(df, cent, vec_col, exact=exact), cent


def _assign_cells(
    df: DataFrame, centroids, vec_col: str, exact: bool = False
) -> DataFrame:
    """Attach ``__cell`` = nearest-centroid id. One Arrow-batched pass,
    no shuffle; centroids are closure-captured (broadcast-sized).

    ``exact`` (the ``kmeans_refine(mean_strategy='exact')`` protocol,
    round-13): squared distances accumulate per-dimension in INDEX
    ORDER starting from 0.0 (a left fold — numpy's default ``.sum`` is
    pairwise, which an engine replaying a sequential fold cannot
    bit-match) and quantize with the shared ``floor(d*1e6 + 0.5)/1e6``
    rule instead of numpy's half-even ``round(6)``. Every op is a
    bit-specified IEEE primitive, so the assignment is a pure function
    of (vectors, centroids) reproducible on any engine."""
    import numpy as np
    import pandas as pd

    cent_b = np.asarray(centroids, dtype=np.float64)

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("__cell", T.IntegerType())]
    )

    def assign(iters):
        for pdf in iters:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf["__cell"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cells = np.empty(len(x), dtype=np.int32)
            # vectorized batch distance with the same rounded-distance
            # protocol as _kmeans_lite ((x-c)^2 summed THEN rounded —
            # never the expanded ||x||²+||c||²-2x·c form, which rounds
            # differently near 6-dp boundaries); chunked by BYTES so the
            # (B, k, dim) float64 intermediate stays ~64 MB regardless
            # of k AND dim (the old rows-only rule ignored dim: at
            # k=1024, dim=768 it allocated ~400 MB per chunk per task)
            step = max(1, (64 << 20) // max(1, len(cent_b) * cent_b.shape[1] * 8))
            for s in range(0, len(x), step):
                blk = x[s : s + step]
                if exact:
                    # sequential per-dimension left fold + shared
                    # quantizer: bit-replayable (see docstring)
                    d = np.zeros((len(blk), len(cent_b)), dtype=np.float64)
                    for dd in range(cent_b.shape[1]):
                        d += (blk[:, dd, None] - cent_b[None, :, dd]) ** 2
                    d = np.floor(d * 1e6 + 0.5) / 1e6
                else:
                    d = ((blk[:, None, :] - cent_b[None, :, :]) ** 2).sum(axis=2).round(6)
                cells[s : s + step] = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf["__cell"] = pd.Series(cells, index=pdf.index, dtype="int32")
            yield pdf

    return df.mapInPandas(assign, out_schema)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via IVF: score only vectors in the ``n_probe``
    cells nearest the query. At scale (index persisted + partitioned by
    cell) the scan prunes to n_probe/n_centroids of the corpus."""
    import numpy as np

    indexed, cent = ivf_index(df, id_col, vec_col, n_centroids, seed=seed)
    q = np.asarray(query_vec, dtype=np.float64)
    order = ((np.asarray(cent) - q) ** 2).sum(axis=1).round(6).argsort(kind="stable")
    probes = [int(c) for c in order[:n_probe]]
    cand = indexed.filter(F.col("__cell").isin(probes))
    return (
        cand.select(
            F.col(id_col),
            F.round(cosine_to_const(_as_double(F.col(vec_col)), query_vec), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --------------------------------------------------------------------------
# persisted indexes: build once, probe with partition pruning
# --------------------------------------------------------------------------
#
# The one-shot ann_topk/ivf_topk above recompute their structure per query
# — fine for ad-hoc use, wrong at 100 TB where every query must NOT rescan
# the corpus. The persisted variants split build from probe:
#
# - build_*: one corpus pass, written as a manifest table
#   (writeops.open_index) value-partitioned on a derived column (IVF and
#   IVF-PQ: __cell; LSH: (__band, __bucket)), the frozen parameters
#   (centroids / codebooks / plane seed) riding its commit. A rebuild
#   is a new manifest version: the replaced version's files stay on
#   disk until ``vacuum`` runs on <path>/vectors (LSH: <path>/buckets).
# - *_topk_indexed: the probe computes its partitions on the driver from
#   the parameters and reads ONLY their committed files (PartitionFilters
#   at the scan — verified by unit test) under the committed schema, so
#   building the probe runs no Spark job; it runs exact re-ranking on
#   those candidates and never collects corpus data to the driver.
#
# Trade-off noted: the LSH index stores the vector once per band
# (replication = bands, default 4) so probes re-rank without joining back
# to the corpus — the standard inverted-index trade.

# (sub-directory, directory columns) of each index's one table
_CELL_TABLES = [("vectors", ("__cell",))]
_ANN_TABLES = [("buckets", ("__band", "__bucket"))]


def _nearest_cells(centroids, query_vec, n_probe: int) -> list[int]:
    """The ``n_probe`` cells nearest the query: pure driver arithmetic
    over n_centroids floats (rounded-distance + lowest-cid tie-break,
    the oracle-replay protocol)."""
    dists = [
        (round(sum((c - q) ** 2 for c, q in zip(cent, query_vec)), 6), i)
        for i, cent in enumerate(centroids)
    ]
    return [i for _, i in sorted(dists)[:n_probe]]


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 2048,
    seed: int = 42,
) -> list[list[float]]:
    """Build + persist an IVF index: vectors partitioned by ``__cell``,
    the centroids riding the same commit. Returns the centroids.

    The driver-side k-means sample collect happens HERE (build time,
    bounded by sample_size) — never on the query path.
    """
    indexed, cent = ivf_index(df, id_col, vec_col, n_centroids, sample_size, seed)
    [vectors] = open_index(df.sparkSession, path, "ivf", _CELL_TABLES)
    vectors.overwrite(
        indexed,
        params={"centroids": cent, "id_col": id_col, "vec_col": vec_col,
                "n_centroids": n_centroids, "seed": seed},
    )
    return cent


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index: read only the ``n_probe`` cells
    nearest the query (partition-pruned scan), exact-score, top-k."""
    [vectors] = open_index(spark, path, "ivf", _CELL_TABLES)
    snap = vectors.snapshot()
    meta = snap.params
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    probes = _nearest_cells(meta["centroids"], query_vec, n_probe)
    cand = vectors.read_partitions(probes, version=snap.version)
    return (
        cand.select(
            F.col(id_col),
            F.round(cosine_to_const(_as_double(F.col(vec_col)), query_vec), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _ann_exploded(
    df: DataFrame, planes: list[list[float]], bands: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec) -> one row per band with its bucket hash — the persisted
    layout of the LSH index (shared by build and incremental append)."""
    n_planes = len(planes)
    width = n_planes // bands
    mask = (1 << width) - 1
    vec_d = _as_double(F.col(vec_col))
    return (
        df.select(F.col(id_col), F.col(vec_col), lsh_signature(vec_d, planes).alias("__sig"))
        .select(
            id_col,
            vec_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright("__sig", b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("p"),
        )
        .select(
            id_col, vec_col, F.col("p.band").alias("__band"),
            F.col("p.bucket").cast("int").alias("__bucket"),
        )
    )


def append_to_ivf_index(df: DataFrame, path: str) -> None:
    """Incrementally add vectors to a persisted IVF index — no k-means
    rerun, no rewrite of existing cells.

    New vectors are assigned to the EXISTING (frozen) centroids and
    appended to their cell partitions; untouched cell files are never
    opened. Probes see old + new vectors immediately. Centroid drift is
    the documented rebuild trigger: if the appended distribution
    diverges from what k-means saw, recall decays and a periodic
    ``build_ivf_index`` refresh re-balances the cells.
    """
    [vectors] = open_index(df.sparkSession, path, "ivf", _CELL_TABLES)
    meta = vectors.snapshot().params
    vectors.append(_assign_cells(df, meta["centroids"], meta["vec_col"]))


def append_to_ann_index(df: DataFrame, path: str) -> None:
    """Incrementally add vectors to a persisted LSH index.

    Signatures are a pure function of (seeded planes, vector), so the
    appended rows are bit-identical to what a full rebuild would produce
    — an appended index IS the rebuilt index, no drift caveat.
    """
    [buckets] = open_index(df.sparkSession, path, "ann", _ANN_TABLES)
    meta = buckets.snapshot().params
    planes = _hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    buckets.append(_ann_exploded(df, planes, meta["bands"], meta["id_col"], meta["vec_col"]))


def build_ann_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> None:
    """Build + persist a banded hyperplane-LSH index: one corpus pass
    computes the packed signature, explodes it into (band, bucket) rows,
    and writes parquet partitioned by ``(__band, __bucket)``."""
    dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    [buckets] = open_index(df.sparkSession, path, "ann", _ANN_TABLES)
    buckets.overwrite(
        _ann_exploded(df, planes, bands, id_col, vec_col),
        params={"id_col": id_col, "vec_col": vec_col, "n_planes": n_planes,
                "bands": bands, "seed": seed, "dim": dim},
    )


def ann_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Probe a persisted LSH index: regenerate the (seeded, deterministic)
    planes driver-side, hash the query, and read ONLY the ``bands``
    matching (band, bucket) partitions; exact-score those candidates."""
    [buckets] = open_index(spark, path, "ann", _ANN_TABLES)
    snap = buckets.snapshot()
    meta = snap.params
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    planes = _hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    width = meta["n_planes"] // meta["bands"]
    mask = (1 << width) - 1
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query_vec)) >= 0:
            qsig |= 1 << i
    hit = [(b, (qsig >> (b * width)) & mask) for b in range(meta["bands"])]
    cand = (
        buckets.read_partitions(hit, version=snap.version)
        .dropDuplicates([id_col])  # a vector can match the query in >1 band
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(cosine_to_const(_as_double(F.col(vec_col)), query_vec), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def brute_force_all_pairs_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN graph (every row's top-k neighbors) — small-N baseline.

    This IS an O(N^2) cross join; it exists as the correctness oracle
    for ann/neardup. Guard rails: refuse above 100k rows.
    """
    n = df.count()
    if n > 100_000:
        raise ValueError(f"brute-force all-pairs on {n} rows; use embedding_neardup_pairs")
    a = df.select(F.col(id_col).alias("a_id"), _as_double(F.col(vec_col)).alias("a_v"))
    b = df.select(F.col(id_col).alias("b_id"), _as_double(F.col(vec_col)).alias("b_v"))
    pairs = a.join(b, F.col("a_id") != F.col("b_id"))
    scored = pairs.select("a_id", "b_id", F.round(cosine(F.col("a_v"), F.col("b_v")), 6).alias("score"))
    w = Window.partitionBy("a_id").orderBy(F.col("score").desc(), F.col("b_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.97,
    sample_size: int = 2048,
    refine_iters: int = 0,
    pair_strategy: str = "auto",
    max_arrow_cell_rows: int = 32768,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public arXiv method).

    Cluster embeddings with the deterministic driver-side k-means that
    backs the IVF index (bounded lowest-id sample, rounded-distance
    Lloyd protocol — oracle-replayable), then compare pairs ONLY within
    a cluster and drop the higher id of any pair whose cosine (rounded
    to 6 dp, the portable protocol every similarity oracle here uses)
    reaches ``threshold``. The keep-lowest-id policy is deterministic
    and order-free, so the kept set is a pure function of the data.

    Scale posture: the within-cluster self-join is the standard
    SemDeDup shape — O(sum of cluster^2) instead of O(N^2); size
    ``n_clusters`` ~ N/target_cluster_size so clusters stay bounded
    (the paper uses ~100k clusters for web scale). Cosine is a pure
    Column expression (zip_with dot over pre-normalized arrays — no
    UDF); the only shuffle is the equi-join on ``__cell``. Returns the
    kept rows of ``df`` plus their ``__cell`` assignment.

    ``pair_strategy`` (round-11, VERDICT r10 variance adjudication):
    ``'column'`` = the per-pair ``zip_with`` dot; ``'arrow'`` = one
    ``applyInPandas`` kernel per cell that accumulates the pairwise
    dot matrix as per-dimension outer products IN INDEX ORDER — each
    matrix entry performs the exact same IEEE additions as the Column
    left fold, so raw dots are bit-identical — then emits only
    near-threshold candidate pairs (raw dot >= threshold - 1e-6); the
    decisive ``F.round(dot, 6) >= threshold`` filter stays in Spark
    columns, so the HALF_UP rounding protocol (and the kept set) is
    bit-identical between strategies. The column form allocates one
    zipped array per pair (O(pairs x dim) JVM garbage — the suspected
    source of the documented up-to-~1.9x run-to-run variance band);
    the arrow form does the same flops in O(cell^2) numpy buffers with
    no per-pair allocation. Measured (scripts/semantic_dedup_ab.py,
    sf1, alternating arms in one JVM): arrow 3.5-4.5 s vs column
    4.6-13.2 s — 1.24x at median with ~4x tighter spread, kept sets
    identical — so ``'arrow'`` is the default; ``'column'`` remains as
    the pure-Column reference arm (bit-equality pinned by unit test).

    Memory contract of the arrow arm: ``applyInPandas`` materializes
    one whole cell per task (n x dim x 8 B of vectors; the pair matrix
    itself is row-blocked to ~256 MB), so cells must stay bounded —
    which is the SemDeDup sizing rule anyway (n_clusters ~ N/128 keeps
    mean cells ~128 rows). For an ADVERSARIAL corpus that defeats the
    clustering (one degenerate mega-cell), the column arm's streamed
    self-join never holds a cell in memory — same kept set, same
    O(cell^2) pair count.

    ``pair_strategy='auto'`` (default, round-12) closes that failure
    mode without giving up the kernel AND without an extra sizing job:
    the kernel itself refuses any cell larger than
    ``max_arrow_cell_rows``, emitting a sentinel row (``__is_cell``
    flag true, cell id in the dot slot) instead of grinding it — a
    free ``len(pdf)`` check riding the action that computes all
    bounded cells' pairs.
    The bounded sentinel collect (<= n_clusters rows) then routes just
    the refused cells through the streamed column arm and unions the
    candidates. Safe because the two arms produce BIT-IDENTICAL raw
    dots (pinned by unit test), so the split point cannot change the
    kept set; measured at the production regime, a sample-placed
    mega-cell (84k rows at dim 768) would otherwise cost ~87 TB of
    pair-matrix memory traffic in a single Arrow task (SCALE.md).
    ``max_arrow_cell_rows`` bounds the per-task vector block
    (32768 rows x dim 768 x 8 B ~ 200 MB; size it to the executor
    task budget for wider embeddings).
    """
    if pair_strategy not in ("auto", "column", "arrow"):
        raise ValueError(f"semantic_dedup: unknown pair_strategy {pair_strategy!r}")

    # refine_iters > 0 (round-10): place the cells with kmeans_refine —
    # the same deterministic protocol Lloyd-iterated over the FULL
    # corpus instead of the driver sample. At web scale (the paper's
    # ~100k clusters) the sample path cannot even fill the cells;
    # refinement also tightens them, which only helps the recall of
    # the within-cluster prune. The kept-set policy is unchanged and
    # the default (0) keeps the oracle-replayed sample protocol.
    if refine_iters:
        with_cells, _cent = kmeans_refine(
            df, n_centroids=n_clusters, iters=refine_iters,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        with_cells, _cent = ivf_index(
            df, id_col=id_col, vec_col=vec_col,
            n_centroids=n_clusters, sample_size=sample_size,
        )
    def _column_pairs(frame: DataFrame) -> DataFrame:
        a = frame.select("__cell", F.col("__id").alias("__a_id"), F.col("__u").alias("__a_u"))
        b = frame.select("__cell", F.col("__id").alias("__b_id"), F.col("__u").alias("__b_u"))
        return (
            a.join(b, on="__cell")
            .filter(F.col("__a_id") < F.col("__b_id"))
            .select(
                F.col("__b_id"),
                dot(F.col("__a_u"), F.col("__b_u")).alias("__dot"),
            )
        )

    margin = float(threshold) - 1e-6
    with scope():  # released once drops has materialized
        # normalize ONCE and share (cell, id, unit vector): the self-join's
        # two branches would otherwise each re-run the Arrow assign pass, and
        # per-pair cosine would recompute both norms — unit vectors make the
        # verify a pure dot (same round-6 protocol embedding_neardup uses).
        # transform() divides by the norm column directly (r7) — the old
        # zip_with/array_repeat(dim) form needed a first() action just to
        # learn the dimension
        base = shared(
            with_cells.select(
                F.col("__cell"),
                F.col(id_col).alias("__id"),
                _as_double(F.col(vec_col)).alias("__v"),
            )
            .withColumn("__n", norm(F.col("__v")))
            .select(
                "__cell",
                "__id",
                F.transform("__v", lambda x: x / F.col("__n")).alias("__u"),
            )
        )
        if pair_strategy == "arrow":
            cand = _cell_pair_candidates(base, margin).drop("__is_cell")
        elif pair_strategy == "column":
            cand = _column_pairs(base)
        else:  # auto: arrow kernel, mega-cells streamed through column
            raw = shared(
                _cell_pair_candidates(base, margin, big_cell_rows=max_arrow_cell_rows)
            )
            # sentinel rows (``__is_cell`` true, cell id in the dot
            # slot — a dedicated flag, so a genuine pair row whose
            # b-side id is null can never be mistaken for one) mark the
            # cells the kernel refused; this collect is the action that
            # computes every bounded cell's pairs, and it returns at
            # most n_clusters sentinel rows
            big = [
                int(r["__dot"])
                for r in raw.filter(F.col("__is_cell")).collect()
            ]
            cand = raw.filter(~F.col("__is_cell")).drop("__is_cell")
            if big:
                cand = cand.unionByName(
                    _column_pairs(base.filter(F.col("__cell").isin(big)))
                )
        drops = (
            # the decisive round-6 HALF_UP threshold runs in Spark columns
            # for BOTH strategies — the arrow kernel only pre-filters to a
            # raw-dot superset (>= threshold - 1e-6), so the kept set is a
            # pure function of the bit-identical raw dots either way
            cand.filter(F.round(F.col("__dot"), 6) >= F.lit(threshold))
            .select(F.col("__b_id").alias(id_col))
            .distinct()
            # narrow (ids only): materialize so the returned plan doesn't
            # depend on the shared frames after the scope releases them
            .localCheckpoint(eager=True)
        )
    return with_cells.join(drops, on=id_col, how="left_anti")


def semantic_cross_dedup(
    left: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.97,
    sample_size: int = 2048,
) -> DataFrame:
    """Cross-corpus semantic dedup: drop every ``left`` row whose
    embedding has cosine >= ``threshold`` (round-6, the portable
    protocol) against ANY ``index`` row — dedup an incoming crawl
    against the EXISTING training set, the embedding sibling of
    ``dedup.minhash_fuzzy_join``'s text-side entity resolution and the
    cross-corpus form of :func:`semantic_dedup` (SemDeDup applied
    between snapshots rather than within one).

    Cells come from the INDEX corpus's deterministic k-means (the
    oracle-replayable ``ivf_index`` protocol — lowest-id sample,
    rounded-distance argmin); both sides are assigned against the SAME
    centroids, so only same-cell cross pairs are compared —
    O(sum |L_cell| x |R_cell|), never |L| x |R|. The verify is the
    pure-Column unit-vector dot (no UDF); the only shuffle is the
    ``__cell`` equi-join. A persisted deployment keeps the index side
    partitioned by ``__cell`` so each incremental drop probes only its
    cells (the ivf_topk_indexed pattern).

    One recall caveat, inherited from SemDeDup itself: a left vector
    assigned to cell A can have a near-duplicate sitting in cell B
    when the pair straddles a cell boundary — the same within-corpus
    approximation the paper accepts; size ``n_clusters`` to the corpus
    as usual. Returns the surviving ``left`` rows (original columns).
    """
    indexed, cent = ivf_index(
        index, id_col=id_col, vec_col=vec_col,
        n_centroids=n_clusters, sample_size=sample_size,
    )

    def _unit(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                "__cell",
                F.col(id_col).alias(out_id),
                _as_double(F.col(vec_col)).alias("__v"),
            )
            .withColumn("__n", norm(F.col("__v")))
            .select(
                "__cell", out_id,
                F.transform("__v", lambda x: x / F.col("__n")).alias(f"{out_id}_u"),
            )
        )

    left_cells = _assign_cells(left.select(id_col, vec_col), cent, vec_col)
    left_u = _unit(left_cells, "__l_id")
    with scope():
        right_u = shared(_unit(indexed, "__r_id"))
        drops = (
            left_u.join(right_u, on="__cell")
            .filter(
                F.round(dot(F.col("__l_id_u"), F.col("__r_id_u")), 6)
                >= F.lit(threshold)
            )
            .select(F.col("__l_id").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
    return left.join(drops, on=id_col, how="left_anti")


def _cell_pair_candidates(
    base: DataFrame,
    margin: float,
    block_bytes: int = 256 << 20,
    big_cell_rows: int | None = None,
) -> DataFrame:
    """Arrow arm of semantic_dedup's within-cell verify: per ``__cell``
    group, accumulate the pairwise dot matrix as per-dimension outer
    products in INDEX ORDER — entry (i, j) performs exactly the IEEE
    additions of the ``dot`` Column left fold, so raw dots are
    bit-identical to the column arm — and emit ``(__b_id, __dot)`` for
    strict-upper-triangle pairs with raw dot >= ``margin`` (a superset
    of the final round-6 threshold; the decisive filter stays in Spark
    columns). Row-blocked so the TWO (block, n) buffers (accumulator +
    outer-product scratch) together stay ~``block_bytes`` (~256 MB)
    even on hot cells; no per-pair allocation anywhere. Pairs whose
    ids are EQUAL are excluded even when they are distinct rows, so a
    duplicated ``id_col`` value cannot drop itself — the column arm's
    ``__a_id < __b_id`` never compares equal ids (r11 advice).

    ``big_cell_rows`` (the 'auto' guard): a cell with more rows is NOT
    computed — the kernel emits one sentinel row (``__is_cell`` true,
    ``__dot`` = the cell id as double, exact for ids < 2^53) so the
    caller can route it through the streamed column arm. ``__is_cell``
    is a DEDICATED flag (round-13 advice fix): the old null-``__b_id``
    convention collided with genuine pair rows whose b-side id is null
    when ``id_col`` contains nulls, silently dropping the pair and
    misrouting a dot product as a cell id. The check is a free
    ``len(pdf)``; ``None`` (pure 'arrow') keeps the unguarded
    behavior."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_type = base.schema["__id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("__b_id", id_type),
            T.StructField("__dot", T.DoubleType()),
            T.StructField("__is_cell", T.BooleanType()),
        ]
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "__b_id": pdf["__id"][:0],
                "__dot": pd.Series([], dtype="float64"),
                "__is_cell": pd.Series([], dtype="bool"),
            }
        )
        if n < 2:
            return empty
        if big_cell_rows is not None and n > big_cell_rows:
            # refuse the mega-cell: sentinel (flag set, cell id as dot)
            return pd.DataFrame(
                {
                    "__b_id": [None],
                    "__dot": [float(pdf["__cell"].iloc[0])],
                    "__is_cell": [True],
                }
            )
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        u = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__u"]])
        dim = u.shape[1]
        # two live (blk, n) float64 buffers -> each gets half the budget
        blk = max(1, (block_bytes // 2) // max(1, n * 8))
        buf = np.empty((min(blk, n), n), dtype=np.float64)
        tmp = np.empty_like(buf)
        out_ids, out_dots = [], []
        for s in range(0, n, blk):
            e = min(s + blk, n)
            acc, prod = buf[: e - s], tmp[: e - s]
            acc.fill(0.0)
            for d in range(dim):
                # same multiplies, same left-to-right adds as the fold
                np.multiply.outer(u[s:e, d], u[:, d], out=prod)
                acc += prod
            rows, cols = np.nonzero(acc >= margin)
            # strict upper triangle by global index AND distinct ids:
            # duplicate id values are distinct rows here but invisible
            # to the column arm's __a_id < __b_id
            keep = (cols > (rows + s)) & (ids[cols] != ids[rows + s])
            rows, cols = rows[keep], cols[keep]
            if len(rows):
                out_ids.append(ids[cols])
                out_dots.append(acc[rows, cols].copy())
        if not out_ids:
            return empty
        ids_out = np.concatenate(out_ids)
        return pd.DataFrame(
            {
                "__b_id": ids_out,
                "__dot": np.concatenate(out_dots),
                "__is_cell": np.zeros(len(ids_out), dtype=bool),
            }
        )

    return base.groupBy("__cell").applyInPandas(cell_pairs, out_schema)


# -- product quantization (round-5) ------------------------------------------
#
# PQ is the canonical 100 TB embedding-search compression: each vector
# becomes m small codes (one per subvector, each the id of the nearest
# codebook centroid), and a query scores candidates by Asymmetric
# Distance Computation — a per-query lookup table of the query
# subvector's distance to every codebook entry, summed over the m
# codes. A 64-dim float64 vector (512 B) becomes m=4 bytes; the scan
# reads codes, never raw vectors. (Jégou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011 — public method.)
#
# Everything rides the repo's portable-float protocol (lowest-id
# sample, rounded-distance argmin with lowest-code tie-break, 9 dp
# centroids — the _kmeans_lite contract), so the DuckDB oracle replays
# training, encoding, and ADC scoring bit-for-bit.


def pq_train(
    df: DataFrame,
    m: int = 4,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    iters: int = 8,
    centroids=None,
    cell_col: str = "__cell",
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of 2^nbits centroids each on the
    lowest-``sample_size``-id vectors (the bounded, oracle-replayable
    driver collect — build time only, never the query path). Returns
    ``codebooks[m][2^nbits][dim/m]``.

    With ``centroids`` (and ``cell_col`` on ``df``), trains on the
    coarse-cell RESIDUALS ``v - centroid[cell]`` instead of the raw
    vectors — the FAISS IVFPQ layout (round 8): residuals have far less
    variance than raw vectors, so the same 2^nbits-entry codebooks
    quantize them much more tightly and ADC recall rises at the same
    byte budget."""
    if centroids is not None:
        rows = (
            df.select(id_col, vec_col, cell_col)
            .orderBy(id_col)
            .limit(sample_size)
            .collect()
        )
        cent = [list(map(float, c)) for c in centroids]
        sample = [
            [float(v) - c for v, c in zip(r[1], cent[int(r[2])])] for r in rows
        ]
    else:
        rows = (
            df.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
        )
        sample = [[float(v) for v in r[1]] for r in rows]
    if not sample:
        raise ValueError("pq_train needs a non-empty sample")
    dim = len(sample[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for j in range(m):
        sub = [v[j * dsub : (j + 1) * dsub] for v in sample]
        cent = _kmeans_lite(sub, 1 << nbits, iters=iters)
        books.append([list(map(float, c)) for c in cent])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    centroids=None,
    cell_col: str = "__cell",
) -> DataFrame:
    """Attach ``out_col`` = the m nearest-codebook-entry ids (PQ code).
    One Arrow-batched pass, no shuffle; codebooks are closure-captured
    (broadcast-sized). Same rounded-distance + lowest-id-tie protocol
    as ``_assign_cells``. With ``centroids``, encodes the coarse-cell
    RESIDUAL ``v - centroid[cell_col]`` (the FAISS IVFPQ layout) — the
    codebooks must then come from residual-mode :func:`pq_train`."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    cent_arr = (
        np.asarray([list(map(float, c)) for c in centroids], dtype=np.float64)
        if centroids is not None
        else None
    )
    m = len(books)
    dsub = books[0].shape[1]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.IntegerType()), False)]
    )

    def encode(iters_):
        for pdf in iters_:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf[out_col] = pd.Series([], dtype=object)
                yield pdf
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if cent_arr is not None:
                x = x - cent_arr[pdf[cell_col].to_numpy(dtype=np.int64)]
            codes = np.empty((len(x), m), dtype=np.int32)
            for j, cb in enumerate(books):
                blk = x[:, j * dsub : (j + 1) * dsub]
                d = ((blk[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2).round(6)
                codes[:, j] = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(list(codes.tolist()), index=pdf.index)
            yield pdf

    return df.mapInPandas(encode, out_schema)


def _with_lut_arrays(
    df: DataFrame, luts: list[list[float]], extra: dict | None = None
) -> DataFrame:
    """Attach per-query ADC lookup tables as ``__lut{j}`` array columns
    (plus ``extra`` name->int-list columns), choosing the cheaper
    shipping mode by payload size: classic PySpark builds array
    LITERALS element-by-element over py4j (~0.4 ms/element of pure
    driver time — seconds at nbits=8), while a one-row broadcast frame
    costs one serialization call plus a fixed ~0.3 s
    BroadcastNestedLoopJoin; the crossover sits around a thousand
    elements (same-session A/B, round 8)."""
    extra = extra or {}
    total = sum(len(v) for v in luts) + sum(len(v) for v in extra.values())
    if total <= 1024:
        out = df
        for name, vals in extra.items():
            out = out.withColumn(name, F.lit(vals))
        for j, vals in enumerate(luts):
            out = out.withColumn(f"__lut{j}", F.lit(vals))
        return out
    cols = list(extra.keys()) + [f"__lut{j}" for j in range(len(luts))]
    types = ["array<int>"] * len(extra) + ["array<double>"] * len(luts)
    lut_df = df.sparkSession.createDataFrame(
        [tuple(list(extra.values()) + luts)],
        ", ".join(f"{c} {t}" for c, t in zip(cols, types)),
    )
    return df.crossJoin(F.broadcast(lut_df))


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str | None = None,
) -> DataFrame:
    """Approximate top-k by PQ Asymmetric Distance: the per-query LUT
    (query subvector vs every codebook entry, rounded 6 dp) ships via
    :func:`_with_lut_arrays` (size-adaptive: tiny LUTs inline as plan
    literals, big ones ride a one-row broadcast frame — py4j literal
    construction costs seconds at nbits=8); scoring is m JVM-side
    ``element_at`` lookups summed per row — whole-stage codegen, zero
    UDFs on the query path, and the scan needs only the code column.
    Pass ``code_col`` to score a pre-encoded frame (the
    persisted-index shape); otherwise the frame is encoded on the fly.
    Ranks ascending distance with the id tie-break;
    TakeOrderedAndProject at small k."""
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = np.asarray(query_vec, dtype=np.float64)
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != m*dsub {m * dsub}")
    lut = [
        [
            float(round(float(((q[j * dsub : (j + 1) * dsub] - np.asarray(c)) ** 2).sum()), 6))
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    if code_col is None:
        df = pq_encode(df, codebooks, vec_col=vec_col, out_col="__pq")
        code_col = "__pq"
    scored = _with_lut_arrays(df, lut)
    dist = None
    for j in range(m):
        term = F.element_at(
            F.col(f"__lut{j}"), F.col(code_col).getItem(j) + 1
        )
        dist = term if dist is None else dist + term
    return (
        scored.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_topk_rescored(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list | None = None,
) -> DataFrame:
    """The production PQ shape: ADC over the compressed codes shortlists
    ``shortlist`` candidates (the cheap pass — at scale it reads m
    bytes per vector, never the raw embeddings), then ONLY those rows
    rescore with the exact cosine — one broadcast semi-join against a
    shortlist of ids, the same pattern as the IVF probe. Returns
    (id_col, score) exact-cosine-ranked top-k of the shortlist."""
    cand = pq_topk(
        df, codebooks, query_vec, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    hits = df.join(F.broadcast(cand), on=id_col, how="left_semi")
    if exclude_ids:
        hits = hits.filter(~F.col(id_col).isin(exclude_ids))
    return (
        hits.select(
            F.col(id_col),
            F.round(
                cosine_to_const(_as_double(F.col(vec_col)), query_vec), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 8,
    nbits: int = 8,
    pq_iters: int = 4,
    sample_size: int = 2048,
    residual: bool = True,
) -> None:
    """Persist an IVF-PQ index (the canonical production ANN layout —
    FAISS's IVFPQ): vectors + their PQ codes partitioned by coarse
    cell, coarse centroids and codebooks riding the same commit. A probe
    then (1) partition-prunes to n_probe cells, (2) shortlists in the
    compressed domain (ADC over m small codes), (3) exact-rescores only
    the shortlist rows — three successively tinier data volumes, which
    is the whole point at 100 TB of embeddings.

    ``nbits=8`` default (round 9, decided from the sf1 ANN_EVAL tier):
    at 10x corpus the shortlist is a smaller FRACTION of the data, so
    quantization error binds — 1-byte codebooks recall 0.870 vs 0.530
    for nbits=4 at the same 0.5% exact-scored budget (0.950 vs 0.840 at
    1%), while the probe-side cost delta shrank from ~40% at sf0.1 to
    ~10% at sf1 (the LUT build is per-query-fixed, the scan scales).
    nbits=4 stays available where the 2x code-size saving matters.

    ``residual=True`` (round 8, the FAISS default): codebooks are
    trained on and codes encode the per-cell residual
    ``v - centroid[cell]`` — residual variance is a fraction of raw
    variance, so the same code budget quantizes far more tightly and
    ADC recall at cheap operating points rises (measured in
    ANN_EVAL.md: ivfpq(4,100) 0.765 -> >=0.9 recall@10 on the eval
    corpus). ``residual=False`` keeps the round-5 one-global-codebook
    layout; probes read the flag from the frozen parameters, so both
    index generations stay probeable."""
    indexed, cent = ivf_index(df, id_col, vec_col, n_centroids, sample_size)
    if residual:
        books = pq_train(
            indexed, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col,
            sample_size=sample_size, iters=pq_iters,
            centroids=cent, cell_col="__cell",
        )
        encoded = pq_encode(
            indexed, books, vec_col=vec_col, out_col="pq_code",
            centroids=cent, cell_col="__cell",
        )
    else:
        books = pq_train(
            df, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col,
            sample_size=sample_size, iters=pq_iters,
        )
        encoded = pq_encode(indexed, books, vec_col=vec_col, out_col="pq_code")
    [vectors] = open_index(df.sparkSession, path, "ivfpq", _CELL_TABLES)
    vectors.overwrite(
        encoded,
        params={"centroids": cent, "codebooks": books, "id_col": id_col,
                "vec_col": vec_col, "n_centroids": n_centroids, "m": m,
                "nbits": nbits, "residual": residual},
    )


def _residual_adc_shortlist(
    cand: DataFrame,
    meta: dict,
    query_vec: list[float],
    probes: list[int],
    shortlist: int,
    id_col: str,
) -> DataFrame:
    """ADC shortlist over residual codes: the lookup table depends on
    the row's coarse cell (code j approximates ``v - centroid[cell]``,
    so the query side must be ``q - centroid[cell]`` too).

    The m per-subspace LUTs (each n_probe*ksub doubles, flattened so
    entry ``rank(cell)*ksub + code`` is the distance) ship via
    :func:`_with_lut_arrays` — at nbits=8 (8 x 8 x 256 doubles) the
    plan-literal forms spent ~6-8 s of DRIVER time per query just
    constructing the plan (A/B'd: WHEN-chain 7.9 s, flat F.lit arrays
    6.7 s, one-row broadcast ~1 s; values identical), so big payloads
    ride the one-row broadcast frame. Scoring stays m JVM element_at
    lookups per row — whole-stage codegen, zero UDFs — and the
    broadcast is KB-sized."""
    import numpy as np

    books = meta["codebooks"]
    m = len(books)
    dsub = len(books[0][0])
    ksub = len(books[0])
    q = np.asarray(query_vec, dtype=np.float64)
    flat = [[] for _ in range(m)]
    for c in probes:
        qr = q - np.asarray(meta["centroids"][c], dtype=np.float64)
        for j in range(m):
            flat[j].extend(
                float(round(float(((qr[j * dsub : (j + 1) * dsub] - np.asarray(e)) ** 2).sum()), 6))
                for e in books[j]
            )
    scored = _with_lut_arrays(
        cand, flat, extra={"__probes": [int(c) for c in probes]}
    )
    # 1-based rank of the row's cell among the probed cells; cand is
    # pre-filtered to probed cells, so the position is never 0
    rank = F.array_position(F.col("__probes"), F.col("__cell").cast("int"))
    dist = None
    for j in range(m):
        term = F.element_at(
            F.col(f"__lut{j}"),
            ((rank - 1) * ksub + F.col("pq_code").getItem(j) + 1).cast("int"),
        )
        dist = term if dist is None else dist + term
    return (
        scored.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )


def _resolve_ivfpq_defaults(
    meta: dict, n_probe: int | None, shortlist: int | None
) -> tuple[int, int]:
    """Scale-aware probe defaults (round 9, set from the sf1 ANN_EVAL
    tier): recall saturates in n_probe once ~1/4 of the coarse cells
    are probed (probing more only widens the byte-sized code scan) and
    is then BOUND by the shortlist as a fraction of the corpus — 1% of
    vectors recalls 0.95 at nbits=8 on both tiers. So
    ``n_probe=None`` -> max(1, n_centroids // 4) and
    ``shortlist=None`` -> max(100, 1% of the indexed vector count)
    (``n_vectors``, the committed snapshot's footer row count; unknown
    falls back to 100). Explicit values always win."""
    if n_probe is None:
        n_probe = max(1, int(meta.get("n_centroids", 4)) // 4)
    if shortlist is None:
        shortlist = max(100, int(0.01 * (meta.get("n_vectors") or 0)))
    return int(n_probe), int(shortlist)


def ivfpq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int | None = None,
    shortlist: int | None = None,
    exclude_ids: list | None = None,
) -> DataFrame:
    """Probe a persisted IVF-PQ index: partition-pruned read of the
    n_probe nearest cells, ADC shortlist over their codes (JVM LUT
    lookups — per-cell LUTs when the index is residual-encoded),
    exact-cosine rescore of the shortlist rows only. ``n_probe`` /
    ``shortlist`` default scale-aware (see _resolve_ivfpq_defaults)."""
    [vectors] = open_index(spark, path, "ivfpq", _CELL_TABLES)
    snap = vectors.snapshot()
    meta = dict(snap.params, n_vectors=snap.rows)
    n_probe, shortlist = _resolve_ivfpq_defaults(meta, n_probe, shortlist)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    probes = _nearest_cells(meta["centroids"], query_vec, n_probe)
    cand = vectors.read_partitions(probes, version=snap.version)
    if meta.get("residual"):
        short = _residual_adc_shortlist(
            cand, meta, query_vec, probes, shortlist, id_col
        )
    else:
        short = pq_topk(
            cand, meta["codebooks"], query_vec, k=shortlist,
            id_col=id_col, code_col="pq_code",
        ).select(id_col)
    hits = cand.join(F.broadcast(short), on=id_col, how="left_semi")
    if exclude_ids:
        hits = hits.filter(~F.col(id_col).isin(exclude_ids))
    return (
        hits.select(
            F.col(id_col),
            F.round(
                cosine_to_const(_as_double(F.col(vec_col)), query_vec), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def append_to_ivfpq_index(df: DataFrame, path: str) -> None:
    """Incrementally add vectors to a persisted IVF-PQ index — no
    k-means rerun, no codebook retrain, no rewrite of existing cells.

    New vectors are assigned to the EXISTING coarse centroids and
    encoded with the EXISTING codebooks (both frozen), then
    appended to their cell partitions; untouched cell files are never
    opened, and probes see old + new vectors immediately. Because cell
    assignment and PQ encoding are pure functions of (frozen artifacts,
    vector), the appended rows are bit-identical to what indexing the
    same vectors at build time would have produced. Centroid/codebook
    drift is the documented rebuild trigger, same as the IVF index.
    """
    [vectors] = open_index(df.sparkSession, path, "ivfpq", _CELL_TABLES)
    meta = vectors.snapshot().params
    assigned = _assign_cells(df, meta["centroids"], meta["vec_col"])
    vectors.append(
        pq_encode(
            assigned, meta["codebooks"], vec_col=meta["vec_col"], out_col="pq_code",
            centroids=meta["centroids"] if meta.get("residual") else None,
            cell_col="__cell",
        )
    )
