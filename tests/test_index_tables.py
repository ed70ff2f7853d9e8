"""Persisted indexes as manifest tables (``writeops.open_index``): an
index written in the sidecar format still opens, answers the same and
grows; a failed write leaves the answer from before it; building a
similarity probe runs no Spark job."""

from __future__ import annotations

import json
import os

import pytest
from conftest import jobs_submitted

from etl_cli_spark.operators.writeops import ParquetTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _media(spark, groups, members, id_base):
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        neardup_dims,
        neardup_pixels,
    )

    rows = []
    for g in groups:
        w, h = neardup_dims(g)
        for m in members:
            rows.append(
                (id_base + 10 * g + m, "image",
                 bytearray(encode_bmp(neardup_pixels(g, m, w, h))),
                 (w, h, None, None, "bmp"))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _dedup_case(spark, engine):
    from etl_cli_spark.operators import dedup

    d = engine.read("documents")
    return dict(
        sidecar="_dedup_index_meta.json",
        parts=[("sigs", ()), ("buckets", ("__bb",))],
        build=lambda p: dedup.build_dedup_index(d.filter("doc_id % 4 = 0"), p),
        append=lambda p: dedup.append_dedup_signatures(d.filter("doc_id % 4 = 2"), p),
        probe=lambda p: dedup.fuzzy_join_indexed(d.filter("doc_id % 2 = 1"), p, threshold=0.5),
    )


def _media_case(spark, engine):
    from etl_cli_spark.operators import multimodal as mm

    return dict(
        sidecar="_media_index_meta.json",
        parts=[("bands", ("__bb",))],
        build=lambda p: mm.build_media_index(
            _media(spark, range(4), (0, 1), 0), p, chunks=8, n_parts=16
        ),
        append=lambda p: mm.append_media_fingerprints(_media(spark, range(4, 6), (0, 1), 0), p),
        probe=lambda p: mm.media_neardup_indexed(_media(spark, range(6), (2,), 1000), p),
    )


def _vector_case(kind):
    def case(spark, engine):
        from etl_cli_spark.operators import similarity as sim

        emb = engine.read("embeddings")
        old, new = emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
        q = [float(x) for x in emb.filter("vec_id = 1").first().embedding]
        build, append, probe = {
            "ivf": (
                lambda p: sim.build_ivf_index(old, p, n_centroids=8),
                lambda p: sim.append_to_ivf_index(new, p),
                lambda p: sim.ivf_topk_indexed(spark, p, q, k=10, n_probe=3),
            ),
            "ann": (
                lambda p: sim.build_ann_index(old, p, n_planes=16, bands=4),
                lambda p: sim.append_to_ann_index(new, p),
                lambda p: sim.ann_topk_indexed(spark, p, q, k=10),
            ),
            "ivfpq": (
                lambda p: sim.build_ivfpq_index(old, p, n_centroids=8, m=8, nbits=4),
                lambda p: sim.append_to_ivfpq_index(new, p),
                lambda p: sim.ivfpq_topk_indexed(spark, p, q, k=10, n_probe=4, shortlist=50),
            ),
        }[kind]
        return dict(
            sidecar=f"_{kind}_meta.json",
            parts=[("buckets", ("__band", "__bucket"))] if kind == "ann"
            else [("vectors", ("__cell",))],
            build=build, append=append, probe=probe,
        )

    return case


_CASES = {
    "dedup": _dedup_case,
    "media": _media_case,
    "ivf": _vector_case("ivf"),
    "ann": _vector_case("ann"),
    "ivfpq": _vector_case("ivfpq"),
}


def _as_sidecar_format(spark, src, dst, sidecar, parts):
    """Write the index built at ``src`` again at ``dst`` the way indexes
    were stored before their parameters rode the manifest commit: bare
    hive directories (no ``_log``, no layout file) plus the parameters
    in a JSON sidecar."""
    for sub, dirs in parts:
        w = ParquetTable(spark, f"{src}/{sub}").read().write.mode("overwrite")
        (w.partitionBy(*dirs) if dirs else w).parquet(f"{dst}/{sub}")
    params = ParquetTable(spark, f"{src}/{parts[-1][0]}").snapshot().params
    with open(os.path.join(dst, sidecar), "w") as f:
        json.dump(params, f)


@pytest.mark.parametrize("kind", sorted(_CASES))
def test_sidecar_index_is_adopted(spark, engine, tmp_path, kind):
    """A sidecar-format index opens as manifest tables: its probe
    answers exactly as before, the sidecar's values become the
    committed parameters, and an append then works."""
    case = _CASES[kind](spark, engine)
    fresh, old = str(tmp_path / "fresh"), str(tmp_path / "old")
    case["build"](fresh)
    os.makedirs(old)
    _as_sidecar_format(spark, fresh, old, case["sidecar"], case["parts"])
    params = ParquetTable(spark, f"{fresh}/{case['parts'][-1][0]}").snapshot().params

    answer = _rows(case["probe"](fresh))
    assert answer, "fixture probe should find something"
    assert _rows(case["probe"](old)) == answer
    assert not os.path.exists(os.path.join(old, case["sidecar"]))
    for sub, _dirs in case["parts"]:
        assert ParquetTable(spark, f"{old}/{sub}").versions() == [0]
    assert ParquetTable(spark, f"{old}/{case['parts'][-1][0]}").snapshot().params == params

    case["append"](fresh)
    case["append"](old)
    grown = _rows(case["probe"](fresh))
    assert grown != answer, "fixture append should change the answer"
    assert _rows(case["probe"](old)) == grown


def test_interrupted_adoption_reruns(spark, engine, tmp_path, monkeypatch):
    """A crash after the first table's adoption commit leaves the
    parameter table uncommitted, so the next open adopts again."""
    case = _dedup_case(spark, engine)
    fresh, old = str(tmp_path / "fresh"), str(tmp_path / "old")
    case["build"](fresh)
    os.makedirs(old)
    _as_sidecar_format(spark, fresh, old, case["sidecar"], case["parts"])

    real = ParquetTable.adopt

    def crash_on_buckets(self, params=None):
        if self.path.endswith("buckets"):
            raise OSError("injected crash mid-adoption")
        return real(self, params)

    monkeypatch.setattr(ParquetTable, "adopt", crash_on_buckets)
    with pytest.raises(OSError, match="mid-adoption"):
        case["probe"](old)
    assert ParquetTable(spark, f"{old}/sigs").versions() == [0]
    monkeypatch.setattr(ParquetTable, "adopt", real)
    assert _rows(case["probe"](old)) == _rows(case["probe"](fresh))


def test_failed_dedup_append_between_commits_keeps_answer(spark, engine, tmp_path, monkeypatch):
    """An append whose buckets commit fails after its sigs commit
    landed leaves the probe answer of the index before the append: a
    probe reaches sigs only through buckets."""
    from etl_cli_spark.operators.dedup import (
        append_dedup_signatures,
        build_dedup_index,
        fuzzy_join_indexed,
    )

    d = engine.read("documents")
    path = str(tmp_path / "idx")
    build_dedup_index(d.filter("doc_id % 4 = 0"), path)
    probe = lambda: _rows(fuzzy_join_indexed(d.filter("doc_id % 2 = 1"), path, threshold=0.5))
    before = probe()

    real = ParquetTable.append

    def fail_on_buckets(self, df, **kw):
        if self.path.endswith("buckets"):
            raise OSError("injected failure between the commits")
        return real(self, df, **kw)

    monkeypatch.setattr(ParquetTable, "append", fail_on_buckets)
    with pytest.raises(OSError, match="between the commits"):
        append_dedup_signatures(d.filter("doc_id % 4 = 2"), path)
    monkeypatch.setattr(ParquetTable, "append", real)
    assert ParquetTable(spark, f"{path}/sigs").versions() == [0, 1]
    assert probe() == before


def test_failed_dedup_rebuild_between_commits_keeps_answer(spark, engine, tmp_path, monkeypatch):
    """A rebuild over another corpus with other parameters whose
    buckets commit fails after its sigs commit landed leaves the probe
    answer of the old index: a probe reads sigs at the version the
    buckets commit names."""
    from etl_cli_spark.operators.dedup import build_dedup_index, fuzzy_join_indexed

    d = engine.read("documents")
    path = str(tmp_path / "idx")
    build_dedup_index(d.filter("doc_id % 4 = 0"), path)
    buckets = ParquetTable(spark, f"{path}/buckets")
    params = buckets.snapshot().params
    probe = lambda: _rows(fuzzy_join_indexed(d.filter("doc_id % 2 = 1"), path, threshold=0.5))
    before = probe()
    assert before, "fixture probe should find something"

    real = ParquetTable.overwrite

    def fail_on_buckets(self, df, **kw):
        if self.path.endswith("buckets"):
            raise OSError("injected failure between the commits")
        return real(self, df, **kw)

    monkeypatch.setattr(ParquetTable, "overwrite", fail_on_buckets)
    with pytest.raises(OSError, match="between the commits"):
        build_dedup_index(d.filter("doc_id % 4 = 2"), path, n_shingle=5)
    monkeypatch.undo()
    assert ParquetTable(spark, f"{path}/sigs").versions() == [0, 1]
    assert buckets.snapshot().params == params
    assert probe() == before


def test_failed_rebuild_keeps_old_parameters_and_topk(spark, engine, tmp_path, monkeypatch):
    """A rebuild with new parameters (other centroids) whose commit
    raises leaves the old top-k: the centroids ride the same commit as
    the cells they index."""
    from etl_cli_spark.operators.similarity import build_ivf_index, ivf_topk_indexed

    emb = engine.read("embeddings")
    q = [float(x) for x in emb.filter("vec_id = 3").first().embedding]
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, seed=7)
    vectors = ParquetTable(spark, f"{path}/vectors")
    params = vectors.snapshot().params
    before = _rows(ivf_topk_indexed(spark, path, q, k=10, n_probe=2))

    def fail(self, *args, **kwargs):
        raise OSError("injected commit failure")

    monkeypatch.setattr(ParquetTable, "_commit", fail)
    with pytest.raises(OSError, match="commit failure"):
        build_ivf_index(emb, path, n_centroids=4, seed=11)
    monkeypatch.undo()
    assert vectors.snapshot().params == params
    assert _rows(ivf_topk_indexed(spark, path, q, k=10, n_probe=2)) == before


@pytest.mark.parametrize("kind", ["ivf", "ann", "ivfpq"])
def test_similarity_probe_builds_without_jobs(spark, engine, tmp_path, kind):
    """The probe's partitions come from the frozen parameters on the
    driver and its read names committed files under the committed
    schema: building it lists nothing and infers nothing."""
    case = _CASES[kind](spark, engine)
    path = str(tmp_path / kind)
    case["build"](path)
    case["append"](path)
    out, jobs = jobs_submitted(spark, lambda: case["probe"](path))
    assert jobs == 0
    assert out.count() == 10


def test_ann_probe_prunes_both_directory_levels(spark, engine, tmp_path):
    """The LSH probe reads one (band, bucket) directory per band, not
    every bucket of a matching band."""
    from etl_cli_spark.operators.similarity import ann_topk_indexed, build_ann_index

    emb = engine.read("embeddings")
    path = str(tmp_path / "ann")
    build_ann_index(emb, path, n_planes=16, bands=4)
    q = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    files = ann_topk_indexed(spark, path, q, k=10).inputFiles()
    dirs = {os.path.dirname(os.path.relpath(f.replace("file:", ""), f"{path}/buckets")) for f in files}
    assert len(dirs) == 4 and len({d.split(os.sep)[0] for d in dirs}) == 4


def test_empty_index_is_one_without_committed_files(spark, engine, tmp_path):
    """A created index has parameters and no files; its probe finds
    nothing and dedup keeps the batch minus its in-batch duplicates."""
    from etl_cli_spark.operators.dedup import (
        create_dedup_index,
        dedup_against_index,
        fuzzy_join_indexed,
        minhash_dedup,
    )

    path = str(tmp_path / "idx")
    create_dedup_index(spark, path)
    snap = ParquetTable(spark, f"{path}/buckets").snapshot()
    assert snap.files == 0 and snap.params["n_parts"] == 64
    d = engine.read("documents").limit(60)
    assert fuzzy_join_indexed(d, path).count() == 0
    kept = {r.doc_id for r in dedup_against_index(d, path, threshold=0.8).collect()}
    assert kept == {r.doc_id for r in minhash_dedup(d, threshold=0.8).collect()}


def test_missing_index_raises_not_found(spark, engine, tmp_path):
    """Probing or appending to a path that holds no index fails with
    FileNotFoundError, not a failure deep inside the probe."""
    from etl_cli_spark.operators.dedup import append_dedup_signatures, fuzzy_join_indexed
    from etl_cli_spark.operators.similarity import ivf_topk_indexed

    d = engine.read("documents").limit(5)
    with pytest.raises(FileNotFoundError):
        fuzzy_join_indexed(d, str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError):
        append_dedup_signatures(d, str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError):
        ivf_topk_indexed(spark, str(tmp_path / "nope"), [0.0] * 16)
