"""Per-call cost and contracts of the persisted-index searchers: the job
budget of a warm search, the query-batch ceiling on every searcher,
schema-recorded reads (and the fallback for indexes written without a
recorded schema), the sidecar reader, and the overlap mode of
``rrf_fuse``."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

VEC_SCHEMA = "vec_id long, embedding array<double>"


def _vectors(spark, n=240, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    centers = rng.randn(6, dim)
    vecs = centers[rng.randint(0, 6, n)] + 0.3 * rng.randn(n, dim)
    return spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], VEC_SCHEMA
    )


def _queries(spark, corpus, ids):
    return corpus.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@pytest.fixture(scope="module")
def ivf_index(spark, tmp_path_factory):
    """An IVF index with one append and one delete behind it — the
    searched state has several files per cell and a tombstone set."""
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_append_index,
        ivf_build,
        ivf_delete_index,
        ivf_write_index,
    )

    corpus = _vectors(spark)
    path = str(tmp_path_factory.mktemp("ivf_budget") / "idx")
    cents = ivf_build(corpus, n_centroids=6, kmeans_iters=1)
    ivf_write_index(corpus.filter("vec_id < 200"), path, centroids=cents)
    ivf_append_index(corpus.filter("vec_id >= 200"), path)
    ivf_delete_index(spark.createDataFrame([(7,), (11,)], "vec_id long"), path)
    return corpus, path, cents


def test_warm_ivf_search_job_budget(spark, ivf_index, count_jobs):
    """A warm single-query ivf_search_index call schedules at most six
    Spark jobs: the bounded query collect, the tombstone and probe
    broadcasts and the scoring query — no count job, no probe-cell
    collect, no schema inference."""
    from spatially_databricks_etl_spark.operators.similarity import ivf_search_index

    corpus, path, _ = ivf_index

    def call():
        return ivf_search_index(_queries(spark, corpus, [3]), path, k=5, nprobe=2).collect()

    call()  # warm
    rows, jobs = count_jobs(call)
    assert len(rows) == 5
    assert 0 < jobs <= 6, jobs


def test_warm_bm25_search_job_budget(spark, tmp_path, count_jobs):
    """A warm single-query bm25_search_index call schedules fewer than
    the 12 jobs it took with a count job, a distinct-term collect and
    two schema-inference jobs per call."""
    from spatially_databricks_etl_spark.operators.retrieval import (
        bm25_delete_index,
        bm25_search_index,
        bm25_write_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 7} w{i % 5} beta{i % 3}") for i in range(60)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25")
    bm25_write_index(docs, path)
    bm25_delete_index(spark.createDataFrame([(4,)], "doc_id long"), path)
    qs = spark.createDataFrame([(0, "w3 beta1")], "query_id long, query string")

    def call():
        return bm25_search_index(qs, path, k=5).collect()

    call()  # warm
    rows, jobs = count_jobs(call)
    assert rows and 4 not in {r["doc_id"] for r in rows}
    assert 0 < jobs < 12, jobs


@pytest.mark.parametrize("family", ["ivf", "lsh", "ivfpq"])
def test_vector_index_search_enforces_query_ceiling(spark, tmp_path, family):
    """Every vector-index searcher raises the query-batch ValueError
    above ``max_queries`` and searches normally at the ceiling."""
    from spatially_databricks_etl_spark.operators import similarity as S
    from spatially_databricks_etl_spark.operators.embeddings import pq_train

    corpus = _vectors(spark, n=60)
    path = str(tmp_path / family)
    if family == "ivf":
        S.ivf_write_index(corpus, path, centroids=S.ivf_build(corpus, n_centroids=3))
        search = S.ivf_search_index
    elif family == "lsh":
        S.lsh_write_index(corpus, path, planes=3, dim=8)
        search = S.lsh_search_index
    else:
        S.ivfpq_write_index(
            corpus,
            path,
            centroids=S.ivf_build(corpus, n_centroids=3),
            codebooks=pq_train(corpus, m=2, k=4, kmeans_iters=1),
        )
        search = S.ivfpq_search_index
    qs = _queries(spark, corpus, list(range(12)))
    with pytest.raises(ValueError, match="query batch exceeds 10 rows"):
        search(qs, path, k=3, max_queries=10)
    assert search(qs, path, k=1, max_queries=12).count() == 12
    assert search(qs, path, k=1, max_queries=None).count() == 12


def test_ivf_search_reads_recorded_schema_and_only_probed_cells(spark, ivf_index):
    """The IVF sidecar records the data schema; the search scans only
    the probed cell directories; and an index whose sidecar predates
    the recorded schema returns the same rows."""
    import shutil

    from spatially_databricks_etl_spark.operators.indexstore import (
        read_index_schemas,
        read_meta_sidecar,
        write_meta_sidecar,
    )
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_search_index,
        route_cells,
    )

    corpus, path, cents = ivf_index
    schema = read_index_schemas(f"{path}/_ivf_meta")["data"]
    assert [f.name for f in schema.fields] == ["vec_id", "embedding"]

    qs = _queries(spark, corpus, [3, 150])
    out = ivf_search_index(qs, path, k=5, nprobe=2)
    probed = {
        c
        for cells in route_cells(qs.toArrow().column("embedding").to_pylist(), cents, 2)
        for c in cells
        if os.path.isdir(f"{path}/__cell={c}")
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln and "__cell" in ln)
    assert f"InMemoryFileIndex({len(probed)} paths)" in scan, scan
    got = sorted(map(tuple, out.collect()))

    legacy = f"{path}_legacy"
    shutil.copytree(path, legacy)
    write_meta_sidecar(
        f"{legacy}/_ivf_meta",
        "centroids_json",
        read_meta_sidecar(f"{path}/_ivf_meta", "centroids_json"),
    )
    assert read_index_schemas(f"{legacy}/_ivf_meta") == {}
    assert sorted(map(tuple, ivf_search_index(qs, legacy, k=5, nprobe=2).collect())) == got


def test_read_meta_sidecar_skips_foreign_rows(tmp_path):
    """A foreign or torn file that sorts first, or a JSON row without
    the field, is skipped; a sidecar with no row for the field raises
    the documented FileNotFoundError."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        read_meta_sidecar,
        write_meta_sidecar,
    )

    side = str(tmp_path / "_meta")
    write_meta_sidecar(side, "params_json", {"a": 1})
    with open(os.path.join(side, "a-foreign.json"), "w") as fh:
        fh.write(json.dumps({"other": "x"}) + "\n" + json.dumps([1, 2]) + "\n")
    assert sorted(os.listdir(side))[0] == "a-foreign.json"
    assert read_meta_sidecar(side, "params_json") == {"a": 1}
    with pytest.raises(FileNotFoundError):
        read_meta_sidecar(side, "missing_json")


def _rank_lists(spark):
    a = spark.createDataFrame(
        [(0, d, r) for r, d in enumerate([1, 2, 3, 4], 1)],
        "query_id long, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [(0, d, r) for r, d in enumerate([3, 5, 1], 1)],
        "query_id long, doc_id long, rank int",
    )
    c = spark.createDataFrame(
        [(0, d, r) for r, d in enumerate([9, 8], 1)],
        "query_id long, doc_id long, rank int",
    )
    return a, b, c


def test_rrf_fuse_overlap_skips_zero_weight_lists(spark):
    from spatially_databricks_etl_spark.caching import release_intermediates
    from spatially_databricks_etl_spark.operators.retrieval import rrf_fuse

    a, b, c = _rank_lists(spark)
    want = sorted(map(tuple, rrf_fuse([a, b, c], weights=[1, 2, 0]).collect()))
    out = rrf_fuse([a, b, c], weights=[1, 2, 0], overlap=True)
    assert a.is_cached and b.is_cached
    assert not c.is_cached
    assert sorted(map(tuple, out.collect())) == want
    release_intermediates(out)
    assert not a.is_cached and not b.is_cached


def test_rrf_fuse_overlap_unpersists_when_a_count_fails(spark):
    from spatially_databricks_etl_spark.operators.retrieval import rrf_fuse

    a, b, _ = _rank_lists(spark)
    bad = b.filter(F.assert_true(F.col("rank") < 0).isNull())
    with pytest.raises(Exception, match="rank"):
        rrf_fuse([a, bad], overlap=True)
    assert not a.is_cached and not bad.is_cached
