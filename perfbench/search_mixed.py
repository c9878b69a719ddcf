"""search_mixed: interactive search over an index that changes under it.

Inputs (seeded): a clustered embedding corpus whose docs also carry
keyword text, with planted BM25 terms (each planted 3x in its target
doc and once in a few decoy docs). Set-up builds an IVF index
(``operators.similarity.ivf_build`` + ``ivf_write_index``) and a BM25
index (``operators.retrieval.bm25_write_index``). The closed loop
interleaves

- read:   single-query ``ivf_search_index``;
- lookup: single-query ``bm25_search_index``;
- bulk:   a 32-query ``ivf_search_index`` batch;
- write:  a mutation, ``ivf_append_index`` + ``ivf_delete_index``.

Every IVF query must return k ids and no deleted id, and the mean
recall@10 over all IVF queries of the run, against the exact cosine
top-10 of the vectors live at the time of each query, must reach 0.9
(the exact oracle is itself checked once against the package's
``brute_force_topk``); one vector of each mutation's appends, searched
for in the final index, must come back at rank 1 unless a later
mutation deleted it; every planted BM25 term must return its doc first.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench.harness import Bench, dir_stats, log
from perfbench.metrics import bytes_per_input_byte, median

VECTORS = 8_000
DIM = 32
CLUSTERS = 16
NPROBE = 4
K = 10
BATCH = 32
DELETE = 4
PLANTED = 400
DECOYS = 3
VOCAB = 600
# IVF is approximate: a query between clusters can have most of its
# true neighbours outside the probed cells, so recall is judged as the
# mean over every IVF query of the run (one seed had a single query at
# 0.3 in a 32-query batch whose mean was 0.975)
MIN_MEAN_RECALL = 0.9
VEC_SCHEMA = "vec_id long, embedding array<double>"


def make_corpus(seed: int, n: int) -> dict:
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, n)
    vecs = centers[label] + 0.35 * rng.normal(size=(n, DIM))
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    words = [list(vocab[rng.integers(0, VOCAB, int(rng.integers(8, 16)))]) for _ in range(n)]
    planted = {}
    for j, doc in enumerate(rng.choice(n, PLANTED, replace=False)):
        term = f"kw{j}"
        planted[term] = int(doc)
        words[doc] += [term] * 3
        for decoy in rng.choice(n, DECOYS, replace=False):
            if decoy != doc:
                words[decoy].append(term)
    return {"centers": centers, "vecs": vecs, "text": [" ".join(w) for w in words],
            "planted": planted}


def write_corpus(path: str, ids: np.ndarray, vecs: np.ndarray, texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), path)


class LiveSet:
    """The vectors the index should hold right now, for exact top-k.
    ``append`` builds new arrays and ``delete`` only flips the alive
    mask, so a ``snapshot`` (arrays plus a mask copy) stays valid while
    the set moves on."""

    def __init__(self, vecs: np.ndarray):
        self.ids = np.arange(len(vecs))
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.alive = np.ones(len(vecs), bool)

    def append(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.unit = np.vstack([self.unit, vecs / np.linalg.norm(vecs, axis=1, keepdims=True)])
        self.alive = np.concatenate([self.alive, np.ones(len(ids), bool)])

    def delete(self, ids: np.ndarray) -> None:
        self.alive &= ~np.isin(self.ids, ids)

    def snapshot(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return self.ids, self.unit, self.alive.copy()


def exact_topk(snap: tuple[np.ndarray, np.ndarray, np.ndarray], q: np.ndarray,
               k: int = K) -> set[int]:
    """Exact cosine top-k over a live-set snapshot, ties broken by id
    (as ``brute_force_topk`` does)."""
    ids, unit, alive = snap
    sims = unit[alive] @ (q / np.linalg.norm(q))
    ids = ids[alive]
    return {int(i) for i in ids[np.lexsort((ids, -sims))[:k]]}


def run(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from spatially_databricks_etl_spark.operators.retrieval import (
        bm25_search_index,
        bm25_write_index,
    )
    from spatially_databricks_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_append_index,
        ivf_build,
        ivf_delete_index,
        ivf_read_centroids,
        ivf_search_index,
        ivf_write_index,
    )
    from spatially_databricks_etl_spark.sources.files import read_parquet

    spark, tr = b.spark, b.tracer
    rng = np.random.default_rng(b.seed + 7)
    os.makedirs(b.path("in"), exist_ok=True)
    data = make_corpus(b.seed, VECTORS)
    corpus_path = b.path("in", "corpus.parquet")
    write_corpus(corpus_path, np.arange(VECTORS), data["vecs"], data["text"])
    live = LiveSet(data["vecs"])
    ivf, bm25 = b.path("ivf"), b.path("bm25")

    # build: the index state every timed op reads (traced in a traced run)
    t_build = time.perf_counter()
    tr.active = tr.enabled
    corpus = read_parquet(spark, corpus_path)

    def build_ivf() -> list[list[float]]:
        with tr.span("similarity.ivf_build"):
            c = ivf_build(corpus, n_centroids=CLUSTERS)
        with tr.span("similarity.ivf_write_index"):
            ivf_write_index(corpus, ivf, centroids=c)
        return c

    def build_bm25() -> None:
        with tr.span("retrieval.bm25_write_index"):
            bm25_write_index(corpus, bm25)

    if tr.active:  # the tracer's span stack lives on one thread
        cents = build_ivf()
        build_bm25()
    else:  # the two indexes are independent: build them side by side
        with ThreadPoolExecutor(2) as pool:
            bm25_done = pool.submit(build_bm25)
            cents = build_ivf()
            bm25_done.result()
    tr.active = False
    log(f"indexes built {time.perf_counter() - t_build:.2f}s")

    def query_vec() -> np.ndarray:
        alive_ids = live.ids[live.alive]
        i = int(np.flatnonzero(live.ids == rng.choice(alive_ids))[0])
        return live.unit[i] + 0.05 * rng.normal(size=DIM)

    deleted: set[int] = set()
    recalls: list[float] = []  # recall@10 of every timed IVF query
    next_id = [VECTORS]
    terms = sorted(data["planted"])

    def ivf_query(qs: list[np.ndarray]):
        qdf = spark.createDataFrame(
            [(i, q.tolist()) for i, q in enumerate(qs)], "query_id long, embedding array<double>")
        with tr.span("similarity.ivf_search", results=K * len(qs)):
            rows = ivf_search_index(qdf, ivf, k=K, nprobe=NPROBE, centroids=cents).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(int(r["neighbor_id"]))
        snap, gone = live.snapshot(), set(deleted)

        def check() -> bool:
            truth = [exact_topk(snap, q) for q in qs]
            recalls.extend(len(got.get(i, set()) & t) / K for i, t in enumerate(truth))
            full = all(len(got.get(i, set())) == K for i in range(len(qs)))
            leaked = any(got.get(i, set()) & gone for i in range(len(qs)))
            return full and not leaked
        return check

    def op_read():
        return ivf_query([query_vec()])

    def op_bulk():
        return ivf_query([query_vec() for _ in range(BATCH)])

    def op_lookup():
        term = terms[int(rng.integers(0, len(terms)))]
        qdf = spark.createDataFrame([(0, term)], "query_id long, query string")
        with tr.span("retrieval.bm25_search"):
            rows = bm25_search_index(qdf, bm25, k=K).collect()
        top = [int(r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])]
        return lambda: bool(top) and top[0] == data["planted"][term]

    mutation_bytes: list[float] = []
    appended: dict[int, np.ndarray] = {}  # one appended vector per mutation
    found: dict[int, int] = {}  # appended id -> rank-1 id in the final index

    def final_top1() -> dict[int, int]:
        """One batched search of the final index (after the window) for
        the appended vectors still live; cached for all mutations."""
        if not found:
            alive = set(live.ids[live.alive].tolist())
            queries = [(i, v.tolist()) for i, v in appended.items() if i in alive]
            qdf = spark.createDataFrame(queries, "query_id long, embedding array<double>")
            for r in ivf_search_index(qdf, ivf, k=1, nprobe=NPROBE, centroids=cents).collect():
                found[int(r["query_id"])] = int(r["neighbor_id"])
            found.update({i: -1 for i, _ in queries if i not in found})
        return found

    # a mutation appends one vector next to each IVF centroid, so every
    # mutation adds one file to every cell
    cell_units = np.asarray(cents) / np.linalg.norm(cents, axis=1, keepdims=True)

    def op_write():
        ids = np.arange(next_id[0], next_id[0] + CLUSTERS)
        next_id[0] += CLUSTERS
        vecs = cell_units + 0.02 * rng.normal(size=cell_units.shape)
        alive_ids = live.ids[live.alive]
        gone = rng.choice(alive_ids, DELETE, replace=False)
        new_df = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, vecs, strict=True)], VEC_SCHEMA)
        del_df = spark.createDataFrame([(int(i),) for i in gone], "vec_id long")
        before = dir_stats(ivf)[0]
        with tr.span("indexstore.mutation"):
            ivf_append_index(new_df, ivf)
            ivf_delete_index(del_df, ivf)
        live.append(ids, vecs)
        live.delete(gone)
        deleted.update(int(i) for i in gone)
        # the checked vector's cell moves round the cells mutation by mutation
        j = len(mutation_bytes) % CLUSTERS
        probe = int(ids[j])
        appended[probe] = vecs[j]
        # written bytes per byte of mutation payload (ids + float64 vectors)
        payload = 8 * (CLUSTERS * (1 + DIM) + DELETE)
        mutation_bytes.append(bytes_per_input_byte(max(0, dir_stats(ivf)[0] - before), payload))
        return lambda: probe in deleted or final_top1()[probe] == probe

    def schedule():
        # a mutation after every other search op, so a window holds
        # several and the searches after them see the files they add
        while True:
            yield "read", op_read
            yield "lookup", op_lookup
            yield "write", op_write
            yield "bulk", op_bulk
            yield "write", op_write

    def warm_up():
        # the read-only ops warm side by side to shorten set-up; the
        # mutation warms alone, so no search lists files it is writing
        with ThreadPoolExecutor(3) as pool:
            for fut in [pool.submit(op) for op in (op_read, op_lookup, op_bulk)]:
                fut.result()
        op_write()

    window = b.closed_loop(schedule, {"read", "lookup", "bulk", "write"}, warm_up)
    log(f"search_mixed window {window:.2f}s, {b.ops.attempted} ops")

    # the exact-top-k oracle must agree with the package's brute_force_topk
    probes = [query_vec() for _ in range(4)]
    live_path = b.path("in", "live.parquet")
    alive = live.alive
    write_corpus(live_path, live.ids[alive], live.unit[alive], [""] * int(alive.sum()))
    live_df = read_parquet(spark, live_path)
    qdf = spark.createDataFrame([(i, q.tolist()) for i, q in enumerate(probes)],
                                "query_id long, embedding array<double>")
    exact: dict[int, set[int]] = {}
    for r in brute_force_topk(live_df, qdf, k=K).collect():
        exact.setdefault(r["query_id"], set()).add(int(r["neighbor_id"]))
    truth = [exact_topk(live.snapshot(), q) for q in probes]
    b.checks.append(("oracle", lambda: all(exact.get(i) == t for i, t in enumerate(truth))))
    # runs after every per-op check has added its queries' recalls
    b.checks.append(("recall", lambda: sum(recalls) / len(recalls) >= MIN_MEAN_RECALL))

    metrics = {
        "bulk_items_per_s": BATCH / median(b.samples("bulk")),
        "bytes_written_per_input_byte": median(mutation_bytes) if mutation_bytes else 0.0,
    }
    if tr.enabled:
        from perfbench import corpus_curate

        metrics.update(corpus_curate.side_pass(b))
        metrics.update(_layers(b, ivf, ivf_read_centroids(spark, ivf), probes[-1]))
    return metrics


def _layers(b: Bench, ivf: str, cents: list[list[float]], q: np.ndarray) -> dict:
    tr = b.tracer
    tr.collect()
    searches = tr.named("similarity.ivf_search")
    singles = [s for s in searches if s.counts["results"] == K]
    c = np.asarray(cents)
    sims = (c / np.linalg.norm(c, axis=1, keepdims=True)) @ (q / np.linalg.norm(q))
    probed = np.argsort(-sims)[:NPROBE]
    files = [dir_stats(os.path.join(ivf, f"__cell={int(p)}"))[1] for p in probed]
    return {
        "similarity.ivf_build.s": tr.med("similarity.ivf_build", "self_s"),
        "similarity.ivf_write_index.s": tr.med("similarity.ivf_write_index", "self_s"),
        "similarity.ivf_search.jobs_per_call": median([s.counts["jobs"] for s in singles])
        if singles else 0.0,
        "similarity.ivf_search.tasks_per_call": median([s.counts["tasks"] for s in singles])
        if singles else 0.0,
        "similarity.ivf_search.driver_s": median([s.counts["driver_s"] for s in singles])
        if singles else 0.0,
        "similarity.ivf_search.rows_scanned_per_result": median(
            [s.counts["input_records"] / s.counts["results"] for s in searches])
        if searches else 0.0,
        "retrieval.bm25_write_index.s": tr.med("retrieval.bm25_write_index", "self_s"),
        "retrieval.bm25_search.jobs_per_call": tr.med("retrieval.bm25_search", "jobs"),
        "retrieval.bm25_search.driver_s": tr.med("retrieval.bm25_search", "driver_s"),
        "indexstore.mutation.s": tr.med("indexstore.mutation", "self_s"),
        "indexstore.files_per_probed_cell": float(np.mean(files)),
    }
