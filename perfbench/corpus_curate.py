"""corpus_curate: LLM training-data curation over a seeded corpus.

The corpus (seeded) holds unique filler docs with disjoint vocabularies,
planted exact duplicates, planted near-duplicates (one extra word
appended, so character 5-gram Jaccard >= 0.95 and the default
16-band x 6-row MinHash LSH misses a pair with probability < 1e-8) and
planted low-quality docs (too short and stopword-free, or
punctuation-heavy). The kept-id set is therefore known exactly: every
filler doc and nothing else. The closed loop repeats

- write:  ``operators.curate.curate_corpus`` → ``sinks.writers.write_parquet``;
- read:   a read-back aggregate over the curated output;
- lookup: a single-doc lookup in the curated output.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench.harness import Bench, dir_stats, log
from perfbench.metrics import bytes_per_input_byte, median

FILLERS = 600
EXACT_DUPS = 75
NEAR_DUPS = 75
LOW_QUALITY = 75
STOPWORDS = ("the", "and", "of", "to", "is", "in", "a")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
SHINGLE = 5
MIN_NEAR_JACCARD = 0.95


def _tag(i: int) -> str:
    """A letters-only code unique to doc ``i``; every word of that doc
    ends in it, which keeps filler vocabularies disjoint."""
    out = ""
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out += LETTERS[r]
    return out


def _filler(rng: np.random.Generator, i: int) -> str:
    tag = _tag(i)
    n = int(rng.integers(40, 80))
    words = []
    for _ in range(n):
        if rng.random() < 0.3:
            words.append(STOPWORDS[int(rng.integers(0, len(STOPWORDS)))])
        else:
            stem = "".join(LETTERS[rng.integers(0, 26, int(rng.integers(2, 6)))])
            words.append(stem + tag)
    return " ".join(words) + "."


def _low_quality(rng: np.random.Generator, i: int) -> str:
    if i % 2:
        return "".join(LETTERS[rng.integers(0, 26, 12)]) + " " + _tag(i)
    return " ".join(["!?;" * 4 + "".join(LETTERS[rng.integers(0, 26, 3)])] * 12)


def char_jaccard(a: str, b: str, n: int = SHINGLE) -> float:
    """Character n-gram Jaccard over lower-cased text — the set the
    package's MinHash shingles."""
    sa = {a.lower()[i:i + n] for i in range(len(a) - n + 1)}
    sb = {b.lower()[i:i + n] for i in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


def make_corpus(seed: int, fillers: int, exact: int, near: int, low: int
                ) -> tuple[list[tuple[int, str]], set[int]]:
    """Docs as (doc_id, text) in shuffled order, and the expected kept
    ids. Ids are assigned so that every planted copy has a larger id
    than its original: both dedup stages keep the minimum id."""
    rng = np.random.default_rng(seed)
    texts = [_filler(rng, i) for i in range(fillers)]
    docs = list(enumerate(texts))
    next_id = fillers
    for src in rng.choice(fillers, exact, replace=False):
        docs.append((next_id, texts[src]))
        next_id += 1
    for src in rng.choice(fillers, near, replace=False):
        extra = "".join(LETTERS[rng.integers(0, 26, 4)]) + _tag(next_id)
        text = texts[src] + " " + extra
        if char_jaccard(texts[src], text) < MIN_NEAR_JACCARD:
            raise AssertionError("planted near-duplicate below the Jaccard floor")
        docs.append((next_id, text))
        next_id += 1
    for _ in range(low):
        docs.append((next_id, _low_quality(rng, next_id)))
        next_id += 1
    order = rng.permutation(len(docs))
    return [docs[i] for i in order], set(range(fillers))


def write_corpus(path: str, docs: list[tuple[int, str]]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                      "text": pa.array([t for _, t in docs], pa.string())})
    pq.write_table(table, path)
    return os.path.getsize(path)


def curate_pass(b: Bench, src: str, dst: str, n_docs: int) -> None:
    """``curate_corpus`` → ``write_parquet``. While the tracer is active
    the stages of ``curate_corpus`` (as ``operators.curate`` chains them
    with its defaults) run one by one, each materialized at its boundary
    so its span's time is its own."""
    from pyspark.sql import functions as F

    from spatially_databricks_etl_spark.caching import release_intermediates
    from spatially_databricks_etl_spark.functions.text import quality_score
    from spatially_databricks_etl_spark.operators.curate import (
        connected_components,
        curate_corpus,
    )
    from spatially_databricks_etl_spark.operators.dedup import exact_dedup, minhash_near_dedup
    from spatially_databricks_etl_spark.operators.relational import ensure_parallelism
    from spatially_databricks_etl_spark.sinks.writers import write_parquet
    from spatially_databricks_etl_spark.sources.files import read_parquet

    tr = b.tracer
    docs_df = read_parquet(b.spark, src)
    if not tr.active:
        write_parquet(curate_corpus(docs_df), dst)
        return

    def cut(df):
        df = df.persist()
        df.count()
        return df

    with tr.span("curate.quality_gate") as sp:
        docs_df = ensure_parallelism(docs_df, "doc_id")
        d1 = cut(docs_df.filter(quality_score(F.col("text")) >= F.lit(0.6)))
        sp.counts.update(docs_in=n_docs, docs_out=d1.count())
    with tr.span("dedup.exact_dedup"):
        d2 = cut(exact_dedup(d1, ["text"], keep_by="doc_id"))
    with tr.span("dedup.minhash_pairs") as sp:
        pairs = cut(minhash_near_dedup(d2, text_col="text", id_col="doc_id", threshold=0.7))
        sp.counts["verified_pairs"] = pairs.count()
    with tr.span("curate.connected_components"):
        comp = cut(connected_components(pairs))
    release_intermediates(pairs)
    non_reps = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    kept = d2.join(non_reps, on="doc_id", how="left_anti")
    with tr.span("sinks.write_parquet") as sp:
        write_parquet(kept, dst)
    nbytes, nfiles = dir_stats(dst)
    sp.counts.update(bytes_written=nbytes, files_written=nfiles)
    for df in (d1, d2, pairs, comp):
        df.unpersist()


def lsh_candidates(b: Bench, corpus: str) -> int:
    """Distinct doc pairs sharing at least one LSH band among the
    exact-dedup survivors. ``minhash_near_dedup`` does not expose this
    count, so it is recomputed from the package's public MinHash pieces
    with that operator's defaults (5-char shingles, 96 hashes, 16 bands
    of 6 rows)."""
    from pyspark.sql import functions as F

    from spatially_databricks_etl_spark.functions.text import ngrams, quality_score
    from spatially_databricks_etl_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures_df,
        shingle_hashes,
    )
    from spatially_databricks_etl_spark.sources.files import read_parquet

    d1 = read_parquet(b.spark, corpus).filter(quality_score(F.col("text")) >= F.lit(0.6))
    d2 = exact_dedup(d1, ["text"], keep_by="doc_id")
    h = d2.select("doc_id", shingle_hashes(ngrams(F.col("text"), SHINGLE), seed=42,
                                          mask32=False).alias("h"))
    sig = minhash_signatures_df(h.filter(F.size("h") > 0), hash_col="h", sig_col="sig",
                                num_hashes=96, seed=42)
    bands = sig.select("doc_id", F.posexplode(F.array(*[
        F.xxhash64(F.slice("sig", 1 + 6 * i, 6)) for i in range(16)])).alias("band", "bh"))
    a, c = bands.alias("a"), bands.alias("c")
    return (a.join(c, (F.col("a.band") == F.col("c.band")) & (F.col("a.bh") == F.col("c.bh"))
                   & (F.col("a.doc_id") < F.col("c.doc_id")))
            .select("a.doc_id", "c.doc_id").distinct().count())


def layer_metrics(b: Bench, corpus: str) -> dict:
    tr = b.tracer
    tr.collect()
    candidates = lsh_candidates(b, corpus)
    gate = tr.named("curate.quality_gate")
    verified = tr.med("dedup.minhash_pairs", "verified_pairs")
    return {
        "curate.quality_gate.s": tr.med("curate.quality_gate", "self_s"),
        "curate.quality_pass_ratio": median(
            [s.counts["docs_out"] / s.counts["docs_in"] for s in gate]) if gate else 0.0,
        "curate.connected_components.s": tr.med("curate.connected_components", "self_s"),
        "curate.connected_components.jobs": tr.med("curate.connected_components", "jobs"),
        "dedup.exact_dedup.s": tr.med("dedup.exact_dedup", "self_s"),
        "dedup.minhash_pairs.s": tr.med("dedup.minhash_pairs", "self_s"),
        "dedup.lsh_candidate_pairs": float(candidates),
        "dedup.verified_pairs": verified,
        "dedup.pair_precision": verified / candidates if candidates else 0.0,
        "dedup.shuffle_bytes": tr.med("dedup.exact_dedup", "shuffle_bytes")
        + tr.med("dedup.minhash_pairs", "shuffle_bytes"),
    }


def _inputs(b: Bench) -> tuple[list[tuple[int, str]], set[int], str, int]:
    os.makedirs(b.path("in"), exist_ok=True)
    docs, expected = make_corpus(b.seed, FILLERS, EXACT_DUPS, NEAR_DUPS, LOW_QUALITY)
    corpus = b.path("in", "curate_corpus.parquet")
    return docs, expected, corpus, write_corpus(corpus, docs)


def _kept_ids(b: Bench, path: str) -> set[int]:
    from spatially_databricks_etl_spark.sources.files import read_parquet

    return {r[0] for r in read_parquet(b.spark, path, "doc_id").collect()}


def side_pass(b: Bench) -> dict:
    """One untraced ``curate_corpus`` pass, then one traced pass, outside
    any timed window, for a traced run of another workload: records the
    curation layers on warm code (and checks both passes' kept ids)
    without a curation workload of its own."""
    docs, expected, corpus, _ = _inputs(b)
    for name, traced in (("curate_warm_out", False), ("curate_side_out", True)):
        dst = b.path(name)
        b.tracer.active = traced
        curate_pass(b, corpus, dst, len(docs))
        b.tracer.active = False
        b.cached_after_op.append(b.spark.sparkContext._jsc.getPersistentRDDs().size())
        b.checks.append(("curate", lambda dst=dst: _kept_ids(b, dst) == expected))
    return layer_metrics(b, corpus)


def run(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from spatially_databricks_etl_spark.sources.files import read_parquet

    spark, tr = b.spark, b.tracer
    docs, expected, corpus, corpus_bytes = _inputs(b)
    text_of = dict(docs)
    rng = np.random.default_rng(b.seed + 2)
    lookup_ids = rng.integers(0, len(docs), 10_000)

    passes: list[str] = []
    n_lookup = iter(range(len(lookup_ids)))

    def op_write():
        dst = b.path(f"kept_{len(passes):03d}")
        curate_pass(b, corpus, dst, len(docs))
        passes.append(dst)
        return lambda: _kept_ids(b, dst) == expected

    def op_read():
        row = (read_parquet(spark, passes[-1])
               .agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()[0])
        want = (len(expected), sum(len(text_of[i]) for i in expected))
        return lambda: tuple(row) == want

    def op_lookup():
        doc_id = int(docs[int(lookup_ids[next(n_lookup)])][0])
        rows = read_parquet(spark, passes[-1]).filter(F.col("doc_id") == doc_id).collect()
        want = [(doc_id, text_of[doc_id])] if doc_id in expected else []
        return lambda: [tuple(r) for r in rows] == want

    def schedule():
        while True:
            yield "write", op_write
            yield "read", op_read
            yield "lookup", op_lookup

    window = b.closed_loop(schedule, {"write", "read", "lookup"})
    log(f"corpus_curate window {window:.2f}s, {b.ops.attempted} ops")

    metrics = {
        "bulk_items_per_s": len(docs) / median(b.samples("write")),
        "bytes_written_per_input_byte": median(
            [bytes_per_input_byte(dir_stats(p)[0], corpus_bytes) for p in passes]),
    }
    if tr.enabled:
        metrics.update(layer_metrics(b, corpus))
    return metrics
