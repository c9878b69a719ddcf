"""Similarity search over embedding columns (north-star extension).

Two tiers, as a 100 TB pipeline needs both:

- ``brute_force_topk``: exact top-k cosine. The query set is
  broadcast; the corpus is scanned ONCE with a codegen'd dot product
  and reduced via per-group top-k (window) — no corpus shuffle at
  all when k-per-query fits in a partition-local heap via
  TakeOrdered-style pruning. This is the correctness baseline.

- ``lsh_bucketed_topk`` / ``cosine_self_join_pairs``: random-
  hyperplane (sign) LSH. Vectors land in 2^planes buckets; only
  same-bucket candidates are scored. Bucket id is a plain integer
  column → the candidate join is an equi-join (sparse shuffle), the
  scale path for corpus-vs-corpus search.

Embeddings stay ``array<float>``; all arithmetic is double via
zip_with/aggregate (functions/vectors.py) — no UDF in any hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from spatially_databricks_etl_spark.functions.vectors import (
    cosine_from_norms,
    dot,
    l2_norm,
)
from spatially_databricks_etl_spark.operators.indexstore import (
    anti_tombstones,
    apply_allowed_ids,
    clear_tombstones,
    compact_partitioned_index,
    read_index_partitions,
    read_index_schemas,
    read_meta_sidecar,
    write_meta_sidecar,
    write_tombstones,
)
from spatially_databricks_etl_spark.operators.relational import (
    ensure_parallelism,
    top_k_per_group,
)

#: Default ceiling for the broadcast-sized query-batch contract every
#: ANN entry point shares. Above this, the collected/broadcast query
#: set stops being "tiny metadata" (10⁴ queries × dim 64 float64 ≈
#: 5 MB — safe; 10⁶ would be 500 MB and a driver OOM risk on the
#: collect-based paths). The guard makes the documented contract
#: ENFORCED: oversized batches fail fast with a pointer to the
#: batched/indexed alternative instead of OOMing mid-job.
ANN_MAX_QUERIES = 10_000


def _too_many_queries(op: str, max_queries: int) -> ValueError:
    return ValueError(
        f"{op}: query batch exceeds {max_queries} rows — the batch is "
        "collected/broadcast by contract. Split the queries into "
        "batches, raise max_queries explicitly, or use a persisted "
        "index path (lsh_search_index / ivf_search_index / "
        "ivfpq_search_index) with batched query sets."
    )


def check_query_batch(
    queries: DataFrame, op: str, max_queries: int | None = ANN_MAX_QUERIES
) -> None:
    """Enforce the broadcast-sized query-batch contract: raise when
    ``queries`` holds more than ``max_queries`` rows. One cheap
    ``limit(n+1).count()`` job — it never materializes more than
    ``max_queries + 1`` rows regardless of the input size. Pass
    ``max_queries=None`` to opt out (e.g. when the caller has already
    counted the batch). Searchers that need the batch on the driver
    anyway use :func:`collect_query_batch` instead."""
    if max_queries is None:
        return
    n = queries.limit(max_queries + 1).count()
    if n > max_queries:
        raise _too_many_queries(op, max_queries)


def collect_query_batch(
    queries: DataFrame,
    op: str,
    cols: list[Column],
    max_queries: int | None = ANN_MAX_QUERIES,
):
    """The query batch's ``cols`` on the driver as a ``pyarrow.Table``,
    in ONE bounded collect — the same contract as
    :func:`check_query_batch` (same ``ValueError`` above
    ``max_queries``; ``None`` opts out and collects everything) for
    the persisted-index searchers, which route on the driver and so
    need the rows anyway: one job replaces the count job AND the
    probe-key collect. Arrow, not ``Row`` objects:
    ``limit(n).toArrow()`` is one job (a ``limit(n).collect()`` scans
    one partition first and then schedules a second job for the rest),
    and frames the caller builds from the table with
    ``spark.createDataFrame(table, schema)`` keep the exact column
    types and are a ``LocalRelation`` of in-memory rows — projections
    over it are evaluated while planning, and broadcasting it is one
    small job (a frame created from Python rows is a parallelized RDD
    of pickled rows, measured about twice as slow to broadcast).
    Returns (table, Spark schema of ``cols``)."""
    sel = queries.select(*cols)
    tbl = (sel if max_queries is None else sel.limit(max_queries + 1)).toArrow()
    if max_queries is not None and tbl.num_rows > max_queries:
        raise _too_many_queries(op, max_queries)
    return tbl, sel.schema


def _sequential_dots(vecs: list, mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``dot(v, m_j)`` for every collected vector ``v`` and every row
    ``m_j`` of ``mat``, with the SAME bits as the Spark
    :func:`~spatially_databricks_etl_spark.functions.vectors.dot`:
    float64 products ``v[i]·m_j[i]`` summed strictly left to right from
    0.0 (one vectorized add per element index — never BLAS ``@``,
    whose blocked/FMA summation order rounds differently). Returns
    (dots (n, rows(mat)), null mask (n,)): a vector that is null, has
    a null element, or has a different length than ``mat``'s rows
    gives a null dot in Spark, flagged here."""
    n_rows, dim = mat.shape
    null = np.array(
        [v is None or len(v) != dim or any(x is None for x in v) for v in vecs], bool
    )
    q = np.zeros((len(vecs), dim))
    for i, v in enumerate(vecs):
        if not null[i]:
            q[i] = np.asarray(v, dtype=np.float64)
    acc = np.zeros((len(vecs), n_rows))
    for i in range(dim):
        acc = acc + q[:, i : i + 1] * mat[None, :, i]
    return acc, null


def route_cells(
    qvecs: list, centroids: list[list[float]], nprobe: int
) -> list[list[int]]:
    """Driver-side IVF routing: the ``nprobe`` probed cells of each
    query vector — bit-for-bit the cells Spark's :func:`_probe_cells`
    picks. Similarities are the same float64 values the Spark
    expression computes (:func:`_sequential_dots` against the
    centroids pre-scaled by the same ``1/|c_j|`` doubles as
    :func:`_scaled_centroid_lit`), and the order is the same
    ``array_sort`` → ``reverse`` order: descending by (sim, cell), so
    exact ties go to the HIGHER cell id, NaN sorts above every number
    and a null similarity (null/ragged query vector) below. Shared by
    the IVF and IVF-PQ searchers; O(queries·cells·dim) driver work on
    a batch that is collected anyway, and no centroid literal is ever
    built on the search path."""
    if nprobe < 0:
        raise ValueError(f"nprobe must be >= 0, got {nprobe}")
    if not centroids:
        return [[] for _ in qvecs]
    cents = np.asarray(centroids, dtype=np.float64)
    scaled = cents * np.asarray(_inv_norms(centroids))[:, None]
    sims, null = _sequential_dots(qvecs, scaled)
    cls = np.where(np.isnan(sims), 2, 1)
    cls[null] = 0
    val = np.where(cls == 1, sims, 0.0)
    cell = np.broadcast_to(np.arange(len(centroids)), sims.shape)
    order = np.lexsort((cell, val, cls), axis=-1)[:, ::-1][:, :nprobe]
    return [[int(c) for c in row] for row in order]


def _probe_frame(
    spark,
    tbl,
    schema: StructType,
    probe_sets: list[list[int]],
    key: str,
    key_type=None,
) -> DataFrame:
    """(query cols…, ``key``, __qnorm): one row per (query, probed
    partition), built on the driver from the collected query table —
    no query plan is re-run, the frame is a local relation (see
    :func:`collect_query_batch`), and the query norm is computed once
    per probe row, not once per scored pair."""
    import pyarrow as pa

    key_type = key_type or IntegerType()
    take = [i for i, ps in enumerate(probe_sets) for _ in ps]
    keys = [int(p) for ps in probe_sets for p in ps]
    arrow_type = pa.int64() if isinstance(key_type, LongType) else pa.int32()
    probes = tbl.take(pa.array(take, pa.int64())).append_column(
        key, pa.array(keys, arrow_type)
    )
    st = StructType(schema.fields + [StructField(key, key_type)])
    return spark.createDataFrame(probes, st).withColumn("__qnorm", l2_norm("__qvec"))


def _score_index_topk(
    corpus: DataFrame, probes: DataFrame, key: str, k: int
) -> DataFrame:
    """Exact cosine + per-query top-k of a pruned index read against
    driver-built probe rows (broadcast, joined on the partition
    column). The corpus norm is computed once per corpus row before
    the join."""
    scored = (
        corpus.withColumn("__cnorm", l2_norm("embedding"))
        .join(F.broadcast(probes), on=key)
        .withColumn(
            "cosine_sim", cosine_from_norms("__qvec", "embedding", "__qnorm", "__cnorm")
        )
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id")], k, rank_col="rank"
    )
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine_sim", "rank"
    )


def _data_schemas(assigned: DataFrame, partition_col: str) -> dict:
    """``{"data": schema}`` of a partitioned index write — every column
    but the partition column, which partition discovery re-derives."""
    return {
        "data": StructType(
            [f for f in assigned.schema.fields if f.name != partition_col]
        )
    }


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (it is broadcast — enforced by
    ``check_query_batch``, default ceiling 10⁴); the corpus scan is a
    single pass. Ties break on neighbor id for determinism.
    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    check_query_batch(queries, "brute_force_topk", max_queries)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qnorm", l2_norm("__qvec"))
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
    ).withColumn("__cnorm", l2_norm("__cvec"))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine_sim", cosine_from_norms("__qvec", "__cvec", "__qnorm", "__cnorm")
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def _hyperplanes(dim: int, planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim)


def _lsh_dots(vec_col: Column | str, planes: np.ndarray) -> list[Column]:
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return [
        dot(v, F.array(*[F.lit(float(x)) for x in plane])) for plane in planes
    ]


def _bucket_from_dots(dots: list[Column]) -> Column:
    bucket = F.lit(0).cast("long")
    for i, d in enumerate(dots):
        bit = F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_bucket(vec_col: Column | str, planes: np.ndarray) -> Column:
    """Random-hyperplane bucket id: bit i = sign(v · plane_i). The
    planes ship as literal arrays (tiny) so the whole expression is
    codegen'd — no UDF, no broadcast variable needed."""
    return _bucket_from_dots(_lsh_dots(vec_col, planes))


def lsh_probe_buckets(
    vec_col: Column | str, planes: np.ndarray, *, multiprobe: int = 0
) -> Column:
    """Array of buckets to probe for a QUERY vector: its own bucket
    plus the ``multiprobe`` buckets across the nearest hyperplanes
    (smallest |v·plane| margins — the standard multi-probe LSH trick:
    a vector near a hyperplane has its true neighbors split across
    that bit, so flipping the lowest-margin bits recovers them without
    adding tables or reducing planes). Pure array expressions: margins
    sort ascending, the flip mask comes from a literal power table
    (shift amounts can't be columns)."""
    n = len(planes)
    if not 0 <= multiprobe <= n:
        raise ValueError(f"multiprobe must be in [0, planes={n}]")
    dots = _lsh_dots(vec_col, planes)
    base = _bucket_from_dots(dots)
    if multiprobe == 0:
        return F.array(base)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(d).alias("m"), F.lit(j).alias("j"))
                for j, d in enumerate(dots)
            ]
        )
    )
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(n)])
    flips = F.transform(
        F.slice(margins, 1, multiprobe),
        lambda s: base.bitwiseXOR(F.get(powers, s.getField("j"))),
    )
    return F.concat(F.array(base), flips)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    multiprobe: int = 0,
    hyperplanes: np.ndarray | list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket candidates.

    The candidate join is an equi-join on the integer bucket id, so
    the corpus shuffles once by bucket (or not at all if the bucketed
    corpus is pre-materialized — see :func:`lsh_write_index`).
    ``multiprobe=m`` additionally probes, per query, the m buckets
    across its lowest-margin hyperplanes (see
    :func:`lsh_probe_buckets`) — recall rises at the cost of scoring
    ~(1+m)/2^planes of the corpus per query instead of ~1/2^planes;
    no duplicate candidates arise because each corpus vector lives in
    exactly one bucket. 8 planes ≈ 256 buckets is a reasonable sf0.1
    default.

    ``hyperplanes`` overrides the seeded Gaussian planes with an
    explicit (planes, dim) matrix — the same pinned-quantizer hook as
    ``ivf_topk(centroids=...)``; the graded ``ann_lsh_recall`` query
    passes basis vectors so an external engine can replay the sign
    projections and margins exactly.
    """
    check_query_batch(queries, "lsh_bucketed_topk", max_queries)
    hp = (
        np.asarray(hyperplanes, dtype=np.float64)
        if hyperplanes is not None
        else _hyperplanes(dim, planes, seed)
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    c = c.withColumn("__bucket", lsh_bucket("__cvec", hp)).withColumn(
        "__cnorm", l2_norm("__cvec")
    )
    q = q.withColumn(
        "__bucket",
        F.explode(lsh_probe_buckets("__qvec", hp, multiprobe=multiprobe)),
    ).withColumn("__qnorm", l2_norm("__qvec"))
    scored = c.join(F.broadcast(q), on="__bucket").withColumn(
        "cosine_sim", cosine_from_norms("__qvec", "__cvec", "__qnorm", "__cnorm")
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k, rank_col="rank"
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def lsh_write_index(
    corpus: DataFrame,
    path: str,
    *,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH index: the bucket-assigned corpus written
    as parquet PARTITIONED BY bucket id, plus the (planes, dim, seed)
    parameters as a ``_lsh_meta`` sidecar — the hyperplanes themselves
    re-derive deterministically from the seed. Ingest-time half of the
    repeated-query path: bucketing (one corpus pass) happens at write;
    searches read only the probed bucket directories."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators (marks
    # live in the sibling {root}.__index_version dir — the root
    # overwrite below cannot wipe them)
    hp = _hyperplanes(dim, planes, seed)
    bucketed = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("__bucket", lsh_bucket("embedding", hp))
    # repartition by the partition column before the partitioned write
    # (guide §6): one writer-task run per directory instead of a
    # tasks×dirs small-file storm; AQE coalesces the exchange output
    bucketed.repartition("__bucket").write.mode("overwrite").partitionBy(
        "__bucket"
    ).parquet(path)
    write_meta_sidecar(
        f"{path}/_lsh_meta",
        "lsh_params_json",
        {"planes": planes, "dim": dim, "seed": seed},
        schemas=_data_schemas(bucketed, "__bucket"),
    )


def lsh_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted LSH index (see
    :func:`lsh_write_index`): the batch buckets with the sidecar's
    (planes, dim, seed) — hyperplanes re-derive deterministically, and
    bucket assignment is per-vector, so append ≡ rebuild exactly — and
    lands as additional files inside the existing ``__bucket=N``
    partition directories; the standing corpus is never re-bucketed.
    Caller contract: batch ids are new. Unlike the learned IVF/PQ
    models, random hyperplanes never go stale under distribution
    drift — only bucket-size SKEW can grow; monitor it and re-seed +
    rewrite if a mega-bucket forms (the same hazard note as
    :func:`lsh_bucketed_topk`)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    bucketed = _lsh_assigned(
        new_vecs.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        path,
    )
    commit_index_mutation(path, ver)  # claim before the visible append
    bucketed.repartition("__bucket").write.mode("append").partitionBy(
        "__bucket"
    ).parquet(path)


def lsh_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted LSH index (see :func:`lsh_write_index`):
    the query batch is collected once (bounded, see
    :func:`collect_query_batch`) and bucketed on the driver with the
    sidecar's hyperplanes (:func:`_route_buckets` — the same bits as
    :func:`lsh_bucket`); only the probed bucket directories are listed
    and read (a STATIC partition filter, with the recorded schema),
    and scoring broadcast-joins the driver-built probe rows on the
    partition column. Identical results to :func:`lsh_bucketed_topk`
    over the same corpus and parameters (pinned by test)."""
    tbl, qschema = collect_query_batch(
        queries,
        "lsh_search_index",
        [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")],
        max_queries,
    )
    spark = queries.sparkSession
    meta = read_meta_sidecar(f"{path}/_lsh_meta", "lsh_params_json")
    hp = _hyperplanes(meta["dim"], meta["planes"], meta["seed"])
    probe_sets = [[b] for b in _route_buckets(tbl.column("__qvec").to_pylist(), hp)]
    buckets = sorted({b for (b,) in probe_sets})
    schema = read_index_schemas(f"{path}/_lsh_meta").get("data")
    corpus = apply_allowed_ids(
        anti_tombstones(
            read_index_partitions(spark, path, "__bucket", buckets, schema), path, "vec_id"
        ),
        allowed_ids,
        "vec_id",
    )
    # bucket ids are long, like lsh_bucket's (planes may exceed 31)
    probes = _probe_frame(spark, tbl, qschema, probe_sets, "__bucket", LongType())
    return _score_index_topk(corpus, probes, "__bucket", k)


def _route_buckets(qvecs: list, planes: np.ndarray) -> list[int]:
    """Driver-side :func:`lsh_bucket`: bit i set iff
    ``dot(v, plane_i) >= 0`` under Spark's comparison semantics — the
    dot products bit-identical (:func:`_sequential_dots`), NaN counting
    as greater than 0, a null dot (null/ragged vector) leaving the bit
    clear."""
    dots, null = _sequential_dots(qvecs, np.asarray(planes, dtype=np.float64))
    bits = (dots >= 0) | np.isnan(dots)
    bits[null] = False
    return [int(sum(1 << i for i in np.flatnonzero(row))) for row in bits]


def cosine_self_join_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, candidates
    from LSH bucket equality (corpus-vs-corpus without the quadratic
    cross join). Returns (id_a, id_b, cosine_sim), id_a < id_b."""
    hp = _hyperplanes(dim, planes, seed)
    base = ensure_parallelism(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")), "__id"
    )
    bucketed = base.withColumn("__bucket", lsh_bucket("__vec", hp)).withColumn(
        "__norm", l2_norm("__vec")
    )
    left = bucketed.select(
        F.col("__id").alias("id_a"),
        F.col("__vec").alias("__va"),
        F.col("__norm").alias("__na"),
        "__bucket",
    )
    right = bucketed.select(
        F.col("__id").alias("id_b"),
        F.col("__vec").alias("__vb"),
        F.col("__norm").alias("__nb"),
        "__bucket",
    )
    return (
        left.join(right, on="__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine_from_norms("__va", "__vb", "__na", "__nb"))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .dropDuplicates(["id_a", "id_b"])
    )


def _inv_norms(raw_cents: list[list[float]]) -> list[float]:
    """``1/|c_j|`` per centroid (1.0 for a zero centroid) — the one
    definition the Spark literal and the driver router both scale by."""
    return [1.0 / (float(np.linalg.norm(c)) or 1.0) for c in raw_cents]


def _scaled_centroid_lit(raw_cents: list[list[float]]) -> Column:
    """Centroids (pre-scaled by 1/|c_j|) as ONE nested literal array —
    an indexed transform over it keeps the expression tree O(1) in
    n_centroids (vs n_centroids separate dot expressions — compile
    time grows with tree size). Assignment-side only: searches route
    on the driver (:func:`route_cells`) and never build it."""
    inv = _inv_norms(raw_cents)
    return F.array(
        *[F.array(*[F.lit(x * inv[j]) for x in c]) for j, c in enumerate(raw_cents)]
    )


def _cell_sims(cents_lit: Column):
    def cell_sims(vec: Column) -> Column:
        # |v| is constant across centroids, so argmax over
        # dot(v, c_j)/|c_j| == argmax over cosine — skip |v|.
        return F.transform(
            cents_lit,
            lambda c, j: F.struct(dot(vec, c).alias("sim"), j.alias("cell")),
        )

    return cell_sims


def ivf_build(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    kmeans_iters: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """IVF index BUILD: train the coarse quantizer once, return its
    centroids (a driver-side list — O(centroids·dim), independent of
    corpus size) for any number of :func:`ivf_topk` calls.

    Centroid training is index-build work, not query work: every
    Lloyd iteration is a full corpus pass, so re-deriving centroids
    inside each query call would add an extra 100 TB scan per batch.
    Build once (at ingest / index refresh), search many.

    Quantizer: ``n_centroids`` corpus vectors chosen by hashed id
    (deterministic, seed-stable), refined with ``kmeans_iters`` Lloyd
    iterations: assign every vector to its nearest centroid (codegen'd
    argmax — the same expression the search pass uses), recompute each
    centroid as its cell's mean via ONE hash-aggregate with ``dim``
    per-element ``sum(F.get(vec, i))`` columns — map-side partials
    combine, the shuffle carries only (cell, dim sums, count) rows,
    and the collect stays O(centroids·dim), not O(data). Lloyd
    tightens cells toward actual density, which raises recall at fixed
    nprobe vs raw sampled centroids. Empty cells keep their previous
    centroid."""
    sample = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__v"))
        .orderBy(F.xxhash64(F.col("__cid").cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r["__v"]] for r in sample]
    if not cents:
        raise ValueError("ivf_build: empty corpus — no centroids to sample")
    dim = len(cents[0])

    vecs = corpus.select(F.col(vec_col).alias("__v"))
    for _ in range(max(0, kmeans_iters)):
        cell_sims = _cell_sims(_scaled_centroid_lit(cents))
        assigned_i = vecs.withColumn(
            "__cell", F.array_max(cell_sims(F.col("__v"))).getField("cell")
        )
        stats = assigned_i.groupBy("__cell").agg(
            F.count("*").alias("__n"),
            *[F.sum(F.get("__v", i)).alias(f"__s{i}") for i in range(dim)],
        ).collect()
        for r in stats:
            j, n = r["__cell"], r["__n"]
            if n > 0:
                cents[j] = [float(r[f"__s{i}"]) / n for i in range(dim)]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    kmeans_iters: int = 0,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k SEARCH: partition the
    corpus by nearest coarse centroid, probe only the ``nprobe``
    centroids closest to each query.

    Pass ``centroids`` from :func:`ivf_build` to search a prebuilt
    index (the scale path — build once, search many). Without it, a
    quantizer is built inline with ``kmeans_iters`` Lloyd passes
    (default 0: sampled centroids only, so the one-shot path costs a
    single corpus scan; refinement is opt-in because every Lloyd
    iteration adds a full corpus pass).

    Plan shape at scale: one narrow corpus pass assigns each vector to
    its cell (argmax over ``n_centroids`` codegen'd dot products — no
    UDF, no shuffle); queries explode to ``nprobe`` (query, cell) rows
    and BROADCAST into an equi-join on cell id, so the corpus never
    shuffles; exact cosine + windowed top-k inside the probed cells
    only. Expected work vs brute force: ``nprobe/n_centroids`` of the
    corpus scored per query. Recall is approximate — unit tests check
    recall@k against ``brute_force_topk``; no SQL oracle.

    Pre-materialize the assigned corpus (partitioned by ``__cell``) at
    ingest for repeated querying: probes then become partition-pruned
    scans.
    """
    check_query_batch(queries, "ivf_topk", max_queries)
    cents = centroids if centroids is not None else ivf_build(
        corpus,
        n_centroids=n_centroids,
        kmeans_iters=kmeans_iters,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    if not cents:
        raise ValueError("ivf_topk: empty centroid list")
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))

    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
    )
    assigned = c.withColumn(
        "__cell", F.array_max(cell_sims(F.col("__cvec"))).getField("cell")
    ).withColumn("__cnorm", l2_norm("__cvec"))

    probes = _probe_cells(queries, cell_sims, nprobe, query_id_col, vec_col).withColumn(
        "__qnorm", l2_norm("__qvec")
    )

    scored = assigned.join(F.broadcast(probes), on="__cell").withColumn(
        "cosine_sim", cosine_from_norms("__qvec", "__cvec", "__qnorm", "__cnorm")
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k, rank_col="rank"
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def _probe_cells(
    queries: DataFrame, cell_sims, nprobe: int, query_id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, __qvec, __cell) — one row per probed cell, the
    ``nprobe`` nearest centroids per query."""
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    return q.withColumn(
        "__cell",
        F.explode(
            F.transform(
                F.slice(F.reverse(F.array_sort(cell_sims(F.col("__qvec")))), 1, nprobe),
                lambda s: s.getField("cell"),
            )
        ),
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    *,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the cell-assigned corpus written as
    parquet PARTITIONED BY cell, plus the trained centroids as a
    ``_ivf_meta`` sidecar (underscore-prefixed, so dataset listings
    ignore it). This is the ingest-time half of the 100 TB search
    story: assignment (the only full-corpus pass) happens once at
    write; every later search probes ``nprobe`` cells as
    partition-PRUNED scans — the corpus is never re-scanned, never
    shuffled, and unprobed cells are never even listed."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators (marks
    # live in the sibling {root}.__index_version dir — the root
    # overwrite below cannot wipe them)
    cell_sims = _cell_sims(_scaled_centroid_lit(centroids))
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell"))
    # guide §6: cluster rows by their target directory before the write
    assigned.repartition("__cell").write.mode("overwrite").partitionBy(
        "__cell"
    ).parquet(path)
    write_meta_sidecar(
        f"{path}/_ivf_meta",
        "centroids_json",
        centroids,
        schemas=_data_schemas(assigned, "__cell"),
    )


def ivf_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted IVF index (see
    :func:`ivf_write_index`) — the vector-side incremental-ingest
    contract matching the MinHash and BM25 index appenders: only the
    BATCH is assigned (cell assignment is per-vector and uses the
    index's own pinned centroids from the sidecar, so append ≡ rebuild
    exactly), and its rows land as additional files inside the
    existing ``__cell=N`` partition directories — the standing corpus
    is never re-read, never rewritten, and searches keep the same
    partition-pruned plan. Caller contract: batch ids are new.

    Drift note (the honest quantizer trade): appended vectors are
    quantized by the ORIGINAL centroids. If the ingest distribution
    drifts far from the training sample, cells skew and recall at
    fixed nprobe degrades — monitor cell-size skew (e.g. the drift
    monitors over the ``__cell`` column) and retrain + rewrite via
    :func:`ivf_build` + :func:`ivf_write_index` when it matters,
    exactly as FAISS re-trains an IVF list structure."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    assigned = _ivf_assigned(
        new_vecs.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        path,
    )
    commit_index_mutation(path, ver)  # claim before the visible append
    assigned.repartition("__cell").write.mode("append").partitionBy(
        "__cell"
    ).parquet(path)


def ivf_read_centroids(spark, path: str) -> list[list[float]]:
    """Load the centroids sidecar written by :func:`ivf_write_index`
    (driver-side file read — ~100 bytes of parameters never justify a
    Spark scan job; see :func:`indexstore.read_meta_sidecar`)."""
    return read_meta_sidecar(f"{path}/_ivf_meta", "centroids_json")


def ivf_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted IVF index (see :func:`ivf_write_index`).

    Per call, the index reaches the driver ONCE before the final
    query: one bounded collect of the query batch
    (:func:`collect_query_batch` — it also enforces ``max_queries``).
    Cell routing then runs on the driver (:func:`route_cells`, the same
    probed cells as :func:`_probe_cells` bit for bit), and the probed
    cell set becomes the read itself: only the probed ``__cell=N``
    directories are listed and read — unprobed cells are never even
    listed — with the data schema recorded in the ``_ivf_meta``
    sidecar, so no schema-inference job runs (indexes written before
    the schema was recorded still infer it). The ``__cell IN (…)``
    filter stays on the scan (the plan shows non-empty
    ``PartitionFilters``). Tombstones read with a known schema, and
    the probe rows (one per query and probed cell, built on the driver
    with each query's norm) broadcast-join on the partition column;
    the corpus norm is computed once per row. Job budget of a warm
    call: the bounded collect (one job), the tombstone broadcast (only
    when tombstones exist), the probe broadcast and the scoring query
    (scan + top-k shuffle: two jobs under AQE) — five, pinned at ≤ 6
    by test.

    Result is identical to :func:`ivf_topk` over the same corpus and
    centroids (pinned by test). The driver-side work is
    O(queries·cells·dim) on a batch that is broadcast anyway, so
    driver-side routing adds no new scale constraint."""
    tbl, qschema = collect_query_batch(
        queries,
        "ivf_search_index",
        [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")],
        max_queries,
    )
    spark = queries.sparkSession
    cents = centroids if centroids is not None else ivf_read_centroids(spark, path)
    probe_sets = route_cells(tbl.column("__qvec").to_pylist(), cents, nprobe)
    cells = sorted({c for cs in probe_sets for c in cs})
    schema = read_index_schemas(f"{path}/_ivf_meta").get("data")
    corpus = apply_allowed_ids(
        anti_tombstones(
            read_index_partitions(spark, path, "__cell", cells, schema), path, "vec_id"
        ),
        allowed_ids,
        "vec_id",
    )
    probes = _probe_frame(spark, tbl, qschema, probe_sets, "__cell")
    return _score_index_topk(corpus, probes, "__cell", k)


def fuzzy_join(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    corpus_col: str,
    probe_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """EXACT bounded-edit-distance join: every (probe, corpus) pair
    with ``levenshtein <= max_distance``. No reference analog - its
    only string normalization is a regex strip, `Spatially ETL
    test.py:156-157`.

    Blocking is PassJoin-style segment partitioning (Li, Deng, Feng,
    "PASS-JOIN: a partition-based method for similarity joins",
    VLDB 2011 - public algorithm, reimplemented on DataFrames): each
    corpus string of length L splits into k+1 contiguous segments; by
    pigeonhole, any string within edit distance k contains at least
    one segment EXACTLY, shifted by at most k. The probe side emits,
    for each candidate length L in [len-k, len+k] and each segment
    index, the substrings at the <= 2k+1 allowed shifts. The candidate
    step is therefore a hash EQUI-join on (L, segment_idx, segment) -
    never a cross/theta join, and orders of magnitude more selective
    than length-only banding (segments are exact-match keys).
    ``levenshtein <= k`` then verifies only the surviving pairs, whose
    multiplicity is first collapsed with a distinct on the pair key.
    Lossless by the pigeonhole argument, so the result is exact.

    At 100 TB both sides scan once, the shuffle carries only
    (key, short segment) rows, and the per-key candidate lists stay
    small even on skewed length distributions - the segment content,
    not the length, does the discriminating.
    """
    k = max_distance
    seg_idx = F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i")

    def seg_bounds(lc, i):
        # equal split of lc into k+1 parts: first (lc % (k+1)) parts
        # get the extra char; returns (start(1-based), seg_len)
        base, extra = lc / (k + 1), lc % (k + 1)
        base = F.floor(base)
        seg_len = base + F.when(i < extra, 1).otherwise(0)
        start = 1 + i * base + F.least(i, extra)
        return start, seg_len

    c = corpus.withColumn("__lc", F.length(corpus_col)).select(
        "*", seg_idx
    )
    c_start, c_len = seg_bounds(F.col("__lc"), F.col("__i"))
    c = c.withColumn("__start", c_start).withColumn("__slen", c_len)
    c = c.withColumn(
        "__seg", F.substring(F.col(corpus_col), F.col("__start"), F.col("__slen"))
    ).drop("__start")

    p = probe.withColumn("__lp", F.length(probe_col)).withColumn(
        "__lc",
        F.explode(
            F.sequence(
                F.greatest(F.col("__lp") - k, F.lit(0)), F.col("__lp") + k
            )
        ),
    ).select("*", seg_idx)
    p_start, p_len = seg_bounds(F.col("__lc"), F.col("__i"))
    p = (
        p.withColumn("__pstart", p_start)
        .withColumn("__slen", p_len)
        .withColumn(
            "__shift",
            F.explode(F.sequence(F.lit(-k), F.lit(k))),
        )
        .withColumn("__start", F.col("__pstart") + F.col("__shift"))
        # valid substring windows only: 1 <= start <= lp - slen + 1
        .filter(
            (F.col("__start") >= 1)
            & (F.col("__start") <= F.col("__lp") - F.col("__slen") + 1)
        )
        .withColumn(
            "__seg", F.substring(F.col(probe_col), F.col("__start"), F.col("__slen"))
        )
        .drop("__pstart", "__shift", "__start")
    )
    cand = (
        p.join(c, on=["__lc", "__i", "__slen", "__seg"])
        .drop("__lc", "__i", "__slen", "__seg", "__lp")
        .dropDuplicates()
    )
    return cand.withColumn(
        "distance", F.levenshtein(probe_col, corpus_col)
    ).filter(F.col("distance") <= k)


def semantic_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs: exact pairwise cosine
    WITHIN each pre-assigned cluster, keeping pairs above
    ``threshold``. Returns (cluster, keep_id, drop_id, cos_sim) with
    keep_id < drop_id — the deterministic survivor rule downstream
    :func:`semantic_dedup` applies.

    Follows Abbas et al., "SemDeDup" (arXiv:2303.09540): cluster the
    embedding space first (k-means — ``ivf_build`` here — or any
    upstream partitioner), then dedup only within clusters, because
    cross-cluster pairs are far by construction. The quadratic step is
    per-cluster, so cost is Σ|c|² — bounded by keeping clusters small
    (at 100 TB raise k so N/k stays ~10⁴⁻⁵; the paper runs 50k
    clusters over LAION). The join is a plain equi-join on the
    cluster id — one shuffle of (id, cluster, vector), no cartesian.
    A pathologically hot cluster is the same skew class as any hot
    join key: AQE skew splitting applies; sub-blocking a hot cluster
    with ``lsh_bucket`` composes if needed.
    """
    from spatially_databricks_etl_spark.functions.vectors import normalize

    # Unit-normalize ONCE per vector (N rows) so each of the O(Σ|c|²)
    # pairs costs a single dot product instead of dot + two norms —
    # a measured ~3x cut on the pair stage, and the standard reason to
    # store normalized embeddings at ingest.
    norm = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__id"),
        normalize(F.col(vec_col)).alias("__nv"),
    )
    a = norm.select(
        F.col("__c"), F.col("__id").alias("keep_id"), F.col("__nv").alias("__va")
    )
    b = norm.select(
        F.col("__c"), F.col("__id").alias("drop_id"), F.col("__nv").alias("__vb")
    )
    pairs = a.join(b, on="__c").filter(F.col("keep_id") < F.col("drop_id"))
    scored = pairs.withColumn("cos_sim", dot("__va", "__vb"))
    return scored.filter(F.col("cos_sim") > threshold).select(
        F.col("__c").alias(cluster_col), "keep_id", "drop_id", "cos_sim"
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Rows that SURVIVE semantic dedup: a row is dropped when some
    lower-id row in its cluster is more similar than ``threshold``
    (drop the higher id of every near-duplicate pair). Anti-join of
    the input against the distinct drop side of
    :func:`semantic_dedup_pairs` — survivors keep all their columns.

    Note the one-hop rule is applied to RAW pairs (as in SemDeDup): in
    a chain a~b~c with cos(a,c) ≤ t, both b and c are dropped because
    each has a lower-id near-duplicate, even though c's witness b is
    itself dropped. That makes the kept set order-independent and
    cheap (no iterative closure); use ``connected_components``
    (operators/curate.py) when cluster-transitive semantics are
    wanted.
    """
    pairs = semantic_dedup_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        cluster_col=cluster_col,
        threshold=threshold,
    )
    drops = pairs.select(F.col("drop_id").alias(id_col)).distinct()
    return df.join(drops, on=id_col, how="left_anti")


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    *,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the composed IVF-PQ index (the FAISS ``IVFx,PQy``
    shape): every vector is coarse-assigned to its IVF cell AND
    PQ-encoded, written as parquet partitioned by cell with both
    models as a ``_ivfpq_meta`` sidecar. The table stores
    (vec_id, pq_code, embedding): a search reads the PROBED cells
    only (partition pruning) and, within them, the ADC pass reads the
    code COLUMN only (parquet column pruning) — the full vectors are
    touched just for the shortlist rerank. Both prunings are free
    consequences of the layout; neither needs runtime machinery.

    At 100 TB this is the deployment shape: assignment + encoding
    (the only full-corpus passes) happen once at ingest; a query
    reads nprobe/n_cells of the corpus as m-byte codes, ~a 10⁴×
    scan reduction for nprobe=4/256 cells and 16-byte codes vs
    256-byte float vectors.
    """
    from spatially_databricks_etl_spark.operators.embeddings import pq_encode

    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators (marks
    # live in the sibling {root}.__index_version dir — the root
    # overwrite below cannot wipe them)
    cell_sims = _cell_sims(_scaled_centroid_lit(centroids))
    assigned = pq_encode(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        codebooks,
        vec_col="embedding",
        out_col="pq_code",
    ).withColumn("__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell"))
    # guide §6: cluster rows by their target directory before the write
    assigned.repartition("__cell").write.mode("overwrite").partitionBy(
        "__cell"
    ).parquet(path)
    write_meta_sidecar(
        f"{path}/_ivfpq_meta",
        "ivfpq_json",
        {"centroids": centroids, "codebooks": codebooks},
        schemas=_data_schemas(assigned, "__cell"),
    )


def ivfpq_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted IVF-PQ index (see
    :func:`ivfpq_write_index`): the batch is coarse-assigned AND
    PQ-encoded with the index's own pinned models (sidecar), then
    appended into the existing cell partition directories — per-vector
    deterministic, so append ≡ rebuild exactly under fixed models.
    Same caller contract and quantizer-drift note as
    :func:`ivf_append_index` (stale codebooks additionally inflate ADC
    error for drifted batches; retrain + rewrite when cell-size or
    residual drift says so)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    assigned = _ivfpq_assigned(
        new_vecs.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        path,
    )
    commit_index_mutation(path, ver)  # claim before the visible append
    assigned.repartition("__cell").write.mode("append").partitionBy(
        "__cell"
    ).parquet(path)


def ivfpq_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted IVF-PQ index: probe the ``nprobe`` nearest
    cells per query (routed on the driver by :func:`route_cells`, the
    same routing as :func:`ivf_search_index`, from ONE bounded collect
    of the query batch; only the probed cell directories are listed
    and read, with the recorded schema), run the PQ
    asymmetric-distance pass over the probed cells' code column, keep
    a per-query ``shortlist`` (default 4·k), and exact-cosine rerank
    only the shortlist against the stored vectors. Returns (query_id, neighbor_id, cosine_sim,
    rank), ties on neighbor id — the same contract as every other
    ANN entry point.

    The ADC kernel pre-reduces each Arrow batch to its per-query
    local shortlist (numpy argpartition + exact (dist, id) sort of
    the partitioned slice), so the frame that reaches the global
    shortlist window is O(shortlist · n_batches) rows per query, not
    the probed-cell row count — the window shuffle never carries a
    corpus-sized frame. The global top-``shortlist`` under the total
    order (adc_dist, vec_id) is a subset of the union of per-batch
    top-``shortlist``s, so the result is bit-identical to the
    unreduced form.
    """
    import pandas as pd

    if shortlist is None:
        shortlist = 4 * k
    tbl, qschema = collect_query_batch(
        queries,
        "ivfpq_search_index",
        [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")],
        max_queries,
    )
    if not tbl.num_rows:
        raise ValueError("ivfpq_search_index: empty query set")
    spark = queries.sparkSession
    meta = read_meta_sidecar(f"{path}/_ivfpq_meta", "ivfpq_json")
    cents, codebooks = meta["centroids"], meta["codebooks"]
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, subdim = cb.shape

    qvecs = tbl.column("__qvec").to_pylist()
    qids = np.asarray(tbl.column("query_id").to_pylist())
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qvecs])
    lut = np.stack(
        [
            (
                (Q[:, j * subdim : (j + 1) * subdim][:, None, :] - cb[j][None, :, :])
                ** 2
            ).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )

    # probed cells per query, routed on the driver exactly as the IVF
    # searcher routes (and as the write-side assignment scores cells);
    # keyed by QUERY INDEX (never by a cast of the id value) so
    # non-integer query ids — strings, uuids — work unchanged.
    probe_sets = route_cells(qvecs, cents, nprobe)
    cells = sorted({c for cs in probe_sets for c in cs})
    data_schema = read_index_schemas(f"{path}/_ivfpq_meta").get("data")

    codes = apply_allowed_ids(
        anti_tombstones(
            read_index_partitions(spark, path, "__cell", cells, data_schema).select(
                "vec_id", "pq_code", "__cell"
            ),
            path,
            "vec_id",
        ),
        allowed_ids,
        "vec_id",
    )

    def adc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes_np = np.stack(pdf["pq_code"].to_numpy())
            dists = lut[:, np.arange(m)[None, :], codes_np].sum(axis=2)
            cell_np = pdf["__cell"].to_numpy()
            vid_np = pdf["vec_id"].to_numpy()
            out = []
            for i in range(len(qids)):
                probed = np.isin(cell_np, probe_sets[i])
                if not probed.any():
                    continue
                d, v = dists[i][probed], vid_np[probed]
                # local per-batch shortlist: argpartition to the
                # `shortlist` smallest, widen to every row tying the
                # cut distance (so boundary ties resolve by id exactly
                # as the global window's (adc_dist, vec_id) sort
                # would), then exact (dist, id) order on the slice.
                if d.shape[0] > shortlist:
                    cut = d[np.argpartition(d, shortlist - 1)[:shortlist]].max()
                    cand = d <= cut
                    d, v = d[cand], v[cand]
                keep = np.lexsort((v, d))[:shortlist]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[i],
                            "vec_id": v[keep],
                            "adc_dist": d[keep],
                        }
                    )
                )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame({"query_id": [], "vec_id": [], "adc_dist": []})
            )

    qid_t = qschema["query_id"].dataType.simpleString()
    # the corpus id type comes from the STORED index schema, not a
    # hardcoded long — string/int ids round-trip through the index
    vid_t = codes.schema["vec_id"].dataType.simpleString()
    scored = codes.mapInPandas(
        adc, schema=f"query_id {qid_t}, vec_id {vid_t}, adc_dist double"
    )
    short = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("adc_dist"), F.col("vec_id")],
        shortlist,
        rank_col="__adc_rank",
    ).select("query_id", "vec_id")
    vecs = (
        read_index_partitions(spark, path, "__cell", cells, data_schema)
        .select("vec_id", "embedding")
        .withColumn("__cnorm", l2_norm("embedding"))
    )
    qframe = spark.createDataFrame(tbl, qschema).withColumn(
        "__qnorm", l2_norm("__qvec")
    )
    exact = (
        short.join(vecs, "vec_id")
        .join(F.broadcast(qframe), "query_id")
        .withColumn(
            "cosine_sim", cosine_from_norms("__qvec", "embedding", "__qnorm", "__cnorm")
        )
    )
    out = top_k_per_group(
        exact,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("vec_id")],
        k,
        rank_col="rank",
    )
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine_sim", "rank"
    )


def _vector_delete_index(deleted: DataFrame, path: str, id_col: str) -> None:
    """Shared delete for the vector-index family (LSH buckets,
    IVF/IVF-PQ cells): the ids tombstone under ``{path}/_tombstones``
    and every search anti-joins them after its pruned read — see
    ``operators/indexstore.py`` for the full lifecycle contract. The
    vector indexes carry NO corpus-derived global statistics (pinned
    centroids / seeded hyperplanes only), so a delete is pure
    tombstoning: ``delete(batch) ≡ rebuild(remaining)`` for search
    results immediately, no stats merge needed (unlike
    ``bm25_delete_index``). Caller contract: ids are live in the
    index (present, not already tombstoned)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate vs concurrent mutators
    write_tombstones(
        deleted.select(F.col(id_col).alias("vec_id")), path, id_col="vec_id"
    )


def lsh_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete vectors from a persisted LSH index (see
    :func:`lsh_write_index`; lifecycle in ``operators/indexstore.py``).
    ``delete ≡ rebuild(remaining)`` search results, pinned by test."""
    _vector_delete_index(deleted, path, id_col)


def ivf_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete vectors from a persisted IVF index (see
    :func:`ivf_write_index`; lifecycle in ``operators/indexstore.py``).
    ``delete ≡ rebuild(remaining)`` search results, pinned by test."""
    _vector_delete_index(deleted, path, id_col)


def ivfpq_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete vectors from a persisted IVF-PQ index (see
    :func:`ivfpq_write_index`; lifecycle in ``operators/indexstore.py``).
    Both the ADC code pass and the exact rerank see only live rows."""
    _vector_delete_index(deleted, path, id_col)


def _vector_upsert_index(
    new_vecs: DataFrame, path: str, assigned_fn, pcol: str, id_col: str, vec_col: str
) -> None:
    """Shared upsert for the vector-index family — a PARTITION-SCOPED
    rewrite, not a tombstone (an id-only tombstone cannot distinguish
    the replaced old row from its re-ingested successor, so upsert
    needs physical replacement):

    1. the batch assigns under the index's pinned models
       (``assigned_fn`` — the same code path the appenders use, so
       upsert ≡ rebuild stays an identity);
    2. the AFFECTED partitions = the batch ids' current partitions ∪
       the batch's newly-assigned partitions — everything else on
       disk is untouched, which is what keeps the cost
       O(affected partitions), not O(index);
    3. their replacement content = (current rows of those partitions
       minus batch ids minus tombstoned rows — upsert compacts what
       it touches) ∪ the assigned batch, staged to a sibling
       directory and swapped in (never overwrite what is being read);
    4. batch ids leave the tombstone store (a previously-deleted id
       that is re-ingested must become searchable again).

    ``upsert(batch) ≡ rebuild(corpus − old versions ∪ batch)`` for
    search results, pinned by test. Vector indexes can offer this
    because every ingested id has an index row to locate; BM25
    deliberately does NOT get an upsert — a zero-token document has
    no postings row, so re-ingest detection from the index alone is
    unsound there (a doc-id manifest would be required)."""
    import os
    import shutil

    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        heal_partition_swap,
        shed_tombstones,
        swap_partitions,
    )

    # heal a crashed earlier upsert's half-swapped state BEFORE the
    # old-partition scan below reads the live index
    heal_partition_swap(path)
    ver = begin_index_mutation(path)

    spark = new_vecs.sparkSession
    assigned = assigned_fn(
        new_vecs.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        path,
    ).persist()
    batch_ids = assigned.select("vec_id").distinct()
    idx = spark.read.parquet(path)
    old_parts = {
        r[pcol]
        for r in idx.join(F.broadcast(batch_ids), "vec_id")
        .select(pcol)
        .distinct()
        .collect()
    }
    new_parts = {r[pcol] for r in assigned.select(pcol).distinct().collect()}
    affected = sorted(old_parts | new_parts)

    keep = (
        anti_tombstones(idx.filter(F.col(pcol).isin(affected)), path, "vec_id")
        .join(F.broadcast(batch_ids), "vec_id", "left_anti")
    )
    content = keep.select(*assigned.columns).unionByName(assigned)
    staged = f"{path.rstrip('/')}.__upsert_staged"
    shutil.rmtree(staged, ignore_errors=True)
    # guide §6: cluster rows by their target directory before the write
    content.repartition(pcol).write.partitionBy(pcol).parquet(staged)
    assigned.unpersist()
    commit_index_mutation(path, ver)  # claim before the first visible swap
    # crash-safe partition swap (live copies aside first, deleted last)
    swap_partitions(staged, path, pcol, affected)

    # re-ingested ids must shed any standing tombstone (their old
    # rows are physically gone from the affected partitions, so the
    # shed cannot resurrect stale content)
    shed_tombstones(spark, path, batch_ids, id_col="vec_id")


def _lsh_assigned(new_vecs: DataFrame, path: str) -> DataFrame:
    """Batch bucket assignment under a persisted LSH index's sidecar
    parameters — the shared half of append and upsert."""
    meta = read_meta_sidecar(f"{path}/_lsh_meta", "lsh_params_json")
    hp = _hyperplanes(meta["dim"], meta["planes"], meta["seed"])
    return new_vecs.withColumn("__bucket", lsh_bucket("embedding", hp))


def _ivf_assigned(new_vecs: DataFrame, path: str) -> DataFrame:
    """Batch cell assignment under a persisted IVF index's pinned
    centroids — the shared half of append and upsert."""
    cents = ivf_read_centroids(new_vecs.sparkSession, path)
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))
    return new_vecs.withColumn(
        "__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell")
    )


def _ivfpq_assigned(new_vecs: DataFrame, path: str) -> DataFrame:
    """Batch coarse assignment + PQ encoding under a persisted IVF-PQ
    index's pinned models — the shared half of append and upsert."""
    from spatially_databricks_etl_spark.operators.embeddings import pq_encode

    meta = read_meta_sidecar(f"{path}/_ivfpq_meta", "ivfpq_json")
    cents, codebooks = meta["centroids"], meta["codebooks"]
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))
    return pq_encode(
        new_vecs, codebooks, vec_col="embedding", out_col="pq_code"
    ).withColumn("__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell"))


def lsh_upsert_index(
    new_vecs: DataFrame, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Upsert into a persisted LSH index: re-ingested ids replace
    their old vectors via a partition-scoped rewrite, new ids simply
    land. See :func:`_vector_upsert_index` for the contract."""
    _vector_upsert_index(new_vecs, path, _lsh_assigned, "__bucket", id_col, vec_col)


def ivf_upsert_index(
    new_vecs: DataFrame, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Upsert into a persisted IVF index (partition-scoped rewrite
    under the pinned centroids). See :func:`_vector_upsert_index`."""
    _vector_upsert_index(new_vecs, path, _ivf_assigned, "__cell", id_col, vec_col)


def ivfpq_upsert_index(
    new_vecs: DataFrame, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Upsert into a persisted IVF-PQ index (partition-scoped rewrite
    with re-encoding under the pinned models). See
    :func:`_vector_upsert_index`."""
    _vector_upsert_index(new_vecs, path, _ivfpq_assigned, "__cell", id_col, vec_col)


def lsh_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted LSH index: physically drop
    tombstoned vectors, fold append generations into one file group
    per bucket directory, clear the tombstones. Results identical
    before/after (pinned by test)."""
    compact_partitioned_index(spark, path, id_col="vec_id", partition_col="__bucket")
    clear_tombstones(path)


def ivf_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted IVF index (see
    :func:`lsh_compact_index` — same contract, ``__cell`` layout)."""
    compact_partitioned_index(spark, path, id_col="vec_id", partition_col="__cell")
    clear_tombstones(path)


def ivfpq_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted IVF-PQ index (codes + vectors
    rewritten without tombstoned rows; models sidecar untouched)."""
    compact_partitioned_index(spark, path, id_col="vec_id", partition_col="__cell")
    clear_tombstones(path)
