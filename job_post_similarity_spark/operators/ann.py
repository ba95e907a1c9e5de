"""J1 ANN tier — approximate nearest-neighbor joins at scale
(SURVEY.md §2.9 V2/V5, §4 'ANN index' row; reference index surface:
app/vector_search.py:42-47 Flat/IVF/HNSW descriptions).

Two interchangeable strategies behind one config surface, mirroring
the reference's index_description switch:

- ``Flat``   → exact crossJoin tier (operators.knn) — the oracle.
- ``IVF*``   → KMeans-coarse-quantizer bucketed join (this module),
  the Spark-native analog of Faiss IVF: vectors are assigned to
  their nearest of C centroids, candidates only meet inside a
  bucket (+ optional multi-probe to neighboring centroids).
- ``LSH``/``HNSW*``/anything else → banded signed-random-projection
  LSH (``srp_lsh_similarity_join``): multi-bit hyperplane signatures
  with AND-within-band / OR-across-bands amplification — the
  cosine-native scale path (52k-vector probe: 14s, 0.994 recall at
  cosine 0.9).

MLlib's BucketedRandomProjectionLSH (``lsh_fit``/
``lsh_similarity_join``) is kept for API parity but FENCED: nothing
routes to it (``index_for_description`` sends 'LSH…' to SRP) and
calling it warns — one projection per hash table means no
AND-amplification, so on high-dim unit vectors any bucketLength
either misses neighbors or floods candidates (measured degenerate at
50k vectors).

Beyond the pair-join strategies, the SEARCH-shaped and COMPRESSED
tiers added on top:

- ``shard_topk_search`` — sharded index serving (the distributed HNSW
  analog): corpus resident on executors, query batch broadcast,
  per-shard faiss-or-BLAS index, window merge.
- ``pq_train/pq_encode/pq_decode/pq_topk_search`` — product
  quantization: vectors stored as m small codes (32× for 64-d f32),
  searched by asymmetric distance over the code table.
- ``ivfpq_topk_search`` — the IndexIVFPQ composition: coarse-probe
  buckets, ADC over the 8-byte codes inside them.
- ``auto_similarity_join`` / ``auto_topk_search`` — size-dispatched
  facades; the DEFAULT public surface, so no caller driver-collects
  an oversized corpus by accident.

Scale design: every ANN path turns the O(n²) crossJoin into one
shuffle keyed by bucket id. Bits-per-band (SRP) or centroid count
(IVF) bounds per-task pair fan-out; AQE skew-join splits hot buckets.
At 100 TB: SRP for near-dup thresholds (≥0.8), IVF/IVF-PQ when the
corpus has cluster structure — quantizers train driver-locally on a
capped deterministic sample (the Faiss train-on-sample shape), then
assignment/encoding are broadcast map-side ops, no global structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..caching import cache_auto, cache_pinned

from ..functions import vectors as V


def release_relation(df: DataFrame) -> None:
    """Free a memoized relation's executor storage whether it came
    from ``persist()`` or ``localCheckpoint()``. ``DataFrame.
    unpersist()`` only drops cache-manager entries — on a
    CHECKPOINTED relation it is a silent no-op, because the blocks
    belong to the internal checkpointed RDD and are otherwise freed
    only by driver GC + ContextCleaner (ADVICE r11). For those, the
    analyzed plan is a ``LogicalRDD`` whose ``rdd()`` IS the block
    owner; unpersisting it releases the blocks immediately (verified
    against ``sc.getPersistentRDDs``). Best-effort: any reflection
    failure falls back to the GC path the session already relies on."""
    try:
        df.unpersist()
    except Exception:  # pragma: no cover - session teardown races
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover - non-JVM or torn-down plan
        pass


def _to_mllib_vec(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col)))


# ------------------------------------------------------------------- LSH


_BRP_LSH_WARNING = (
    "BucketedRandomProjectionLSH is DEGENERATE on high-dimensional unit "
    "vectors: one projection per hash table (no AND-amplification) means "
    "any bucketLength either misses neighbors or floods candidates "
    "(measured at 50k vectors). This tier exists for MLlib API parity "
    "only — use srp_lsh_similarity_join / srp_topk_search (banded "
    "signed-random-projection, the cosine-native tier) instead."
)


def _warn_brp_degenerate() -> None:
    import warnings

    warnings.warn(_BRP_LSH_WARNING, UserWarning, stacklevel=3)


def lsh_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
):
    """V2 (LSH tier): fit BucketedRandomProjectionLSH on the vector
    column. Returns (model, prepared_df). The model is the Spark
    analog of the Faiss index object (S6: model.save/.load persists).

    .. warning:: emits ``UserWarning`` — see ``_BRP_LSH_WARNING``. The
       supported approximate cosine tier is SRP-LSH."""
    _warn_brp_degenerate()
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    prepared = _to_mllib_vec(df, vec_col, "__features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(prepared)
    return model, prepared


def lsh_similarity_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.90,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN flagship: approxSimilarityJoin at cosine ≥ threshold.

    Unit vectors ⇒ cosine τ ≡ L2 distance √(2-2τ); the LSH join
    filters on that Euclidean threshold, then exact cosine is computed
    on surviving candidates only (candidate set ≪ n²). Output contract
    matches operators.knn.similarity_pairs.
    """
    dist_threshold = float((2.0 - 2.0 * threshold) ** 0.5)
    model, prepared = lsh_fit(df, vec_col, bucket_length, num_hash_tables, seed)
    joined = model.approxSimilarityJoin(
        prepared, prepared, dist_threshold, distCol="__dist"
    )
    a_id = F.col(f"datasetA.{id_col}")
    b_id = F.col(f"datasetB.{id_col}")
    return (
        joined.filter(a_id < b_id)
        .select(
            a_id.alias("id1"),
            b_id.alias("id2"),
            F.round(
                V.dot_cosine(
                    F.col(f"datasetA.{vec_col}"), F.col(f"datasetB.{vec_col}")
                ),
                4,
            ).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
        .orderBy(F.desc("similarity"), F.asc("id1"), F.asc("id2"))
    )


def lsh_nearest_neighbors(
    df: DataFrame,
    query_vec,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """V5 point-query tier: approxNearestNeighbors for one query vector
    (reference: index.search, app/vector_search.py:143-205)."""
    from pyspark.ml.linalg import Vectors

    model, prepared = lsh_fit(df, vec_col, bucket_length, num_hash_tables, seed)
    q = Vectors.dense(list(query_vec))
    res = model.approxNearestNeighbors(prepared, q, k, distCol="__dist")
    return res.select(
        F.col(id_col).alias("neighbor_id"),
        F.round(F.lit(1.0) - (F.col("__dist") * F.col("__dist")) / 2.0, 4).alias(
            "similarity"
        ),
    )


# ------------------------------------------------------------------- IVF


def _lloyd_kmeans(mat, k: int, iters: int, seed: int, init: str = "random"):
    """Seeded Lloyd iterations on an in-memory sample — the coarse
    quantizer trainer. Deterministic; each empty cluster re-seeds to a
    DISTINCT farthest-from-center point (identical reseeds would
    permanently collapse effective k). ``init='++'`` uses seeded
    kmeans++ D² sampling — a far small cluster is near-surely seeded
    where uniform init misses it with probability (1 − mass)^k; the
    entry-provisioning path wants that coverage guarantee, while the
    IVF gates keep the original uniform init (their centroids are
    pinned by graded oracles)."""
    import numpy as np

    if len(mat) == 0:
        raise ValueError("cannot train a quantizer on an empty sample")
    k = min(k, len(mat))
    rng = np.random.default_rng(seed)
    if init == "++":
        idx = [int(rng.integers(len(mat)))]
        d2 = ((mat - mat[idx[0]]) ** 2).sum(axis=1)
        for _ in range(1, k):
            tot = float(d2.sum())
            if tot <= 0.0:
                # all remaining mass at distance 0 — fall back to the
                # first unchosen point (degenerate duplicate sample)
                rest = [i for i in range(len(mat)) if i not in idx]
                if not rest:
                    break
                nxt = rest[0]
            else:
                nxt = int(rng.choice(len(mat), p=d2 / tot))
            idx.append(nxt)
            d2 = np.minimum(d2, ((mat - mat[nxt]) ** 2).sum(axis=1))
        centers = mat[np.asarray(idx)]
        k = len(idx)
    else:
        centers = mat[rng.choice(len(mat), size=k, replace=False)]
    x2 = (mat * mat).sum(axis=1)
    for _ in range(iters):
        c2 = (centers * centers).sum(axis=1)
        d = x2[:, None] - 2.0 * (mat @ centers.T) + c2[None, :]
        assign = d.argmin(axis=1)
        dmin = d[np.arange(len(mat)), assign]
        farthest = np.argsort(-dmin)  # distinct reseed candidates
        next_seed = 0
        new_centers = centers.copy()
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                new_centers[c] = members.mean(axis=0)
            else:
                new_centers[c] = mat[int(farthest[next_seed])]
                next_seed += 1
        if np.allclose(new_centers, centers):
            centers = new_centers
            break
        centers = new_centers
    return centers


def _quantizer_train_sample(
    df: DataFrame, vec_col: str, n: int, seed: int,
    train_fraction: float | None = None,
):
    """Seeded, 100k-capped driver-local training sample as a float64
    matrix — the ONE place the sampling contract (cap, seed handling,
    dtype) lives; ``ivf_assign`` and ``ivf_graph_entries`` both train
    on it, so the deterministic-quantizer guarantee cannot drift
    between them."""
    import numpy as np

    if train_fraction is None:
        train_fraction = min(1.0, 100_000 / max(n, 1))
    train_df = (
        df.sample(train_fraction, seed=seed)
        if train_fraction < 1.0
        else df
    )
    sample = train_df.select(vec_col).limit(100_000).toPandas()
    return np.asarray(list(sample[vec_col]), dtype=np.float64)


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
    n_probe: int = 2,
    seed: int = 42,
    train_fraction: float | None = None,
    id_col: str = "vec_id",
    max_iter: int = 10,
    n_rows: int | None = None,
) -> tuple[DataFrame, "object"]:
    """IVF coarse quantization: Lloyd-KMeans centroids trained
    DRIVER-LOCALLY on a seeded sample (capped at 100k vectors), every
    vector assigned to its ``n_probe`` nearest centroids by an
    Arrow-batched map-side pass against the broadcast centroids.

    Returns (assigned_df with exploded ``bucket`` column, centers
    ndarray). Multi-probe on the *build* side implements the recall
    knob: a pair is found if the two vectors share any probed bucket —
    the Faiss nprobe analog (reference .env:7 'IVF100,Flat').

    Training is deliberately in-process, like Faiss's own
    train-on-sample (reference app/vector_search.py:85-106): the
    sample is bounded (≤100k × dim f64), so a numpy Lloyd loop costs
    milliseconds where MLlib KMeans pays 1-2 distributed jobs PER
    ITERATION — measured 17.7 s → ~2 s for the sf0.1 gate query. The
    distributed parts stay distributed: sampling, and the assignment
    map over the full table. Assignment is mapInPandas, NOT a
    crossJoin+window: the join form materializes and shuffles n×C
    rows (at the auto C≈√n setting that is a √n× blow-up — 1000× at
    n=10⁶) where the map form reads each row once and emits n×n_probe
    rows with zero shuffle. ``train_fraction=None`` (default)
    auto-caps the sample; pass an explicit fraction to override.

    ``n_rows`` hands the table size in when the caller already knows
    it (e.g. a dispatch facade that counted once) — skips this
    function's own ``df.count()`` driver action.
    """
    import numpy as np

    n = n_rows
    if n is None and (n_centroids is None or train_fraction is None):
        n = df.count()
    if n_centroids is None:
        # Faiss guidance: C ≈ √n keeps bucket size ≈ √n, so the
        # per-bucket pair fan-out (bucket²·C = n·√n) stays subquadratic
        n_centroids = max(16, int(n**0.5))
    mat = _quantizer_train_sample(df, vec_col, n, seed, train_fraction)
    if len(mat) == 0:
        # empty input: schema-consistent empty assignment, no training
        empty = df.select(
            *df.columns, F.lit(0).cast("int").alias("bucket")
        ).limit(0)
        return empty, np.empty((0, 0))
    centers = _lloyd_kmeans(mat, n_centroids, max_iter, seed)
    return ivf_assign_with_centers(df, centers, vec_col, n_probe), centers


def ivf_assign_with_centers(
    df: DataFrame,
    centers,
    vec_col: str = "embedding",
    n_probe: int = 2,
    with_dist: bool = False,
) -> DataFrame:
    """The assignment half of ``ivf_assign`` against PREBUILT coarse
    centroids: every row mapped to its ``n_probe`` nearest centers by
    the Arrow-batched map-side pass (broadcast centers, zero shuffle).
    This is what Faiss ``add()`` runs — adding vectors never retrains
    the quantizer (reference app/vector_search.py:85-141) — and the
    incremental artifact path (``index_store.add_to_ivf_index``) uses
    it to assign ONLY the new rows. Stable argsort ⇒ distance ties
    break on the lower centroid id (the shared contract)."""
    import numpy as np

    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(centers, dtype=np.float64)
    )
    reps = min(n_probe, len(centers))

    def op(batches):
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            d = (
                (x * x).sum(axis=1)[:, None]
                - 2.0 * (x @ cents.T)
                + (cents * cents).sum(axis=1)[None, :]
            )
            # stable ascending sort ⇒ distance ties break on the lower
            # centroid id — the same contract the old window's
            # orderBy(__cdist, centroid_id) gave
            order = np.argsort(d, axis=1, kind="stable")[:, :reps]
            out = pdf.loc[pdf.index.repeat(reps)].reset_index(drop=True)
            out["bucket"] = order.ravel().astype(np.int32)
            if with_dist:
                out["__cdist"] = np.take_along_axis(
                    d, order, axis=1
                ).ravel()
            yield out

    from pyspark.sql import types as T

    extra = [T.StructField("bucket", T.IntegerType())]
    if with_dist:
        # squared L2 to the assigned centroid — ivf_graph_entries
        # picks each region's most central row with it
        extra.append(T.StructField("__cdist", T.DoubleType()))
    out_schema = T.StructType(list(df.schema.fields) + extra)
    return df.mapInPandas(op, out_schema)


def ivf_similarity_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.90,
    n_centroids: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    n_rows: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed near-dup pair join: candidates meet only inside a
    shared probed bucket; exact cosine verifies. One shuffle on
    ``bucket``; per-bucket fan-out bounded by cluster balance + AQE.

    The verify stage routes through ``_verify_pair_candidates``
    (broadcast-matrix gather under the knn budget, relational vector
    rejoin + Arrow dot beyond it): IVF's candidate sets are orders of
    magnitude larger than SRP's at equal recall on unstructured data,
    so keeping candidates as 16-byte id pairs (and deduping the
    multi-probe pair copies BEFORE scoring) is worth more here than
    anywhere.

    Recall profile (rows-only gate; measured on the synthetic RANDOM
    unit vectors at threshold 0.40, auto √n centroids): 0.95 at
    n=500/probe 3, ~0.69 at n=2000/probe 3 — random vectors have no
    cluster structure for the quantizer to exploit, which is exactly
    the regime the module docstring routes to SRP-LSH. IVF earns its
    keep on clustered corpora (real embeddings); raise ``n_probe``
    or lower ``n_centroids`` to trade time for recall.

    ``n_rows`` forwards a known table size to ``ivf_assign`` so the
    dispatch facade's count isn't repeated here. ``assigned`` accepts
    a precomputed bucket assignment (e.g. loaded via
    ``index_store.load_or_build_ivf`` — the memoized restart path
    that skips quantizer training entirely); when given, ``df`` is
    only consulted lazily as the source the assignment derived from.
    """
    if assigned is None:
        assigned, _ = ivf_assign(
            df, vec_col, n_centroids, n_probe, seed, id_col=id_col, n_rows=n_rows
        )
        # persist: the assignment feeds BOTH sides of the self-join —
        # same reason srp_lsh_similarity_join persists its signature
        # frame. Without it the mapInPandas centroid pass AND the scan
        # under it execute twice. Size is n×n_probe rows. Repartitioned
        # on the join key first so the bucket self-join reads the
        # cache's partitioning and plans no further exchanges (the
        # SRP-join layout trick — see srp_lsh_similarity_join).
        assigned = assigned.repartition("bucket").transform(cache_auto)
    a = assigned.select("bucket", F.col(id_col).alias("id1"))
    b = assigned.select("bucket", F.col(id_col).alias("id2"))
    # candidates stay (id1, id2) pairs: the multi-probe duplicate pairs
    # are deduped BEFORE scoring (n_probe copies of a pair used to be
    # verified independently and deduped after), and vectors never ride
    # the bucket join — the shared verify gathers them from a broadcast
    # matrix (or rejoins relationally past the broadcast budget)
    cand = (
        a.join(b, ["bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    return _verify_pair_candidates(df, cand, id_col, vec_col, threshold)


def ivf_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 3,
    include_self: bool = False,
    seed: int = 42,
    max_query_rows: int = 100_000,
    prebuilt: tuple | None = None,
) -> DataFrame:
    """IVF-Flat top-k search (Faiss IndexIVFFlat's search half;
    reference index family app/vector_search.py:42-47, default
    nprobe semantics app/main.py:47): each query probes its
    ``n_probe`` nearest coarse centroids and EXACT-scores only the
    corpus vectors assigned to those buckets.

    Complements the tier matrix: ``ivf_similarity_join`` is the
    pair-join shape, ``pq_topk_search``/``ivfpq_topk_search`` the
    compressed shapes — this is the uncompressed search shape (full
    vectors inside probed buckets, no quantization error, so recall
    is purely the coarse-pruning knob).

    Scale shape: the corpus is read once to build the (n_probe=1)
    bucket assignment (map-side vs broadcast centroids); the search
    joins a tiny broadcast (query, bucket) probe table against the
    assignment on ``bucket`` — candidate volume is the probed share
    of the corpus, one shuffle keyed by bucket. Queries are bounded
    by ``max_query_rows`` (the shared broadcast-side budget); the
    exact dot uses the bit-stable JVM fold because this tier feeds
    the oracle-backed ``ivf_recall_vs_exact`` gate.

    The query-side probe ranking repeats ``ivf_assign``'s arithmetic
    (same BLAS expression, stable sort, lowest-centroid-id ties), so
    a query vector IDENTICAL to a corpus vector probes that vector's
    build bucket first — the planted-twin contract the recall gate
    relies on.

    ``prebuilt`` = (assigned DataFrame with ``bucket``, centers
    ndarray) skips the build side — the ``index_store`` serving path.
    """
    import numpy as np

    if prebuilt is not None:
        assigned, centers = prebuilt
        if "bucket" not in assigned.columns:
            raise ValueError(
                "prebuilt IVF serving needs the bucketed assignment "
                "table (ivf_assign output / index_store artifact)"
            )
    else:
        assigned, centers = ivf_assign(
            corpus, vec_col, n_centroids, n_probe=1, seed=seed,
            id_col=id_col,
        )
    q_type = queries.schema[id_col].dataType.simpleString()
    n_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {q_type}, neighbor_id {n_type}, "
        "similarity double, rank int"
    )
    q_ids, q_mat = _bounded_query_matrix(
        queries, id_col, vec_col, max_query_rows
    )
    spark = queries.sparkSession
    if len(q_ids) == 0 or len(np.asarray(centers)) == 0:
        return spark.createDataFrame([], out_schema)
    cmat = np.asarray(centers, dtype=np.float64)
    # identical expression + stable sort as ivf_assign.op — keeps the
    # probe list bit-consistent with the build-side assignment
    cd = (
        (q_mat * q_mat).sum(axis=1)[:, None]
        - 2.0 * (q_mat @ cmat.T)
        + (cmat * cmat).sum(axis=1)[None, :]
    )
    probe = np.argsort(cd, axis=1, kind="stable")[:, : min(n_probe, len(cmat))]
    probe_rows = [
        (qid.item() if hasattr(qid, "item") else qid, int(b))
        for qid, row in zip(q_ids, probe)
        for b in row
    ]
    probes_df = spark.createDataFrame(
        probe_rows, f"query_id {q_type}, bucket int"
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cand = F.broadcast(probes_df).join(
        assigned.select(
            "bucket",
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
        ),
        "bucket",
    )
    if not include_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    # a prebuilt assignment may be multi-probe (load_or_build_ivf
    # defaults to n_probe=2 for the pair-join use): a corpus vector
    # then lives in several buckets, and a query probing two of them
    # would see the SAME neighbor twice — row_number in _merge_topk
    # would hand it two ranks and push a true top-k entry out. One
    # pair-dedup before scoring keeps serving correct for any
    # artifact; it is a no-op for the n_probe=1 build path.
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "neighbor_id",
        V.dot_cosine("__qv", "__cv").alias("similarity"),
    )
    return _merge_topk(scored, k, "similarity")


def srp_band_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    num_bands: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Signed-random-projection (hyperplane) LSH signatures for COSINE,
    banded for AND/OR amplification: ``bits_per_band`` sign bits packed
    into one bucket int per band (AND within a band), a pair is a
    candidate if ANY band matches (OR across bands).

    P(candidate | cosine=c) = 1 - (1 - (1-θ/π)^bits)^bands, θ=acos(c)
    — the selectivity knob MLlib's BucketedRandomProjectionLSH lacks
    (one projection per table: any bucket width either misses
    neighbors or floods candidates on high-dim unit vectors).

    Map-side only: one matmul against the broadcast hyperplane matrix
    per Arrow batch, no shuffle. Output: (id, band, bucket).

    ``dim`` skips the one-row probe job that otherwise discovers the
    vector width — pass it when known (callers in a loop / streaming).
    """
    import numpy as np
    import pandas as pd

    id_type_s = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type_s}, band int, bucket long"
    if dim is None:
        first = df.select(vec_col).head(1)
        if not first:
            # schema-consistent empty frame: id keeps the INPUT's type
            # (a string-keyed table must not come back long-keyed)
            return df.sparkSession.createDataFrame([], out_schema)
        dim = len(first[0][0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_bands * bits_per_band, dim))
    bc = df.sparkSession.sparkContext.broadcast(planes)
    weights = (2 ** np.arange(bits_per_band)).astype(np.int64)

    def op(batches):
        H = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            bits = (x @ H.T) > 0  # (n, bands*bits)
            n = len(pdf)
            bits = bits.reshape(n, num_bands, bits_per_band)
            buckets = bits @ weights  # (n, bands)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, num_bands),
                    "band": np.tile(np.arange(num_bands, dtype=np.int32), n),
                    "bucket": buckets.ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(op, out_schema)


def srp_parameter_plan(
    n: int,
    threshold: float,
    target_recall: float = 0.95,
    candidate_row_budget: int | None = None,
    max_bits: int = 28,
    max_bands: int = 128,
) -> dict:
    """Solve the SRP banding knobs from the amplification formula
    instead of guessing: given corpus size ``n``, operating cosine
    ``threshold`` and a recall target, pick the smallest
    ``bits_per_band`` whose EXPECTED BACKGROUND candidate mass stays
    inside ``candidate_row_budget`` (default ``50·n`` — linear in the
    corpus, the budget that keeps the verify stage scan-shaped), with
    ``num_bands`` then set from ``ln(1-R)/ln(1-p^bits)`` to hit the
    recall.

    Background model: uncorrelated vectors agree on one sign bit
    w.p. 1/2, so a random pair collides in one b-bit band w.p.
    ``2^-b`` and the expected background candidates are
    ``C(n,2)·r·2^-b``. Real corpora cluster (background is higher),
    so the budget is an estimate, not a bound — but it scales the
    knobs correctly: the fixed 8/16 default goes candidate-quadratic
    past ~10^5 rows (measured: SCALING.md srp exponent 1.8), while
    the planned knobs hold the expected mass linear at any ``n``.

    ``max_bands`` bounds the SIGNATURE mass (``n·bands`` rows through
    the band shuffle) and the broadcast plane matrix — without it,
    low operating thresholds at large ``n`` drive the band count into
    the thousands, which costs more than the candidates it saves.
    When the recall target cannot be met inside both caps the plan
    DEGRADES RECALL, not the budgets: ``predicted_recall`` reports
    the honest number (check it — a plan with recall far below the
    target is the formula telling you SRP is the wrong tier for that
    operating point; use IVF).

    Returns ``{bits_per_band, num_bands, predicted_recall,
    expected_background_rows}``.
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        # >= 1.0 would hit a math domain error at log(1 - R); <= 0
        # silently planned bands=1 (ADVICE r5)
        raise ValueError("target_recall must be in (0, 1)")
    p = 1.0 - math.acos(threshold) / math.pi
    budget = (
        candidate_row_budget
        if candidate_row_budget is not None
        else 50 * max(n, 1)
    )
    pairs = n * max(n - 1, 0) / 2.0
    best = None
    for bits in range(4, max_bits + 1):
        pb = p**bits
        if pb >= 1.0:
            bands = 1
        else:
            bands = max(
                1,
                math.ceil(
                    math.log(1.0 - target_recall) / math.log(1.0 - pb)
                ),
            )
        bands = min(bands, max_bands)
        bg = pairs * bands * (0.5**bits)
        recall = 1.0 - (1.0 - pb) ** bands
        plan = {
            "bits_per_band": bits,
            "num_bands": bands,
            "predicted_recall": round(recall, 4),
            "expected_background_rows": int(bg),
        }
        # among budget-feasible plans, the smallest bits (first hit)
        # has the highest band-capped recall — stop there
        if bg <= budget:
            return plan
        best = plan
    return best


def srp_lsh_similarity_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.90,
    bits_per_band: int | str = 8,
    num_bands: int = 16,
    seed: int = 42,
    verify: str = "auto",
    corpus_rows: int | None = None,
) -> DataFrame:
    """Cosine ANN pair join via banded SRP-LSH: band-bucket self-join
    proposes candidates, exact dot product verifies (precision is
    exact; recall follows the banding formula above).

    Scale shape: signature emission is map-side; the band join
    shuffles (id, band, bucket) triples — 16 bytes/row × num_bands,
    never the vectors. Tune bits_per_band ≈ log2(n/target_bucket_size),
    bands to hit recall at the operating threshold.

    Candidate dedup is a ``dropDuplicates`` shuffle of (id1, id2)
    pairs. The tempting zero-shuffle alternative — carry each row's
    full per-band signature vector and emit a pair only from its
    FIRST matching band — was measured 3× SLOWER here: the per-row
    ``exists(sequence(...))`` higher-order filter costs far more CPU
    on the joined candidate stream than the 16-byte-row shuffle it
    replaces (Catalyst lambdas allocate per row; the shuffle is
    columnar). Kept the shuffle.

    ``verify`` picks how candidates are scored:
    - ``'broadcast'``: gather both vectors from a broadcast id-sorted
      matrix inside one mapInPandas pass — candidate rows stay
      16-byte (id1, id2) pairs end-to-end, no vector join. At
      near-threshold operating points the candidate set runs to
      n²-scale, and the relational form ships 2 × vec_bytes per
      candidate through two hash joins (~30 GB at 5k×384 f32 before
      AQE trims) — the gather ships the corpus ONCE per executor.
      Requires the corpus under the knn broadcast budget (1M rows).
    - ``'relational'``: two hash joins re-attach vectors by id, the
      Arrow-batched dot scores — unbounded corpus size.
    - ``'auto'`` (default): broadcast when the corpus fits the
      budget, else relational.
    """
    if bits_per_band == "auto":
        # one count action (the IVF tier pays the same to size its
        # centroids) feeds the formula-driven planner — the knobs
        # that keep candidate mass linear at any corpus size.
        # ``corpus_rows`` (a caller-known index-build-time statistic,
        # e.g. a per-session table-count memo) skips the job — the
        # planner sees the identical n either way.
        n = corpus_rows if corpus_rows is not None else df.count()
        plan = srp_parameter_plan(n, threshold)
        bits_per_band = plan["bits_per_band"]
        num_bands = plan["num_bands"]
    # persist: the signature frame feeds BOTH sides of the self-join;
    # without it the mapInPandas signature pass runs twice. Size is
    # n×num_bands × 20 B — negligible, LRU-evicted under pressure.
    # REPARTITIONED ON THE JOIN KEY before the persist: both join
    # children then read the same (band, bucket)-hashed cache and the
    # self-join plans ZERO additional exchanges — one signature
    # shuffle total instead of two join-side shuffles (measured 3.3 s
    # → 2.1 s at sf0.1; the streaming store applies the same layout,
    # stream_ops._register_sigs_store).
    # PINNED layout (cache_pinned = explicit cluster-scaled count,
    # never AQE-coalesced): the cached signature table is small in
    # BYTES (20 B/row), so byte-sized AQE cache coalescing would
    # collapse it to a couple of partitions — and the band self-join
    # it feeds is the operator's high-fan-out CPU stage (the stress
    # tier's candidate mass is quadratic in bucket size), which then
    # runs nearly serial (measured 1.9 s → 2.7 s on the fixed tier).
    sig = srp_band_signatures(
        df, id_col, vec_col, bits_per_band, num_bands, seed
    ).transform(cache_pinned("band", "bucket"))
    a = sig.select(F.col(id_col).alias("id1"), "band", "bucket")
    b = sig.select(F.col(id_col).alias("id2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    return _verify_pair_candidates(df, cand, id_col, vec_col, threshold, verify)


def _verify_pair_candidates(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    verify: str = "auto",
) -> DataFrame:
    """Shared exact-cosine verify for bucket-proposed (id1, id2)
    candidate pairs (SRP bands, IVF buckets, any blocking scheme).

    ``'broadcast'``: gather both vectors from a broadcast id-sorted
    matrix in one mapInPandas pass — candidates stay 16-byte rows
    end-to-end (the relational form ships 2 × vec_bytes per candidate
    through two hash joins). Bounded by the knn broadcast budget.
    ``'relational'``: vector rejoin by id + Arrow-batched dot —
    unbounded corpus size. ``'auto'``: broadcast if it fits, else
    relational. Output: (id1, id2, similarity round 4 ≥ threshold),
    ordered for deterministic driver hashing.

    Note the broadcast tier is EAGER at plan-construction time (the
    matrix collect runs a Spark job before the returned DataFrame is
    ever executed) and each call ships its own broadcast, which lives
    until the session ends — callers scoring the same corpus many
    times in one session should build the plan once and reuse it,
    or pass verify='relational' to stay fully lazy.
    """
    import numpy as np
    import pandas as pd

    if verify in ("auto", "broadcast"):
        from .knn import _collect_matrix

        try:
            ids, mat = _collect_matrix(df, id_col, vec_col)
        except ValueError:
            if verify == "broadcast":
                raise
            ids = None
        if ids is not None:
            order = np.argsort(ids, kind="stable")
            bc = df.sparkSession.sparkContext.broadcast(
                (ids[order], mat[order])
            )
            id_t = df.schema[id_col].dataType.simpleString()
            # margin pre-filter: only rows that can survive the JVM
            # round-then-threshold filter cross Arrow (knn.similarity_
            # pairs' trick); final rounding stays JVM HALF_UP
            lo = threshold - 1e-4

            def op(batches):
                sid, m32 = bc.value
                # once per task, not per batch; no-op for f64 sources
                M = m32.astype(np.float64, copy=False)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    i1 = np.searchsorted(sid, pdf["id1"].to_numpy())
                    i2 = np.searchsorted(sid, pdf["id2"].to_numpy())
                    sims = np.einsum("ij,ij->i", M[i1], M[i2])
                    keep = sims >= lo
                    yield pd.DataFrame(
                        {
                            "id1": pdf["id1"].to_numpy()[keep],
                            "id2": pdf["id2"].to_numpy()[keep],
                            "similarity": sims[keep],
                        }
                    )

            scored = cand.mapInPandas(
                op, f"id1 {id_t}, id2 {id_t}, similarity double"
            )
            return (
                scored.select(
                    "id1",
                    "id2",
                    F.round(F.col("similarity"), 4).alias("similarity"),
                )
                .filter(F.col("similarity") >= threshold)
                .orderBy(F.desc("similarity"), F.asc("id1"), F.asc("id2"))
            )

    v1 = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("__v1"))
    v2 = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("__v2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select(
            "id1",
            "id2",
            # Arrow-batched verify: candidate sets at near-threshold
            # operating points run to n²-scale, where the per-element
            # JVM fold dominates (same trade as the IVF verify)
            F.round(V.dot_cosine_arrow("__v1", "__v2"), 4).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
        .orderBy(F.desc("similarity"), F.asc("id1"), F.asc("id2"))
    )


def srp_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    num_bands: int = 16,
    include_self: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k search (V5 at scale): for each query row, its
    k highest-cosine candidates from the corpus — fully relational, no
    broadcast matrix, so it works when the corpus outgrows the
    blocked-BLAS tier's driver collect.

    queries/corpus each emit band signatures map-side; candidates meet
    on (band, bucket); exact dot verifies; window top-k ranks. Queries
    whose buckets are empty simply return < k rows (the reference pads
    with None — a LEFT join against the query set restores that if
    needed; kept dense here).
    """
    qsig = srp_band_signatures(
        queries, id_col, vec_col, bits_per_band, num_bands, seed
    ).select(F.col(id_col).alias("query_id"), "band", "bucket")
    csig = srp_band_signatures(
        corpus, id_col, vec_col, bits_per_band, num_bands, seed
    ).select(F.col(id_col).alias("neighbor_id"), "band", "bucket")
    cand = (
        qsig.join(csig, ["band", "bucket"])
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if not include_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            # bit-stable JVM fold, NOT the arrow dot: this tier feeds
            # the oracle-backed srp_recall_vs_exact gate, where a
            # summation-order ulp on a near-tie could flip the top-1
            # id vs the exact tier
            V.dot_cosine("__qv", "__cv").alias("similarity"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("similarity", 4).alias("similarity"),
            "rank",
        )
    )


def auto_similarity_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.90,
    broadcast_row_budget: int = 1_000_000,
    seed: int = 42,
) -> DataFrame:
    """Strategy-dispatching facade for the pair join: counts the table
    once and picks

    - n ≤ broadcast_row_budget → exact blocked-BLAS
      (`knn.similarity_pairs`: right side fits one broadcast;
      ~1M × 384-f32 ≈ 1.5 GB), else
    - threshold ≥ 0.8 → banded SRP-LSH (near-dup regime: high recall
      with few bands), else
    - IVF (√n centroids): low-threshold ANN needs partition structure,
      not sign-agreement.

    Dispatch cost is a BOUNDED probe — ``limit(budget+1).count()``
    stops as soon as budget+1 rows exist (LocalLimit short-circuits
    each partition), so a 100 TB table never pays a full-table
    aggregate just to learn it is over budget. Both over-budget tiers
    then count for real: IVF to size its √n centroids, SRP to feed
    ``srp_parameter_plan`` — one full count each, paid only once a
    scan-scale join is already the chosen plan.
    """
    probe = df.limit(broadcast_row_budget + 1).count()
    if probe <= broadcast_row_budget:
        from . import knn

        return knn.similarity_pairs(df, id_col, vec_col, threshold)
    if threshold >= 0.8:
        # planner-chosen banding: fixed 8/16 goes candidate-quadratic
        # past ~10^5 rows (SCALING.md); "auto" re-solves bits/bands
        # from the recall formula under a linear candidate budget
        return srp_lsh_similarity_join(
            df, id_col, vec_col, threshold, bits_per_band="auto",
            seed=seed,
        )
    return ivf_similarity_join(
        df, id_col, vec_col, threshold, n_centroids=None, seed=seed
    )


# ------------------------------------------- shared search-tier plumbing


def _bounded_query_matrix(
    queries: DataFrame, id_col: str, vec_col: str, max_rows: int, dtype=None
):
    """Collect the (bounded) query side as (ids, matrix). Raises when
    the query set exceeds ``max_rows`` — the broadcast-side budget all
    search tiers share. Empty input yields a (0, 0) matrix so callers
    can short-circuit without 2-D-indexing a 1-D empty array."""
    import numpy as np

    q_pdf = queries.select(id_col, vec_col).limit(max_rows + 1).toPandas()
    if len(q_pdf) > max_rows:
        raise ValueError(
            f"query side exceeds {max_rows} rows — for pair-join "
            "workloads use auto_similarity_join; for huge query sets "
            "use srp_topk_search (fully relational)"
        )
    ids = q_pdf[id_col].to_numpy()
    mat = np.asarray(list(q_pdf[vec_col]), dtype=dtype or np.float64)
    if len(ids) == 0:
        mat = mat.reshape(0, 0)
    return ids, mat


def _merge_topk(local: DataFrame, k: int, sim_col: str) -> DataFrame:
    """The per-query top-k merge every search tier ends with: window
    by query, order desc similarity / asc neighbor id (the shared
    tie-break contract), cut at k, round to 4."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(sim_col), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim_col, 4).alias(sim_col),
            "rank",
        )
    )


# ------------------------------------------------------------------- PQ


def _nearest_center(mat, centers):
    """Row-wise nearest-centroid index (squared L2, BLAS form) — the
    numpy twin of ``ivf_assign``'s n_probe=1 assignment, used wherever
    residual PQ needs a bucket without a Spark join."""
    import numpy as np

    c = np.asarray(centers, dtype=np.float64)
    d = (
        (mat * mat).sum(axis=1)[:, None]
        - 2.0 * (mat @ c.T)
        + (c * c).sum(axis=1)[None, :]
    )
    return d.argmin(axis=1)


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    bits: int = 8,
    sample_rows: int = 100_000,
    seed: int = 42,
    centers=None,
    n_rows: int | None = None,
):
    """Product-quantization codebooks: the vector-COMPRESSION operator
    a 100 TB embedding store needs (Faiss IndexPQ's storage model —
    the reference's index family, app/vector_search.py:42-47, includes
    the PQ variants by description string).

    The dimension axis is split into ``m`` equal subspaces; each gets
    a 2^bits-entry codebook trained with the same driver-local seeded
    Lloyd used by the IVF quantizer, on a ≤``sample_rows`` sample. A
    d-dim float32 vector then stores as m small ints — e.g. 64-d f32
    (256 B) → 8 codes (8 B), 32×. Returns ndarray (m, 2^bits, d/m).

    ``centers`` (ndarray (C, d), the IVF coarse centroids) switches to
    RESIDUAL training — Faiss IndexIVFPQ's model: each sample vector
    is replaced by ``x − centers[nearest(x)]`` before codebook
    training. Residuals have far smaller variance than raw vectors,
    so the same code budget quantizes them with less distortion.
    """
    import numpy as np

    # seeded FRACTION sample before the cap — a bare limit() takes a
    # partition-ordered prefix, which on clustered/sorted data trains
    # the codebooks on one region of the space (same policy as
    # ivf_assign's quantizer sampling). n_rows skips the count when
    # the caller already knows the size.
    n = df.count() if n_rows is None else n_rows
    fraction = min(1.0, sample_rows / max(n, 1))
    train_df = df.sample(fraction, seed=seed) if fraction < 1.0 else df
    sample = train_df.select(vec_col).limit(sample_rows).toPandas()
    mat = np.asarray(list(sample[vec_col]), dtype=np.float64)
    if len(mat) == 0:
        raise ValueError("cannot train PQ codebooks on an empty sample")
    if centers is not None:
        mat = mat - np.asarray(centers, dtype=np.float64)[
            _nearest_center(mat, centers)
        ]
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    k = 2**bits
    books = np.stack(
        [
            _lloyd_kmeans(
                np.ascontiguousarray(mat[:, j * sub : (j + 1) * sub]),
                k,
                10,
                seed + j,
            )
            for j in range(m)
        ]
    )
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers=None,
    bucket_col: str | None = None,
) -> DataFrame:
    """Encode vectors to their per-subspace nearest codebook entries:
    (id[, bucket], pq_code array<int>). Map-side mapInPandas against
    the broadcast codebooks — encoding 100 TB is shuffle-free.

    With ``centers`` the codes quantize the RESIDUAL ``x − c_b``
    (IndexIVFPQ): the bucket ``b`` comes from ``bucket_col`` when the
    frame already carries an IVF assignment (passed through to the
    output, saving the join-back), else from a per-batch nearest-
    centroid computation against the broadcast centers."""
    import numpy as np
    import pandas as pd

    m, k, sub = codebooks.shape
    carry_bucket = bucket_col is not None
    bc = df.sparkSession.sparkContext.broadcast(
        (
            np.asarray(codebooks),
            None if centers is None else np.asarray(centers, dtype=np.float64),
        )
    )

    def op(batches):
        books, cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if cents is not None:
                if carry_bucket:
                    b = pdf[bucket_col].to_numpy(dtype=np.int64)
                else:
                    b = _nearest_center(mat, cents)
                mat = mat - cents[b]
            codes = np.empty((len(mat), m), dtype=np.int64)
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]
                c = books[j]
                d = (
                    (x * x).sum(axis=1)[:, None]
                    - 2.0 * (x @ c.T)
                    + (c * c).sum(axis=1)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            out = {id_col: pdf[id_col].to_numpy(), "pq_code": list(codes)}
            if carry_bucket:
                out[bucket_col] = pdf[bucket_col].to_numpy()
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    cols = [id_col, vec_col] + ([bucket_col] if carry_bucket else [])
    out_schema = f"{id_col} {id_type}, pq_code array<bigint>" + (
        f", {bucket_col} int" if carry_bucket else ""
    )
    return df.select(*cols).mapInPandas(op, out_schema)


def pq_decode(
    codes: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    out_col: str = "embedding_approx",
) -> DataFrame:
    """Reconstruct approximate vectors from PQ codes (concatenate the
    referenced codebook entries) — the asymmetric side of PQ search
    and the decompression path for downstream consumers."""
    import numpy as np
    import pandas as pd

    m, k, sub = codebooks.shape
    bc = codes.sparkSession.sparkContext.broadcast(np.asarray(codebooks))

    def op(batches):
        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.asarray(list(pdf[code_col]), dtype=np.int64)
            out = np.concatenate(
                [books[j][cmat[:, j]] for j in range(m)], axis=1
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    out_col: [r.astype(np.float32) for r in out],
                }
            )

    id_type = codes.schema[id_col].dataType.simpleString()
    return codes.select(id_col, code_col).mapInPandas(
        op, f"{id_col} {id_type}, {out_col} array<float>"
    )


def pq_topk_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    include_self: bool = False,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ-COMPRESSED vectors (ADC — the
    search half of product quantization): each query precomputes an
    (m × 2^bits) table of squared subspace distances to every codebook
    entry, then a corpus row's approximate distance is m table lookups
    summed — the corpus is scanned as 8-byte codes, never as vectors.

    Scale shape: the corpus side is the CODE table (32× smaller than
    the raw vectors), streamed map-side; queries + codebooks broadcast;
    per-batch top-k merges through the same window as the other search
    tiers. Output: (query_id, neighbor_id, approx_similarity, rank)
    where approx_similarity = 1 - d²/2 (the V3 bridge — exact cosine
    for unit vectors up to quantization distortion).
    """
    import numpy as np
    import pandas as pd

    q_type = queries.schema[id_col].dataType.simpleString()
    c_type = codes.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {q_type}, neighbor_id {c_type}, "
        "approx_similarity double, rank int"
    )
    q_ids, q_mat = _bounded_query_matrix(
        queries, id_col, vec_col, max_query_rows
    )
    if len(q_ids) == 0:
        return queries.sparkSession.createDataFrame([], out_schema)
    books = np.asarray(codebooks)
    m, kk_entries, sub = books.shape
    # per-query distance tables: (n_q, m, 2^bits)
    tables = np.stack(
        [
            ((q_mat[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, tables))

    def op(batches):
        qids, tabs = bc.value
        if len(qids) == 0:
            return
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy()
            cmat = np.asarray(list(pdf[code_col]), dtype=np.int64)
            # d2[q, row] = Σ_j tabs[q, j, code[row, j]]
            d2 = np.zeros((len(qids), len(cids)))
            for j in range(m):
                d2 += tabs[:, j, :][:, cmat[:, j]]
            cut = min(k + 65, len(cids))
            if d2.shape[1] > cut:
                part = np.argpartition(d2, cut - 1, axis=1)[:, :cut]
            else:
                part = np.tile(np.arange(d2.shape[1]), (len(qids), 1))
            sel = np.take_along_axis(d2, part, axis=1)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, part.shape[1]),
                    "neighbor_id": cids[part].ravel(),
                    "approx_similarity": (1.0 - sel / 2.0).ravel(),
                }
            )
            if not include_self:
                out = out[out["query_id"] != out["neighbor_id"]]
            yield out

    local = codes.select(id_col, code_col).mapInPandas(
        op,
        f"query_id {q_type}, neighbor_id {c_type}, approx_similarity double",
    )
    return _merge_topk(local, k, "approx_similarity")


def ivfpq_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 3,
    m: int = 8,
    bits: int = 6,
    include_self: bool = False,
    seed: int = 42,
    max_query_rows: int = 100_000,
    residual: bool = True,
    prebuilt: tuple | None = None,
) -> DataFrame:
    """IVF-PQ composition — the full compressed-index search shape
    (Faiss IndexIVFPQ; reference index-description family,
    app/vector_search.py:42-47): the corpus lives as (bucket, 8-byte
    PQ code) rows; a query probes its ``n_probe`` nearest coarse
    centroids and ADC-scores ONLY the codes in those buckets.

    ``residual=True`` (IndexIVFPQ's actual model) quantizes
    ``x − c_bucket`` instead of ``x``: codebooks train on residuals,
    codes encode residuals (bucket carried through ``pq_encode`` —
    no join-back), and each (query, probed bucket) pair gets its own
    ADC table built from ``q − c_bucket``. Residual variance ≪ vector
    variance, so distortion drops at the same 8-byte code budget; the
    cost is ``n_probe`` ADC tables per query instead of one
    (driver-built: pairs × m × 2^bits doubles — keep
    ``max_query_rows`` modest at high ``bits``).

    Data movement at scale: corpus vectors are read once to build
    buckets + codes (map-side against broadcast centroids/codebooks);
    the search itself joins a tiny (query, bucket) table against the
    code table on ``bucket`` — one shuffle keyed by bucket, candidate
    volume = probed share of the corpus, each candidate 8 bytes.
    Approximate on two axes (coarse pruning + quantized distances);
    planted-duplicate retrieval is the test contract.

    ``prebuilt`` = (bucketed_codes DataFrame, codebooks, centers)
    skips the whole build side — the memoized-restart path fed by
    ``index_store.load_or_build_pq(residual_centroids=...)`` (the
    reference's load-instead-of-rebuild, app/main.py:177-190). The
    ``m``/``residual`` args must match how the artifact was built;
    ``m`` is re-derived from the codebooks to keep them consistent.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if prebuilt is not None:
        bucketed_codes, books, centers = prebuilt
        if centers is None or "bucket" not in bucketed_codes.columns:
            raise ValueError(
                "prebuilt IVF-PQ serving needs a RESIDUAL artifact "
                "(coarse centers + bucketed code table) — build it via "
                "index_store.load_or_build_pq(residual_centroids=...); "
                "a plain-PQ artifact is served by pq_topk_search"
            )
        books = np.asarray(books)
        m = books.shape[0]
        residual = True
    else:
        # ---- build side: one bucket per corpus vector + PQ codes
        # (corpus counted ONCE, shared by the quantizer and codebook
        # training — each would otherwise run its own count job)
        n_corpus = corpus.count()
        assigned, centers = ivf_assign(
            corpus, vec_col, n_centroids, n_probe=1, seed=seed, id_col=id_col,
            n_rows=n_corpus,
        )
        books = pq_train(
            corpus,
            vec_col,
            m=m,
            bits=bits,
            seed=seed,
            centers=centers if residual else None,
            n_rows=n_corpus,
        )
        if residual:
            # bucket rides through the encoder — no join-back shuffle
            bucketed_codes = pq_encode(
                assigned, books, id_col, vec_col, centers=centers,
                bucket_col="bucket",
            )
        else:
            codes = pq_encode(corpus, books, id_col, vec_col)
            bucketed_codes = assigned.select(id_col, "bucket").join(codes, id_col)

    # ---- query side: probe n_probe nearest centroids (driver-local:
    # the query set is bounded, the centroid table is tiny)
    q_type = queries.schema[id_col].dataType.simpleString()
    n_type = corpus.schema[id_col].dataType.simpleString()
    q_ids, q_mat = _bounded_query_matrix(
        queries, id_col, vec_col, max_query_rows
    )
    if len(q_ids) == 0:
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {q_type}, neighbor_id {n_type}, "
            "approx_similarity double, rank int",
        )
    cmat = np.asarray(centers, dtype=np.float64)
    cd = (
        (q_mat * q_mat).sum(axis=1)[:, None]
        - 2.0 * (q_mat @ cmat.T)
        + (cmat * cmat).sum(axis=1)[None, :]
    )
    probe = np.argsort(cd, axis=1)[:, : min(n_probe, len(cmat))]
    spark = queries.sparkSession

    # ---- ADC scoring of candidates in probed buckets: one stacked
    # (pairs, m, 2^bits) table array, addressed by a DENSE pair-row
    # index (`__pair`) that rides the probes frame through the bucket
    # join — the UDF gathers a whole Arrow batch with one
    # fancy-indexed numpy op and zero per-row Python (no dict hop:
    # the join already knows which (query, bucket) pair each
    # candidate came from, so ship the table row id itself). One table
    # PER PROBE PAIR because under residual encoding the lookup values
    # depend on the probed centroid: table[p, j, e] =
    # ‖(q_p − c_bucket(p))_j − books[j][e]‖².
    sub = q_mat.shape[1] // m
    n_q, p_width = probe.shape
    qrep = np.repeat(np.arange(n_q), p_width)  # pair → query row
    brep = probe.ravel()  # pair → bucket
    resid = q_mat[qrep]
    if residual:
        resid = resid - cmat[brep]
    tabs_arr = np.stack(
        [
            (
                (resid[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :])
                ** 2
            ).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )  # (pairs, m, 2^bits)
    probe_rows = [
        (qid.item() if hasattr(qid, "item") else qid, int(b), r)
        for r, (qid, b) in enumerate(zip(q_ids[qrep], brep))
    ]
    probes_df = spark.createDataFrame(
        probe_rows, f"query_id {q_type}, bucket int, __pair int"
    )
    bc = spark.sparkContext.broadcast(tabs_arr)

    def _adc(pair_s, code_s):
        tabs = bc.value
        if len(pair_s) == 0:
            return pd.Series([], dtype=float)
        ridx = pair_s.to_numpy(dtype=np.int64)
        cmat_codes = np.asarray(list(code_s), dtype=np.int64)  # (n, m)
        picked = tabs[ridx[:, None], np.arange(tabs.shape[1])[None, :], cmat_codes]
        return pd.Series(picked.sum(axis=1))

    adc_udf = F.pandas_udf(_adc, T.DoubleType())

    cand = probes_df.join(
        bucketed_codes.withColumnRenamed(id_col, "neighbor_id"), "bucket"
    )
    if not include_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            F.lit(1.0) - adc_udf(F.col("__pair"), F.col("pq_code")) / 2.0
        ).alias("approx_similarity"),
    )
    return _merge_topk(scored, k, "approx_similarity")


def shard_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    use_faiss: str = "auto",
    hnsw_m: int = 32,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """V5 for corpus-at-scale with a bounded query set — the sharded
    index-serving shape, and the honest distributed equivalent of the
    reference's HNSW tier (INDEX_DESCRIPTION=HNSW32, app/main.py:47,
    app/vector_search.py:42-47): where the reference builds ONE
    in-RAM graph over the whole corpus, this shards the corpus across
    partitions, searches each shard independently with a local index,
    and merges per-shard top-k with a window — queries × shards
    candidate rows shuffle, the corpus itself never moves.

    Per-shard index: ``use_faiss='auto'`` builds a faiss
    ``IndexHNSWFlat(dim, hnsw_m)`` per Arrow batch when faiss is
    importable (absent in this container — the numpy path is the one
    exercised by tests); otherwise exact BLAS top-k per shard, making
    the merged result exact (equal to ``knn.knn_join``,
    property-tested). HNSW recall caveats apply only to the faiss
    path, per shard.

    Contrast with the broadcast tiers: ``knn.knn_join`` collects the
    CORPUS (right side) to the driver — inverted here, the QUERY set
    is the broadcast side (guarded by ``max_query_rows``), which is
    the regime of interactive/eval search against a huge lake.
    """
    import numpy as np
    import pandas as pd

    q_ids, q_mat = _bounded_query_matrix(
        queries, id_col, vec_col, max_query_rows, dtype=np.float32
    )
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def op(batches):
        qids, qmat = bc.value
        if len(qids) == 0:
            return
        qm64 = qmat.astype(np.float64)
        faiss = None
        if use_faiss in ("auto", "force"):
            try:
                import faiss as _faiss  # noqa: F401

                faiss = _faiss
            except ImportError:
                if use_faiss == "force":
                    raise
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy()
            cmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            # +1 survives self-exclusion, +64 keeps equal-similarity
            # ties at the cut alive for the merge's asc-id tie-break
            # (same slack policy as knn.knn_join: exact duplicates —
            # this project's core domain — produce wide sim ties)
            kk = min(k + 65, len(cids))
            if faiss is not None:
                index = faiss.IndexHNSWFlat(cmat.shape[1], hnsw_m)
                index.add(cmat.astype(np.float32))
                # L2 on unit vectors ≡ cosine ordering (SURVEY §2.9 V3)
                _, nbr = index.search(qmat, kk)
                nbr = np.clip(nbr, 0, len(cids) - 1)  # -1 pad slots
                # score ONLY the kk gathered candidates — a full
                # query×shard matmul would redo the brute-force work
                # the graph index exists to avoid
                sims = np.einsum("qd,qkd->qk", qm64, cmat[nbr])
                cand_ids = cids[nbr]
            else:
                sims_all = qm64 @ cmat.T  # (n_queries, n_shard)
                if sims_all.shape[1] > kk:
                    part = np.argpartition(-sims_all, kk - 1, axis=1)[:, :kk]
                else:
                    part = np.tile(np.arange(sims_all.shape[1]), (len(qids), 1))
                sims = np.take_along_axis(sims_all, part, axis=1)
                cand_ids = cids[part]
            n_q, width = sims.shape
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, width),
                    "neighbor_id": cand_ids.ravel(),
                    "similarity": sims.ravel(),
                }
            )
            if faiss is not None:
                # clipped -1 pad slots can duplicate a candidate
                out = out.drop_duplicates(["query_id", "neighbor_id"])
            if not include_self:
                out = out[out["query_id"] != out["neighbor_id"]]
            yield out

    q_type = queries.schema[id_col].dataType.simpleString()
    c_type = corpus.schema[id_col].dataType.simpleString()
    local = corpus.select(id_col, vec_col).mapInPandas(
        op, f"query_id {q_type}, neighbor_id {c_type}, similarity double"
    )
    return _merge_topk(local, k, "similarity")


def auto_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    broadcast_row_budget: int = 1_000_000,
    bits_per_band: int | None = None,
    num_bands: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Size-dispatched top-k search facade — the default entry point
    for V5-style queries so no public path reaches the driver-collect
    broadcast tier on a corpus that can't fit one broadcast:

    - corpus ≤ broadcast_row_budget → exact blocked-BLAS
      (`knn.knn_join`, f32 broadcast matrix), else
    - relational SRP-LSH search (`srp_topk_search`) — no driver
      collect, shuffles (id, band, bucket) triples only.

    Output contract of both tiers: (query_id, neighbor_id,
    similarity, rank), desc-similarity/asc-id tie-break.

    The dispatch probe is a bounded ``limit(budget+1).count()``. If
    the SRP tier is chosen AND the banding knobs are left ``None``,
    one FULL corpus count follows to feed ``srp_parameter_plan``
    (same cost class as the IVF tier sizing its centroids); pass
    explicit ``bits_per_band``/``num_bands`` (e.g. from an
    ``evaluate.srp_recall_sweep`` run) to skip both the count and the
    planner — explicit knobs are always honored verbatim.
    """
    n = corpus.limit(broadcast_row_budget + 1).count()
    if n <= broadcast_row_budget:
        from . import knn

        out = knn.knn_join(
            queries, id_col, vec_col, k=k, include_self=include_self,
            right=corpus,
        )
        return out.select(
            "query_id", "neighbor_id",
            F.round("similarity", 4).alias("similarity"), "rank",
        )
    if bits_per_band is None or num_bands is None:
        # no explicit knobs: re-plan the banding for the corpus's true
        # size (one full count — the price the IVF tier also pays)
        # instead of a fixed default that goes candidate-quadratic at
        # scale. 0.9 operating cosine: top-k search quality is carried
        # by the high-similarity neighbors, the band-cap keeps the
        # signature mass bounded either way.
        plan = srp_parameter_plan(corpus.count(), 0.9)
        bits_per_band = plan["bits_per_band"]
        num_bands = plan["num_bands"]
    return srp_topk_search(
        queries, corpus, k=k, id_col=id_col, vec_col=vec_col,
        bits_per_band=bits_per_band, num_bands=num_bands,
        include_self=include_self, seed=seed,
    )


def index_for_description(description: str):
    """Map the reference's INDEX_DESCRIPTION strings to a join strategy
    (reference: app/vector_search.py:42-47): 'Flat' → exact, 'IVF…' →
    ivf_similarity_join, anything else (LSH, HNSW…, the graph-index
    family) → banded SRP-LSH, the cosine-native approximate tier that
    actually scales. 'LSH…' deliberately does NOT route to MLlib's
    BucketedRandomProjectionLSH: that tier is degenerate on high-dim
    unit vectors (see ``_BRP_LSH_WARNING``) and is reachable only by
    explicitly calling ``lsh_similarity_join``, which warns. For
    SEARCH-shaped workloads (query set vs corpus) the HNSW analog is
    ``shard_topk_search`` — per-shard graph index (faiss, when
    importable) + window merge."""
    import functools
    import re

    from . import knn

    d = description.strip().lower()
    if d == "flat":
        return knn.similarity_pairs
    if d.startswith("opq"):
        # Faiss-style 'OPQ16,IVF100,PQ8' / 'OPQ16,PQ8': the OPQ
        # pre-transform is an orthonormal rotation — it changes codes,
        # never cosine values — so the PAIR-JOIN strategy follows the
        # inner segment (IVF coarse partitioning if present, else the
        # banded-SRP tier). The rotated SEARCH tier itself
        # (opq_train/opq_topk_search) is dispatched by
        # VectorSearch.search, where the trained model is memoizable.
        inner = d.split(",", 1)[1] if "," in d else ""
        if inner.startswith("ivf"):
            return index_for_description(inner)
        return srp_lsh_similarity_join
    if d.startswith("rabitq"):
        # 1-bit codes change the SEARCH economics, never cosine
        # values — the pair-join strategy follows the inner segment
        # like OPQ's (IVF coarse partitioning when present, else the
        # banded-SRP tier); the 1-bit search tier itself is
        # dispatched by VectorSearch.search where the model/codes
        # are memoizable.
        inner = d.split(",", 1)[1] if "," in d else ""
        if inner.startswith("ivf"):
            return index_for_description(inner)
        return srp_lsh_similarity_join
    if d.startswith("ivf"):
        # Faiss-style 'IVF100,Flat' → 100 coarse centroids
        m = re.match(r"ivf(\d+)", d)
        if m:
            return functools.partial(
                ivf_similarity_join, n_centroids=int(m.group(1))
            )
        return ivf_similarity_join
    return srp_lsh_similarity_join


def parse_opq_description(description: str):
    """Parse a Faiss-style OPQ descriptor — ``OPQ<m>[,IVF<c>][,PQ<m2>]``
    → ``(pq_m, ivf_centroids | None)``. The subquantizer count the
    codebooks train with is the PQ segment's when present (Faiss's
    convention pairs OPQ<m> with PQ<m>; a mismatch follows the PQ
    side, which is what actually shapes the codes), else the OPQ
    segment's. Raises ValueError on a non-OPQ descriptor."""
    import re

    segs = [s.strip() for s in description.strip().lower().split(",")]
    mo = re.match(r"opq(\d+)", segs[0])
    if not mo:
        raise ValueError(f"not an OPQ descriptor: {description!r}")
    m = int(mo.group(1))
    ivf = None
    # per-SEGMENT matching: 'opq16' itself contains the substring
    # 'pq16', so a whole-string search would misread the OPQ token
    for s in segs[1:]:
        iv = re.match(r"ivf(\d+)", s)
        pq = re.match(r"pq(\d+)", s)
        if iv:
            ivf = int(iv.group(1))
        elif pq:
            m = int(pq.group(1))
    return m, ivf


# ------------------------------------------------------ scalar quantization


def sq8_train(df: DataFrame, vec_col: str = "embedding"):
    """Train the 8-bit scalar quantizer (Faiss ``ScalarQuantizer``
    QT_8bit model): per-DIMENSION min/max over the corpus, so each
    float stores as one byte on the trained affine grid — d bytes per
    vector (4× vs f32, 32× vs f64), the storage tier between flat and
    PQ.

    One aggregation pass with 2·d min/max expressions — partial aggs
    combine map-side, nothing explodes, no shuffle of vectors; the 2·d
    doubles come back to the driver (constant-size artifact, like the
    IVF centroids / PQ codebooks). Returns ``(vmin, vmax)`` lists.
    """
    dim = df.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    row = df.agg(
        *[
            F.min(F.element_at(F.col(vec_col), i + 1)).alias(f"n{i}")
            for i in range(dim)
        ],
        *[
            F.max(F.element_at(F.col(vec_col), i + 1)).alias(f"x{i}")
            for i in range(dim)
        ],
    ).collect()[0]
    vmin = [row[f"n{i}"] for i in range(dim)]
    vmax = [row[f"x{i}"] for i in range(dim)]
    return vmin, vmax


def _sq8_grid(vmin, vmax):
    vmin_c = F.array(*[F.lit(float(v)) for v in vmin])
    rng_c = F.array(
        *[F.lit(float(hi) - float(lo)) for lo, hi in zip(vmin, vmax)]
    )
    return vmin_c, rng_c


def sq8_encode(
    df: DataFrame,
    vmin,
    vmax,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors onto the trained 8-bit grid:
    ``code_i = round((x_i − vmin_i) · 255 / range_i)``, clamped to
    [0, 255] (clamping matters for QUERY vectors outside the trained
    range; corpus codes land in-range by construction). Zero-range
    dimensions (constant across the corpus) encode as 0.

    Pure JVM ``transform`` against literal grid arrays — map-side,
    codegen, no UDF. Returns ``(id, sq8_code array<int>)``.
    """
    vmin_c, rng_c = _sq8_grid(vmin, vmax)
    code = F.transform(
        F.arrays_zip(F.col(vec_col).alias("x"), vmin_c.alias("lo"),
                     rng_c.alias("r")),
        lambda t: F.when(t["r"] == 0.0, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.round((t["x"] - t["lo"]) * 255.0 / t["r"], 0).cast(
                        "int"
                    ),
                ),
            )
        ),
    )
    return df.select(F.col(id_col), code.alias("sq8_code"))


def sq8_topk_search(
    queries: DataFrame,
    codes: DataFrame,
    vmin,
    vmax,
    k: int = 3,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cosine search over the SQ8-compressed corpus: decode each
    code back to its grid point (``vmin_i + code_i · range_i / 255``)
    and run the exact blocked-BLAS tier on the reconstructions —
    queries stay full-precision (the asymmetric pattern, like ADC).
    Decode is a map-side ``transform``; the corpus at rest stays 1
    byte/dim.
    """
    from job_post_similarity_spark.operators import knn

    vmin_c, rng_c = _sq8_grid(vmin, vmax)
    decoded = codes.select(
        F.col(id_col),
        F.transform(
            F.arrays_zip(
                F.col("sq8_code").alias("c"),
                vmin_c.alias("lo"),
                rng_c.alias("r"),
            ),
            lambda t: t["lo"]
            + t["c"].cast("double") * t["r"] / F.lit(255.0),
        ).alias(vec_col),
    )
    return knn.knn_join(queries, query_id, vec_col, k=k, right=decoded)


def rademacher_signs(
    n_planes: int, dim: int, seed: int = 1
) -> list[list[int]]:
    """Deterministic ±1 projection matrix from md5 bits (the
    Achlioptas/Rademacher database-friendly random projection) —
    generated by hashlib, NOT numpy, so an independent engine (or an
    oracle SQL literal produced by this same function) reproduces it
    exactly."""
    import hashlib

    signs = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            row.append(1 if h[0] & 1 else -1)
        signs.append(row)
    return signs


def srp_rademacher_pairs_oracle_tier(
    df: DataFrame,
    signs: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """Banded signed-random-projection similarity join, deterministic
    ORACLE tier: ±1 (Rademacher) planes over MICRO-QUANTIZED integer
    components, so every projection is an order-independent integer
    sum — engine-exact by construction, unlike the production
    ``srp_lsh_similarity_join`` whose numpy ``x @ H.T`` BLAS
    accumulation order no SQL fold reproduces. Same algorithm shape:
    sign bits → per-band buckets → bucket-join candidates →
    exact-cosine (4dp) verify on candidates only.

    ``signs`` comes from ``rademacher_signs`` — pass the SAME call's
    output to the oracle generator so Spark and SQL cannot drift.

    Output: ``(id1, id2, similarity)`` pairs clearing the threshold,
    sorted. Scale shape mirrors the production tier: signatures
    map-side, one bucket-join shuffle, verify on candidates only.
    """
    n_planes = len(signs)
    if n_planes % bits_per_band:
        raise ValueError("len(signs) must be a multiple of bits_per_band")
    num_bands = n_planes // bits_per_band
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        _micro_quant(vec_col).alias("__q"),
    )

    def plane_dot(p: int):
        srow = F.array(*[F.lit(s) for s in signs[p]])
        return F.aggregate(
            F.zip_with("__q", srow, lambda q, s: q * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def band_bucket(b: int):
        return sum(
            (
                F.when(
                    plane_dot(b * bits_per_band + j) > 0, F.lit(1 << j)
                ).otherwise(F.lit(0))
                for j in range(bits_per_band)
            ),
            F.lit(0),
        ).cast("long")

    banded = base.select(
        "id",
        "__v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(b).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "__v", "bb.band", "bb.bucket")
    from ..functions import vectors as V

    cands = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id1"),
            F.col("y.id").alias("id2"),
            F.col("x.__v").alias("v1"),
            F.col("y.__v").alias("v2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return (
        cands.select(
            "id1",
            "id2",
            F.round(V.dot_cosine("v1", "v2"), 4).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
        .orderBy("id1", "id2")
    )


def ivf_stratified_topk_search(
    df: DataFrame,
    query_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 8,
    n_probe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """IVF top-k SEARCH, deterministic oracle tier: coarse quantizer
    = the DECIMAL-exact stratified centroids (pmod(id, k) strata, the
    ``stratified_semantic_dedup`` quantizer), probe the ``n_probe``
    nearest centroids to the query, exact 4dp-cosine top-k inside
    the probed inverted lists only — the Faiss IVF ``nprobe`` search
    shape with every step replayable by a SQL engine (the production
    ``ivf_topk_search`` trains its quantizer with Lloyd, a learned
    artifact no oracle can re-derive).

    Probe selection runs DRIVER-side as a sequential left-to-right
    float fold over the same rounded-6 centroid components the
    corpus assignment inlines — the identical accumulation order
    DuckDB's ``list_dot_product`` uses, so the probed set matches
    the oracle's bit-for-bit.

    Output: ``(id, cluster, similarity)`` top-k (sim desc, id asc).
    Scale shape: assignment is the map-side k×d-literal fold; the
    probe filter prunes the corpus to n_probe/k of its rows BEFORE
    any scoring — the whole point of IVF.
    """
    from .knn import label_centroids, nearest_centroid_classify

    tagged = df.withColumn(
        "__lab", F.pmod(F.col(id_col).cast("long"), F.lit(k_clusters))
    )
    cent_rows = label_centroids(
        tagged, vec_col, "__lab", decimals=6
    ).collect()
    cents: dict = {}
    for r in cent_rows:
        cents.setdefault(int(r["label"]), {})[r["pos"]] = float(
            r["centroid"]
        )
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not qrow:
        raise ValueError(f"query id {query_id!r} not found")
    qv = [float(x) for x in qrow[0][0]]
    probe_scores = []
    for lab in sorted(cents):
        cv = [cents[lab][p] for p in sorted(cents[lab])]
        acc = 0.0
        for a, b in zip(qv, cv):  # sequential LTR fold, = SQL's
            acc += a * b
        probe_scores.append((-acc, lab))
    probed = [lab for _s, lab in sorted(probe_scores)[:n_probe]]
    asg = nearest_centroid_classify(
        tagged, id_col, vec_col, "__lab"
    ).select(
        F.col(id_col),
        F.col("pred_label").cast("int").alias("cluster"),
    )
    qlit = F.array(*[F.lit(x) for x in qv])
    sim = F.round(
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                qlit,
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        4,
    )
    return (
        df.join(asg, id_col)
        .filter(
            F.col("cluster").isin(probed)
            & (F.col(id_col) != query_id)
        )
        .select(id_col, "cluster", sim.alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(topk)
    )


def pq_stratified_adc_search(
    df: DataFrame,
    query_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 8,
    topk: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance top-k, deterministic ORACLE tier: the
    Faiss IndexPQ search shape — per-subspace codebooks, vectors
    stored as m codes, query scored via a precomputed per-subspace
    lookup table — with every trained artifact replaced by one a SQL
    engine re-derives: codebooks are the DECIMAL-exact (6dp) means
    of the ``pmod(id, k)`` strata restricted to each subspace, code
    assignment is argmax DOT against the sub-codebook (ties lowest
    code; the MIPS-assignment variant — documented difference from
    the production tier's argmin-L2), and the ADC score is the
    fixed-left-to-right sum of the m table entries, rounded 4dp.
    The production ``pq_topk_search`` (Lloyd codebooks, numpy ADC)
    remains the quality path; this tier hash-proves the PIPELINE:
    subspace split → encode → table build → lookup-sum ranking.

    Scale shape mirrors production: codebooks are m×k×(d/m) literals
    (map-side assignment, no join), the query table is m×k driver
    floats, and scoring a vector touches only its m codes.
    """
    first = df.select(vec_col).head(1)
    if not first:
        raise ValueError("empty input")
    dim = len(first[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    from .knn import label_centroids

    tagged = df.withColumn(
        "__lab", F.pmod(F.col(id_col).cast("long"), F.lit(k_codes))
    )
    # ONE centroid pass over the full vectors, sliced per subspace
    # driver-side: the mean of a subvector IS the slice of the full
    # mean (and 6dp rounding is per-component, so round-then-slice ==
    # slice-then-round) — m separate per-subspace aggregates would
    # scan the corpus m times for identical numbers
    rows = label_centroids(tagged, vec_col, "__lab", decimals=6).collect()
    full: dict[int, dict[int, float]] = {}
    for r in rows:
        full.setdefault(int(r["label"]), {})[r["pos"]] = float(
            r["centroid"]
        )
    books: dict[int, dict[int, list[float]]] = {
        j: {
            lab: [full[lab][p] for p in range(j * sub, (j + 1) * sub)]
            for lab in full
        }
        for j in range(m)
    }
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not qrow:
        raise ValueError(f"query id {query_id!r} not found")
    qv = [float(x) for x in qrow[0][0]]
    # per-subspace lookup table, sequential LTR folds (= SQL's)
    table: dict[int, dict[int, float]] = {}
    for j in range(m):
        qsub = qv[j * sub : (j + 1) * sub]
        table[j] = {}
        for lab, cv in books[j].items():
            acc = 0.0
            for a, b in zip(qsub, cv):
                acc += a * b
            table[j][lab] = acc

    def sub_dot(j: int, lab: int):
        sl = F.slice(
            F.col(vec_col).cast("array<double>"), j * sub + 1, sub
        )
        cw = F.array(*[F.lit(x) for x in books[j][lab]])
        return F.aggregate(
            F.zip_with(sl, cw, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def code_term(j: int):
        # argmax via array_max over (score, -lab, payload) structs:
        # struct ordering is lexicographic, so the max is highest
        # score with ties to the LOWEST lab — and each dot fold
        # appears exactly once in the expression tree (the chained-
        # CASE formulation re-evaluated every fold per branch;
        # measured ~4x slower on this gate)
        entries = F.array(
            *[
                F.struct(
                    sub_dot(j, lab).alias("s"),
                    F.lit(-lab).alias("nl"),
                    F.lit(table[j][lab]).alias("t"),
                )
                for lab in sorted(books[j])
            ]
        )
        return F.array_max(entries).getField("t")

    score = code_term(0)
    for j in range(1, m):
        score = score + code_term(j)
    return (
        df.filter(F.col(id_col) != query_id)
        .select(id_col, F.round(score, 4).alias("score_adc"))
        .orderBy(F.desc("score_adc"), F.asc(id_col))
        .limit(topk)
    )


def ivfpq_stratified_search(
    df: DataFrame,
    query_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_coarse: int = 8,
    m: int = 8,
    k_codes: int = 8,
    n_probe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """IVF-PQ residual search, deterministic ORACLE tier — the full
    Faiss IndexIVFPQ pipeline (coarse quantize → RESIDUAL → product
    quantize → per-probe ADC tables → lookup-sum ranking) with every
    trained artifact replaced by a SQL-rederivable one:

    - coarse centroids = stratified DECIMAL means (the IVF twin's
      quantizer), assignment argmax dot, ties lowest cluster;
    - residuals = ``round(x − c, 6)`` component-wise (the 6dp round
      keeps the later DECIMAL(27,10) casts exact — a raw double
      residual would hit decimal rounding ambiguity);
    - PQ sub-codebooks = DECIMAL means of residual subvectors over
      the ``pmod(id DIV k_coarse, k_codes)`` strata (a second,
      decorrelated stratification key);
    - encode argmax dot per subspace, ties lowest code;
    - query: probe the ``n_probe`` nearest coarse centroids; per
      probe build the ADC table from the query's OWN residual vs
      that centroid (driver-side sequential LTR folds); score =
      fixed-LTR m-term sum of the candidate's probe table entries,
      rounded 4dp.

    Output: ``(id, cluster, score_adc)`` top-k (score desc, id asc).
    The production ``ivfpq_topk_search`` (Lloyd + numpy) remains the
    quality path; this twin hash-proves the composition.
    """
    first = df.select(vec_col).head(1)
    if not first:
        raise ValueError("empty input")
    dim = len(first[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    from .knn import label_centroids, nearest_centroid_classify

    # ---- coarse quantizer + corpus assignment (the IVF twin) ----
    tagged = df.withColumn(
        "__lab", F.pmod(F.col(id_col).cast("long"), F.lit(k_coarse))
    )
    crows = label_centroids(tagged, vec_col, "__lab", decimals=6).collect()
    coarse: dict[int, list[float]] = {}
    tmp: dict = {}
    for r in crows:
        tmp.setdefault(int(r["label"]), {})[r["pos"]] = float(r["centroid"])
    for lab, d in tmp.items():
        coarse[lab] = [d[p] for p in sorted(d)]
    asg = nearest_centroid_classify(
        tagged, id_col, vec_col, "__lab"
    ).select(
        F.col(id_col),
        F.col("pred_label").cast("int").alias("cluster"),
    )
    with_cluster = df.join(asg, id_col)

    # ---- residuals: round6(x − c_cluster), cluster-chosen literal
    res = F.lit(None).cast("array<double>")
    for lab in sorted(coarse, reverse=True):
        clit = F.array(*[F.lit(x) for x in coarse[lab]])
        res = F.when(
            F.col("cluster") == lab,
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                clit,
                lambda x, c: F.round(x - c, 6),
            ),
        ).otherwise(res)
    base = with_cluster.withColumn("__res", res)

    # ---- PQ sub-codebooks over residual strata ----
    base2 = base.withColumn(
        "__lab2",
        F.pmod(
            F.expr(f"CAST({id_col} AS LONG) DIV {int(k_coarse)}"),
            F.lit(k_codes),
        ),
    ).transform(cache_auto)
    base2.count()
    # one residual-centroid pass, sliced per subspace driver-side
    # (subvector means == slices of the full mean; see the PQ twin)
    rows = label_centroids(base2, "__res", "__lab2", decimals=6).collect()
    rfull: dict[int, dict[int, float]] = {}
    for r in rows:
        rfull.setdefault(int(r["label"]), {})[r["pos"]] = float(
            r["centroid"]
        )
    books: dict[int, dict[int, list[float]]] = {
        j: {
            lab: [rfull[lab][p] for p in range(j * sub, (j + 1) * sub)]
            for lab in rfull
        }
        for j in range(m)
    }

    # ---- query: probes + per-probe residual ADC tables ----
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not qrow:
        raise ValueError(f"query id {query_id!r} not found")
    qv = [float(x) for x in qrow[0][0]]
    probe_scores = []
    for lab in sorted(coarse):
        acc = 0.0
        for a, b in zip(qv, coarse[lab]):
            acc += a * b
        probe_scores.append((-acc, lab))
    probed = [lab for _s, lab in sorted(probe_scores)[:n_probe]]

    # python round() is half-even; the SQL/JVM round(x − c, 6) is
    # HALF_UP — emulate HALF_UP so the query residual matches the
    # corpus-side expression bit-for-bit
    import math

    def _round6(x: float) -> float:
        return math.floor(abs(x) * 1e6 + 0.5) / 1e6 * (
            1 if x >= 0 else -1
        )

    tables: dict[int, dict[int, dict[int, float]]] = {}
    for pl in probed:
        qres = [_round6(a - b) for a, b in zip(qv, coarse[pl])]
        tables[pl] = {}
        for j in range(m):
            qsub = qres[j * sub : (j + 1) * sub]
            tables[pl][j] = {}
            for lab, cv in books[j].items():
                acc = 0.0
                for a, b in zip(qsub, cv):
                    acc += a * b
                tables[pl][j][lab] = acc

    # ---- encode + score candidates in probed clusters ----
    def probe_term(j: int):
        # one array_max per subspace: struct (score, -lab, t_probe...)
        # — lexicographic struct ordering gives argmax with lowest-
        # lab ties, each residual fold evaluated exactly once; the
        # winning struct carries every probe's table entry and the
        # row's cluster picks one
        entries = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.slice(F.col("__res"), j * sub + 1, sub),
                            F.array(
                                *[F.lit(x) for x in books[j][lab]]
                            ),
                            lambda x, c: x * c,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("s"),
                    F.lit(-lab).alias("nl"),
                    *[
                        F.lit(tables[pl][j][lab]).alias(f"t{pi}")
                        for pi, pl in enumerate(probed)
                    ],
                )
                for lab in sorted(books[j])
            ]
        )
        win = F.array_max(entries)
        term = F.lit(None).cast("double")
        for pi, pl in enumerate(probed):
            term = F.when(
                F.col("cluster") == pl, win.getField(f"t{pi}")
            ).otherwise(term)
        return term

    score = probe_term(0)
    for j in range(1, m):
        score = score + probe_term(j)
    out = (
        base2.filter(
            F.col("cluster").isin(probed)
            & (F.col(id_col) != query_id)
        )
        .select(
            id_col, "cluster", F.round(score, 4).alias("score_adc")
        )
        .orderBy(F.desc("score_adc"), F.asc(id_col))
        .limit(topk)
    )
    return out


# ---------------------------------------------------------------------------
# NN-Descent kNN-graph construction (Dong, Moses & Li, WWW 2011) — the
# graph-index family member that actually distributes. HNSW itself is a
# sequential, pointer-chasing in-memory structure (the reference's
# default index string "HNSW32", app/main.py:47); the published way to
# get an HNSW-quality neighbor graph OUT of a cluster is NN-Descent:
# start from an arbitrary kNN guess and iteratively improve it with the
# observation that "a neighbor of a neighbor is likely a neighbor".
# Each round is two equi-join shuffles on the node key + one
# partitioned-window top-k — no global structure, no pointer chasing —
# and empirically converges in O(log n)-ish rounds. The resulting
# (id, neighbor) table is exactly what offline ANN-serving builds ship
# to searchers (shard_topk_search serves it).
# ---------------------------------------------------------------------------


def _micro_quant(vec_col: str) -> Column:
    """Micro-quantized integer components (round(x*1e6) as long) — the
    engine-exact similarity currency shared by the NN-Descent builder,
    the beam searcher and the Rademacher-SRP twin. |component| <= 1 on
    unit vectors => |q| <= 1e6 and a d-dim integer dot is bounded by
    d*1e12 (the 1e15 shift in _sim_ppm_expr assumes d <= 1000)."""
    # one F.expr instead of the lambda-built transform: the python
    # higher-order-function API pays dozens of py4j roundtrips per
    # construction and this expression sits in EVERY ANN plan, built
    # per round/hop — measured ~1 ms per roundtrip of pure driver
    # latency on warm serve/refresh/insert rows. The SQL string
    # parses to the identical Catalyst expression (plan- and
    # result-byte-equal; pinned by test_quant_expr_equals_lambda).
    # Identifiers are backtick-quoted (ADVICE r11): vec_col is a
    # public VectorSearch parameter, and names needing quoting
    # (dots, spaces, hyphens) resolved through the old F.col path
    # but would mis-parse interpolated raw.
    return F.expr(
        f"transform(cast({_bq(vec_col)} as array<double>), "
        f"x -> cast(round(x * 1000000.0, 0) as long))"
    )


def _bq(name: str) -> str:
    """Backtick-quote a column reference with F.col's conventions:
    dots separate QUALIFIERS (``a.q`` → ```a`.`q```, so alias-
    qualified references keep resolving), every segment is quoted (so
    spaces/hyphens/keywords parse), and a name the caller already
    backtick-quoted passes through untouched — exactly the contract
    the pre-F.expr ``F.col`` path gave these helpers."""
    if "`" in name:
        return name
    return ".".join("`" + p + "`" for p in name.split("."))


def _int_dot(c1: str, c2: str) -> Column:
    """Order-independent integer dot of two micro-quantized arrays.
    F.expr for the same py4j-chatter reason as ``_micro_quant``;
    identifiers backtick-quoted like ``_micro_quant``'s."""
    return F.expr(
        f"aggregate(zip_with({_bq(c1)}, {_bq(c2)}, (a, b) -> a * b), "
        f"cast(0 as long), (acc, x) -> acc + x)"
    )


# floor-divide a (possibly negative) micro² dot by 1e6: Spark's `div`
# truncates toward zero while DuckDB's `//` floors, and they agree only
# on non-negative operands — shift by 1e15 (>= dim*1e12 for dim <= 1000)
# first, subtract 1e9 after. Oracles replay the same shifted form.
_SIM_PPM_SQL = "(dot + 1000000000000000L) div 1000000L - 1000000000L"


def _micro_quant_np(vecs):
    """numpy twin of ``_micro_quant`` for the driver-local replays.
    Spark's ``round(x*1e6, 0)`` is HALF_UP (away from zero) on the
    double product, and inputs widen float->double BEFORE the
    multiply, like the column cast. The remainder ``y - trunc(y)`` is
    exact in floating point, so comparing it with 0.5 reproduces the
    rounding for every double (a ``floor(|y| + 0.5)`` sum can itself
    round up across the .5 boundary, e.g. at y = 0.5 - 2**-54)."""
    import numpy as np

    y = np.asarray(vecs, dtype=np.float64) * 1_000_000.0
    t = np.trunc(y)
    return (t + np.sign(y) * (np.abs(y - t) >= 0.5)).astype(np.int64)


def _sim_ppm_np(dot):
    """numpy twin of ``_SIM_PPM_SQL``: Spark's ``div`` truncates toward
    zero, so the shifted dot divides by magnitude and keeps its sign."""
    import numpy as np

    a = np.asarray(dot, dtype=np.int64) + 10**15
    return np.sign(a) * (np.abs(a) // 10**6) - 10**9


def _check_beam_args(k: int, beam: int, hops: int) -> None:
    """Argument contract of the beam search (and of ``graph_insert``,
    whose navigation is one)."""
    if k < 1 or hops < 0:
        raise ValueError("k must be >= 1 and hops >= 0")
    if beam <= k:
        # the final top-k is cut from the LAST beam, and the
        # self-match can occupy one slot — beam <= k silently
        # under-serves to beam-1 neighbors (HNSW's ef > k rule)
        raise ValueError("beam must exceed k")


def nn_descent_knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    warm_edges: DataFrame | None = None,
    assume_append_only: bool = False,
) -> DataFrame:
    """Build an approximate kNN graph by NN-Descent.

    Deterministic by construction, so the SAME implementation is both
    the production tier and the oracle-graded one (no twin needed):

    - similarity = integer dot over MICRO-QUANTIZED components
      (round(x*1e6) as long; 64-dim unit vectors ⇒ |dot| ≤ 64e12,
      far inside int64) — an order-independent sum both engines
      reproduce exactly, the Rademacher-SRP policy;
    - ranking by (dot DESC, neighbor id ASC) — total order;
    - init = ring neighbors in id order (node with rank r starts with
      the k nodes at ranks (r+1..r+k) mod n) via the scale-safe
      ``global_rank`` (no single-partition window).

    Round: symmetrize the current graph (union with its reverse —
    NN-Descent explores both directions), join it to itself on the
    middle node (neighbor-of-neighbor candidates), union the current
    edges, dedup, score, keep top-k per node. NEW-FLAG candidate
    pruning (Dong et al.'s incremental search): only NoN pairs with
    at least one NEW hop (an edge absent from the previous round's
    graph) are generated — a both-old pair was already a candidate in
    the round where its younger edge arrived, and per-node top-k sets
    improve monotonically (an edge that lost a window stays displaced
    forever), so the skipped candidates are exactly the ones that
    lost before and would lose again: a COLD build's output is
    BYTE-IDENTICAL per round to the unpruned version (what keeps the
    unrolled DuckDB replay gate valid; warm caveats below), while
    late-round candidate mass tracks the
    CHANGED edge set instead of n·k². Candidate volume is ≤ ~4·n·k²
    in round 1 and ∝ changed·k² after.

    Output: (id, neighbor_id, rank, sim_ppm) — rank 1..k by
    descending similarity, sim_ppm = floor(dot/1e6) ≈ cosine·1e6 for
    unit vectors. 100 TB shape: per-round cost is linear in n·k²,
    shuffles are node-keyed (AQE-splittable), and the driver loop
    holds no data — the Lloyd/PageRank iterative shape.

    ``warm_edges`` (columns ``(src, dst)``) seeds the init with a
    PRIOR graph's edges in addition to the ring — the warm-start path
    ``nn_descent_refresh`` uses after an incremental ``add``: old
    nodes start one candidate hop from converged, so 1-2 rounds
    re-converge the union instead of ``iters`` from cold. Stale edges
    pointing at rows no longer in ``df`` are dropped by the scoring
    join (inner on the current vector table). Warm edges enter
    flagged OLD — the build that produced them already explored
    their neighbor-of-neighbor pairs — so a warm round's candidate
    mass is ∝ (ring-new ∪ changed)·k, not the full n·k² a cold round
    pays: this is what makes refresh cheaper than rebuild in
    wall-clock, not just round count. Two warm caveats the cold path
    doesn't have: (a) REMOVALS — a node that lost a stored edge to a
    dropped corpus row has a degraded top-k, so its surviving edges
    re-enter NEW (handled below; pure-append refreshes pay nothing);
    (b) the "already explored" argument is exact when the stored
    graph is CONVERGED (the refresh contract's regime,
    ``graph_refresh_equals_cold_embeddings``) — edges that entered in
    a truncated build's final round have unexplored NoN, where the
    flags make warm refresh explore strictly less than the unpruned
    version would (an approximation-quality, not correctness,
    distinction: the output is still a valid kNN-graph refinement,
    and the equality gate pins the converged regime).
    """
    from pyspark.sql.window import Window

    from .windows import global_rank_with_total

    if k < 1:
        raise ValueError("k must be >= 1")
    if iters < 1:
        raise ValueError("iters must be >= 1")

    id_type = df.schema[id_col].dataType.simpleString()
    empty_schema = (
        f"id {id_type}, neighbor_id {id_type}, rank int, sim_ppm long"
    )
    base = df.select(
        F.col(id_col).alias("id"), _micro_quant(vec_col).alias("q")
    )
    # ring-init ranking, size-dispatched. The rank is a pure function
    # of the sorted id list, so under the ≤100k broadcast regime it is
    # a DRIVER-LOCAL enumeration (one column-pruned bounded collect +
    # a broadcast join back — zero exchanges), not a range repartition
    # whose partitioner SAMPLING pass plus offsets collect cost two
    # blocking rounds per build/refresh on a scheduling-floor-sized
    # corpus. Identical (id, rk) mapping either way (ids are unique by
    # the builder contract), so cold/refresh outputs are byte-equal
    # across the dispatch — the large regime keeps the scale-safe
    # global_rank (collecting 100 TB of ids is what must not happen).
    id_probe = [
        r[0] for r in df.select(id_col).limit(100_001).collect()
    ]
    small = len(id_probe) <= 100_000
    if small:
        n = len(id_probe)
        if n == 0:
            return df.sparkSession.createDataFrame([], empty_schema)
        k_eff = min(k, n - 1) if n > 1 else 0
        if k_eff == 0:
            return df.sparkSession.createDataFrame([], empty_schema)
        rk_map = df.sparkSession.createDataFrame(
            [(v, i) for i, v in enumerate(sorted(id_probe))],
            schema=f"id {id_type}, rk long",
        )
        ranked = base.join(F.broadcast(rk_map), "id")
    else:
        ranked, n = global_rank_with_total(
            base, [F.col("id")], out_col="rk"
        )
        k_eff = min(k, n - 1) if n > 1 else 0
        ranked = ranked.select("id", "q", (F.col("rk") - 1).alias("rk"))
    # size-dispatched scoring strategy: under ~100k rows the
    # quantized vector table broadcasts (≤ ~50 MB at 64 dims), which
    # removes BOTH scoring exchanges from every round — with AQE each
    # exchange is a scheduled query stage, so this halves the
    # per-round stage count at bench scale (and the node-keyed
    # repartition before the persist is skipped too: a broadcast-only
    # relation has no partitioning to co-locate). Larger corpora keep
    # the shuffle join (broadcasting the full vector table is exactly
    # what must NOT happen at 100 TB).
    # small path: the quantized table is SERVING-STATE-shaped — it is
    # referenced by every round's two scoring joins plus the warm
    # removal probe, and a persisted-but-lineaged relation makes each
    # round's (builder-time) Catalyst pass re-optimize the whole
    # upstream corpus plan per reference (measured: refresh planning
    # 2.3 s/call, ~90% of the row). localCheckpoint materializes the
    # same blocks but leaves a LEAF — each round then plans against a
    # scan. Large corpora keep the node-keyed persisted layout (a
    # lineage-free local checkpoint trades away recompute-on-evict,
    # which matters when blocks are 100 TB-scale, and the shuffle
    # joins want the co-partitioning).
    if small:
        qtab = base.localCheckpoint()
        ranked = qtab.join(F.broadcast(rk_map), "id")
    else:
        qtab = ranked.select("id", "q").repartition("id").transform(cache_auto)
    q_side = F.broadcast(qtab) if small else qtab

    # ring init: rank r -> ranks (r+1..r+k_eff) mod n
    offs = F.explode(
        F.array(*[F.lit(j) for j in range(1, k_eff + 1)])
    ).alias("j")
    lhs = ranked.select("id", "rk", offs)
    cur = (
        lhs.alias("a")
        .join(
            ranked.select(
                F.col("id").alias("nid"), F.col("rk").alias("nrk")
            ).alias("b"),
            ((F.col("a.rk") + F.col("a.j")) % F.lit(n)) == F.col("b.nrk"),
        )
        .select(F.col("a.id").alias("src"), F.col("nid").alias("dst"))
    )
    if warm_edges is not None:
        # prior edges join the ring init, flagged OLD (their NoN was
        # explored by the build that produced them); ring edges not
        # in the stored graph are NEW. dedup keeps one copy per pair
        # with the OLD flag winning (a ring ∩ stored edge was
        # explored). self-loops can't arrive (the stored graph has
        # none and the ring starts at offset 1).
        #
        # REMOVAL soundness: if the corpus dropped rows since the
        # stored build, a node that LOST an edge to the drop has a
        # degraded top-k — a pair that previously lost to the removed
        # edge could win now, so the "already explored" argument only
        # holds for edges that lost to STILL-ALIVE competitors. Every
        # surviving edge of a loss-affected node therefore re-enters
        # NEW (its NoN re-explores). ``assume_append_only`` skips the
        # detection joins when the CALLER guarantees no corpus row was
        # dropped since the stored build (the VectorSearch.add
        # contract — remove() invalidates cold, so its warm refreshes
        # are always pure-append): lost_srcs is provably empty there,
        # and at >100k rows the detection is two shuffle joins over
        # the 2·n·k warm edge table every append would otherwise pay.
        warm_all = warm_edges.select("src", "dst").dropDuplicates(
            ["src", "dst"]
        )
        if assume_append_only:
            warm = warm_all.select(
                "src", "dst", F.lit(False).alias("is_new")
            )
        else:
            corpus_ids = qtab.select(F.col("id").alias("dst"))
            if n <= 100_000:
                corpus_ids = F.broadcast(corpus_ids)
            lost_srcs = (
                warm_all.join(corpus_ids, "dst", "left_anti")
                .select("src")
                .distinct()
            )
            lost_side = lost_srcs.withColumnRenamed("src", "__lost")
            if n <= 100_000:
                lost_side = F.broadcast(lost_side)
            warm = warm_all.join(
                lost_side,
                warm_all["src"] == F.col("__lost"),
                "left",
            ).select(
                "src",
                "dst",
                F.col("__lost").isNotNull().alias("is_new"),
            )
        init = warm.unionByName(
            cur.join(
                warm.select("src", "dst"), ["src", "dst"], "left_anti"
            ).withColumn("is_new", F.lit(True))
        )
    else:
        init = cur.withColumn("is_new", F.lit(True))

    int_dot = _int_dot("q1", "q2")
    w = Window.partitionBy("src").orderBy(
        F.desc("dot"), F.asc("dst")
    )

    def score(cand: DataFrame) -> DataFrame:
        """(src, dst, is_new) → + integer dot. dst joined FIRST so the
        large regime's last exchange is hash(src) — the downstream
        per-src window then reuses it instead of re-clustering (the
        small regime broadcasts both sides; order is free there)."""
        return (
            cand.join(
                q_side.select(
                    F.col("id").alias("dst"), F.col("q").alias("q2")
                ),
                "dst",
            )
            .join(
                q_side.select(
                    F.col("id").alias("src"), F.col("q").alias("q1")
                ),
                "src",
            )
            .select("src", "dst", int_dot.alias("dot"), "is_new")
        )

    def rank_topk(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k_eff)
            .select("src", "dst", "dot", "rn", "is_new")
        )

    def sym(edges: DataFrame) -> DataFrame:
        return edges.select("src", "dst").union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )

    # localCheckpoint per round: materializes AND truncates lineage,
    # so round t's plan is a block scan, not t nested copies of every
    # prior round (an unpersist-only release left the final lineage
    # unshared — plan text and the eviction-recompute path grew
    # exponentially with rounds). At cluster scale swap for
    # checkpoint() on a reliable store if executor loss must replay.
    # the window already leaves each round hash-partitioned on src —
    # no explicit repartition needed before the checkpoint
    cur = rank_topk(score(init)).localCheckpoint(eager=False)
    # Python-side emptiness fact: a cold build's init is ALL NEW, so
    # the first round's old-side relations are empty — skip their
    # joins entirely (Spark would still schedule them). From round 2
    # on, carried edges exist and both branches are live.
    all_new = warm_edges is None
    for _ in range(iters):
        # new-flag pruning: a NoN pair needs ≥1 NEW hop. new-first
        # covers new×(new ∪ old); old-first×new-second covers the
        # rest — a both-old pair was generated the round its younger
        # edge arrived and, having lost a monotone window once, can
        # never win one later.
        if all_new:
            sym_new = sym(cur)
            sym_old = None
            sym_all = sym_new
            all_new = False
        else:
            sym_new = sym(cur.filter(F.col("is_new")))
            sym_old = sym(cur.filter(~F.col("is_new")))
            sym_all = sym_new.union(sym_old)

        def non(a: DataFrame, b: DataFrame) -> DataFrame:
            # the right side is ≤ 2·n·k (src,dst) pairs — under the
            # same ≤100k dispatch as the scoring joins it broadcasts,
            # removing both node-keyed exchanges per NoN join (the
            # flag split costs 2 joins/round; this keeps the round's
            # shuffle count at the unpruned version's level). Larger
            # corpora keep the shuffle join.
            b_mid = b.select(
                F.col("src").alias("mid"), F.col("dst").alias("dst2")
            )
            if n <= 100_000:
                b_mid = F.broadcast(b_mid)
            return (
                a.alias("a")
                .join(
                    b_mid.alias("b"),
                    F.col("a.dst") == F.col("b.mid"),
                )
                .filter(F.col("a.src") != F.col("b.dst2"))
                .select("a.src", F.col("dst2").alias("dst"))
            )

        # ONE exchange per round (guide §2.4): candidates and carried
        # edges dedup through a single hash(src) repartition — the
        # (src, dst) aggregate runs on it without re-clustering
        # (hash(src) already co-locates every (src, dst) group), the
        # broadcast scoring joins preserve it, and the per-src top-k
        # window reuses it, where the previous shape paid a second
        # hash(src) exchange to re-cluster the window input. cur rows
        # enter with fresh=false and min() poisons any candidate copy
        # of the same pair, so the surviving flag IS is_new; carried
        # edges are re-scored by the same integer arithmetic over the
        # same persisted qtab (deterministic ⇒ identical dots), so the
        # round output is byte-equal to the carried-dot shape.
        gen = non(sym_new, sym_all)
        if sym_old is not None:
            gen = gen.union(non(sym_old, sym_new))
        cand_all = (
            gen.select("src", "dst", F.lit(True).alias("fresh"))
            .union(cur.select("src", "dst", F.lit(False).alias("fresh")))
            .repartition("src")
            .groupBy("src", "dst")
            .agg(F.min("fresh").alias("fresh"))
            .select("src", "dst", F.col("fresh").alias("is_new"))
        )
        cur = rank_topk(score(cand_all)).localCheckpoint(eager=False)

    sim_ppm = F.expr(_SIM_PPM_SQL)
    return cur.select(
        F.col("src").alias("id"),
        F.col("dst").alias("neighbor_id"),
        F.col("rn").cast("int").alias("rank"),
        sim_ppm.cast("long").alias("sim_ppm"),
    ).orderBy("id", "rank")


def nn_descent_refresh(
    df: DataFrame,
    old_graph: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    assume_append_only: bool = False,
) -> DataFrame:
    """Incremental kNN-graph maintenance (the HNSW-tier ``add``
    contract, reference app/vector_search.py:85-141): instead of
    rebuilding from cold after rows are appended, warm-start
    NN-Descent over the UNION corpus from the stored graph's edges —
    old nodes begin at (or within one hop of) their converged
    neighborhoods, new rows get ring init over the union ranking, and
    the standard symmetrize→NoN→top-k rounds stitch the two together
    (a new node's ring edges reversed give old→new candidates in
    round 1). 1-2 rounds re-converge where a cold build needs 3+.

    Same integer micro-dot arithmetic and total order as the cold
    build, so on a converged result ``refresh(old ∪ new) ≡
    cold_build(old ∪ new)`` exactly — the driver-gradable equivalence
    the planted gate asserts. Edges referencing rows removed from
    ``df`` are dropped by the scoring join.

    ``df``: the FULL current corpus (old rows ∪ new rows);
    ``old_graph``: the stored ``(id, neighbor_id, ...)`` edge table.
    """
    warm = old_graph.select(
        F.col("id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return nn_descent_knn_graph(
        df,
        id_col,
        vec_col,
        k=k,
        iters=iters,
        warm_edges=warm,
        assume_append_only=assume_append_only,
    )


def graph_nav_table(
    df: DataFrame,
    graph: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The beam search's per-node navigation relation —
    ``(node, qv, nxts)``: quantized vector + grouped adjacency list —
    built ONCE as warm-serving state (a loaded Faiss index carries
    exactly this in RAM; app/vector_search.py:241-294). Callers
    persist/localCheckpoint it and pass it to
    ``graph_beam_search(nav_tab=...)`` / ``hnsw_topk_search(
    serving_state=...)`` so each serving batch's plan references the
    prebuilt relation instead of re-deriving (and re-planning) the
    groupBy+join per call. Nodes with no outgoing edges keep a NULL
    ``nxts`` (the left join) — the hop explode coalesces it."""
    quant = _micro_quant(vec_col)
    qtab = df.select(F.col(id_col).alias("node"), quant.alias("qv"))
    edges = graph.select(
        F.col("id").alias("node"), F.col("neighbor_id").alias("nxt")
    )
    return qtab.join(
        F.broadcast(
            edges.groupBy("node").agg(F.collect_list("nxt").alias("nxts"))
        ),
        "node",
        "left",
    )


def graph_beam_search(
    df: DataFrame,
    graph: DataFrame,
    query_ids: list[int],
    k: int = 5,
    beam: int = 8,
    hops: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    entries: list[int] | None = None,
    queries_df: DataFrame | None = None,
    corpus_rows: int | None = None,
    entries_df: DataFrame | None = None,
    raw: bool = False,
    query_rows: int | None = None,
    nav_tab: DataFrame | None = None,
) -> DataFrame:
    """Greedy beam search over a kNN graph — the SERVING half of the
    graph-index tier (``nn_descent_knn_graph`` is the build half):
    HNSW-style navigation re-expressed relationally. Start every query
    at fixed entry points (the ``beam`` smallest node ids — HNSW's
    designated entry, made deterministic), then per hop expand the
    beam's graph neighbors, score against the query, and keep the
    best ``beam`` nodes; after ``hops`` rounds emit each query's
    top-k (self-matches excluded).

    Deterministic like the builder (integer micro dots,
    (dot DESC, node ASC) total order), so the gate replays BOTH build
    and search in one DuckDB query. Scale shape: per hop one join on
    the graph's node key + one per-query window over ≤ beam·(k+1)
    rows; query count rides the partition key, so serving batches
    scale out; the graph table is the only large operand and is never
    shuffled wider than its node key.

    ``entries`` overrides the default entry points (the ``beam``
    smallest node ids). A converged kNN graph over clustered data has
    NO inter-cluster edges (every node's k best neighbors are
    intra-cluster once clusters exceed k members), so greedy
    navigation can only reach the clusters its entry points land in —
    the role HNSW's upper layers play. Pass one entry per coarse
    region (e.g. an id stride, or IVF centroid-nearest ids) to make
    the whole graph navigable; len(entries) may exceed ``beam`` (hop
    0 scores them all and keeps the best ``beam``).

    ``entries_df`` (columns ``qid, node``) seeds each query's beam
    with PER-QUERY entry nodes instead of a shared driver list — the
    hand-off relation between layers of ``hnsw_topk_search``'s
    descent (layer l's arrival nodes are layer l-1's entries, never
    driver-collected). Overrides ``entries``. ``raw=True`` returns
    the final beam itself — ``(qid, node, dot)``, ≤ ``beam`` rows per
    query, NO self-exclusion or top-k cut — which is what a descent
    consumes (``k`` is ignored; the beam width is the contract).

    ``nav_tab`` (from ``graph_nav_table`` — a PERSISTED/checkpointed
    ``(node, qv, nxts)`` relation: quantized vector + grouped
    adjacency per node) is the warm-serving state: without it every
    call re-derives that relation from ``df``+``graph`` (a groupBy +
    join whose planning and execution repeat per batch — measured
    ~3× of warm serve latency at 20k rows); with it each hop's plan
    references the prebuilt relation directly. Small-corpus path
    only (the ≤100k broadcast regime — at larger sizes the node-keyed
    shuffle joins dominate and the grouped relation is built in-plan);
    values must match ``df``/``graph`` — the caller owns staleness
    (VectorSearch/index_store invalidate on mutation)."""
    from pyspark.sql.window import Window

    _check_beam_args(k, beam, hops)
    # query ids absent from df are silently absent from the output
    # (standard filter semantics — validate upstream if absence is an
    # error in your pipeline)
    quant = _micro_quant(vec_col)
    qtab = df.select(F.col(id_col).alias("node"), quant.alias("qv"))
    # size-dispatched serving shape (the bounded-probe pattern of the
    # auto_* facades): under ~100k corpus rows the vector table AND
    # the edge table broadcast, which makes every hop exchange-free —
    # the expansion join, dedup, scoring joins, and the per-qid window
    # all run on the query-keyed side, and with the lazy checkpoints
    # below the whole multi-hop search schedules as ONE action instead
    # of a blocking round per hop (the warm-serve latency fix, VERDICT
    # r8 item 4). Larger corpora keep the node-keyed shuffle joins —
    # broadcasting a 100 TB corpus or its n·k edge table is exactly
    # what must not happen at scale. ``corpus_rows`` (a caller-known
    # row count, e.g. from the index build) skips the probe job —
    # warm serving calls shouldn't pay even a bounded scan.
    if corpus_rows is not None:
        small = corpus_rows <= 100_000
    else:
        small = df.limit(100_001).count() <= 100_000
    if queries_df is not None:
        # external query batch: (id_col, vec_col) rows that need not be
        # corpus members — query_ids is ignored. The node != qid
        # self-exclusion still applies, which is exactly right when
        # external ids deliberately shadow corpus ids (re-query of a
        # member) and a no-op for disjoint id ranges.
        queries = queries_df.select(
            F.col(id_col).alias("qid"), quant.alias("query_vec")
        )
    else:
        queries = (
            qtab.filter(F.col("node").isin([int(q) for q in query_ids]))
            .select(
                F.col("node").alias("qid"), F.col("qv").alias("query_vec")
            )
        )
    if entries_df is not None:
        entry_df = None  # per-query seeds replace the shared relation
    elif entries is None:
        entry_df = (
            qtab.select("node").orderBy("node").limit(beam).select("node")
        )
    else:
        # a driver-literal relation, not a corpus scan: entry ids are
        # already driver scalars, and the hop-0 scoring join drops any
        # id absent from the corpus exactly like the old isin filter
        # did — one fewer job per serving call. DEDUPED like the old
        # filter too: a repeated entry id must not occupy two hop-0
        # beam slots (and with hops=0 would reach the output twice).
        id_type = df.schema[id_col].dataType
        entry_df = df.sparkSession.createDataFrame(
            [(int(e),) for e in dict.fromkeys(entries)],
            schema=T.StructType([T.StructField("node", T.LongType())]),
        ).select(F.col("node").cast(id_type).alias("node"))
    int_dot = _int_dot("query_vec", "qv")
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("node"))
    # small-corpus serving: both scoring joins broadcast (the query
    # table is corpus-derived or probe-bounded small too), so scoring
    # never re-shuffles the hash(qid)-partitioned candidate stream.
    # Vectors AND adjacency ride ONE relation so the scoring join and
    # the expansion join broadcast the SAME exchange (ReusedExchange —
    # one build, not two).
    edges = graph.select(
        F.col("id").alias("node"), F.col("neighbor_id").alias("nxt")
    )
    # batch size: an internal batch (query_ids) is a bounded driver
    # list, an external queries_df pays ONE bounded probe. Two
    # decisions hang off it with DIFFERENT bounds: broadcasting the
    # query table into the scoring joins is safe to ~100k, but the
    # single-partition output sort only to ~1k — coalesce(1) pulls
    # the whole post-hop-0 pipeline into one task (the small path is
    # deliberately shuffle-free after that exchange), so a large
    # batch through one core would be a throughput cliff, not a
    # saved sampling job.
    if queries_df is None:
        n_queries = len(query_ids)
    elif query_rows is not None:
        n_queries = query_rows  # caller-known batch size: skip probe
    elif small:
        n_queries = queries_df.limit(100_001).count()
    else:
        n_queries = 100_001  # large corpus: both decisions moot
    small_batch = small and n_queries <= 100_000
    tiny_batch = small and n_queries <= 1_000
    if small:
        if nav_tab is None:
            # the adjacency attach is itself a broadcast join (the
            # grouped edge table is ≤ n rows), so building nav_tab
            # costs ONE small exchange (the groupBy) and no shuffle
            # of the vector table
            nav_tab = qtab.join(
                F.broadcast(
                    edges.groupBy("node").agg(
                        F.collect_list("nxt").alias("nxts")
                    )
                ),
                "node",
                "left",
            )
        q_score = F.broadcast(nav_tab)
        query_side = F.broadcast(queries) if small_batch else queries
    else:
        q_score, query_side = qtab, queries

    def score_beam(cand: DataFrame, width: int) -> DataFrame:
        scored = (
            cand.join(q_score, "node")
            .join(query_side, "qid")
            .select("qid", "node", int_dot.alias("dot"))
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= width)
            .select("qid", "node", "dot", "rn")
        )

    if small:
        # exchange-free hops: the adjacency list broadcasts pre-grouped
        # and expansion is an EXPLODE over (node itself ++ neighbors) —
        # no union, so the hop output stays hash(qid)-partitioned from
        # the first window, the (qid, node) dedup aggregate and the
        # per-qid window both reuse that partitioning (hash(qid)
        # satisfies both clusterings), and the scoring joins are
        # broadcast. Lineage is a LINEAR chain (cur feeds each hop
        # once, unlike the builder's self-join), so no per-hop
        # checkpoints are needed — the whole serve is one job with a
        # single exchange (the hop-0 window). Candidate sets, integer
        # scores, and the total order are identical to the shuffle
        # path below, so the unrolled replay gate grades both.
        seed = (
            entries_df.select("qid", "node")
            if entries_df is not None
            else queries.select("qid").crossJoin(F.broadcast(entry_df))
        )
        cur = score_beam(seed, beam)
        for _ in range(hops):
            cand = (
                cur.join(q_score, "node", "left")
                .select(
                    "qid",
                    F.explode(
                        F.concat(
                            F.array(F.col("node")),
                            F.coalesce(F.col("nxts"), F.array()),
                        )
                    ).alias("node"),
                )
                .groupBy("qid", "node")
                .agg(F.lit(1).alias("__one"))
                .drop("__one")
            )
            cur = score_beam(cand, beam)
    else:
        # localCheckpoint per hop — same lineage-truncation rationale
        # as the NN-Descent rounds (see nn_descent_knn_graph); lazy,
        # so all hops schedule inside one action instead of a
        # blocking driver round per hop
        seed = (
            entries_df.select("qid", "node")
            if entries_df is not None
            else queries.select("qid").crossJoin(entry_df)
        )
        cur = score_beam(seed, beam).localCheckpoint(eager=False)
        for _ in range(hops):
            exp = cur.join(edges, "node").select(
                "qid", F.col("nxt").alias("node")
            )
            cand = (
                cur.select("qid", "node")
                .union(exp)
                .dropDuplicates(["qid", "node"])
            )
            cur = score_beam(cand, beam).localCheckpoint(eager=False)

    if raw:
        return cur.select("qid", "node", "dot")
    sim_ppm = F.expr(_SIM_PPM_SQL)
    final = (
        cur.filter(F.col("node") != F.col("qid"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
    out = final.select(
        F.col("qid").alias("query_id"),
        F.col("node").alias("neighbor_id"),
        F.col("rk").cast("int").alias("rank"),
        sim_ppm.cast("long").alias("sim_ppm"),
    )
    if tiny_batch:
        # ≤ 1000·k output rows: a single-partition sort skips the
        # range-partitioner's sampling pass (one job fewer per serving
        # call); the global order is identical
        return out.coalesce(1).sortWithinPartitions("query_id", "rank")
    return out.orderBy("query_id", "rank")


def graph_insert(
    corpus: DataFrame,
    graph: DataFrame,
    new_rows: DataFrame,
    k: int = 8,
    beam: int = 40,
    hops: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    entries: list[int] | None = None,
    corpus_rows: int | None = None,
    nav_tab: DataFrame | None = None,
    new_rows_count: int | None = None,
    entries_df: DataFrame | None = None,
) -> DataFrame:
    """HNSW-style per-row INSERT into an existing kNN graph — the
    serving-time incremental add whose cost scales with the NEW rows,
    not the corpus (``nn_descent_refresh`` is the bulk path; this is
    what HNSW itself does on add):

    1. every new row NAVIGATES the existing graph (beam search
       against the old corpus) to its nearest old nodes — its forward
       edge candidates;
    2. new×new candidates come from shared old neighborhoods: two new
       rows whose forward edges meet at an old node are candidate
       neighbors (pure navigation of the OLD graph cannot see other
       new rows — without this step two near-identical inserts would
       never link);
    3. reverse candidates (old node ← new row) are appended to
       exactly the touched old nodes' edge lists;
    4. touched nodes (new ∪ reverse targets) are re-top-k'd with the
       builder's exact integer arithmetic and total order; untouched
       nodes pass through byte-identical.

    Where the stored graph is the exact kNN graph and navigation is
    exact (the clustered regime the tier is documented for),
    ``insert(graph, new)`` equals the EXACT kNN graph of the union —
    candidate coverage argument: an old node x gains new neighbor t
    (twin of o) only if o already ranks in x's top-k (o precedes t in
    the total order), and then x→o exists and the reverse fan-in
    proposes (x, t); a new node's candidates are its exact old top-k
    (beam) plus every new row sharing one of them. Measured on the
    planted-twin fixture: insert ≡ brute-force exact at all SFs —
    STRICTLY STRONGER than the 3-round cold NN-Descent build, which
    misses ~100 of the twin edges on the same fixture (the
    exact-insert property HNSW's own add enjoys when navigation is
    exact).

    ``corpus``: the OLD rows only (the graph's corpus); ``new_rows``:
    the appended (id, vector) rows. Caller owns id uniqueness.
    Output: the updated (id, neighbor_id, rank, sim_ppm) edge table.

    Size dispatch (same ≤100k regime as the beam search), on the
    UNION row count (``corpus_rows`` + ``new_rows_count``, caller-known
    on warm paths, else bounded probes):

    - union rows × dimension ≤ ``_LOCAL_INSERT_VALUES`` (4M values:
      e.g. 10k×384 or 100k×41), integral ids, no ``entries_df``: the
      driver-local numpy replay ``_graph_insert_local`` — three
      collects (the new rows' vectors, the corpus's, the graph's
      edges) and no shuffle, bit for bit the relational output
      (pinned by ``test_graph_insert_local_equals_relational``).
      Measured per 20-row insert into 2k×32 rows on local[4]: 32 jobs
      and ~3.5 s → 3 jobs and ~0.4 s.
    - union ≤ 100k otherwise (a larger rows × dimension product,
      struct keys of the batched hierarchy repair, ``entries_df``, or
      inputs outside the replay's domain): the relational plan with
      BROADCAST candidate-rescore joins and a single-partition output
      sort.
    - larger: the node-keyed shuffle joins.

    ``nav_tab`` (the stored graph's ``graph_nav_table``, e.g. from
    warm serving state) is forwarded to the relational navigation
    beam search, as is ``entries_df`` (per-query seed nodes, columns
    ``qid, node`` — overrides ``entries``; the batched multi-layer
    hierarchy repair uses it to confine each new row's navigation to
    its own layer)."""
    from pyspark.sql.window import Window

    quant = _micro_quant(vec_col)
    union = corpus.select(id_col, vec_col).unionByName(
        new_rows.select(id_col, vec_col)
    )
    n_old = (
        corpus_rows
        if corpus_rows is not None
        else corpus.limit(100_001).count()
    )
    # the broadcast regime must bound the UNION (q_src/q_dst are
    # union-derived — ADVICE r10: keying 'small' on n_old alone let a
    # large new_rows batch into a small corpus broadcast an unbounded
    # quantized relation twice). ``new_rows_count`` skips the probe on
    # warm paths where the caller already counted the pending batch.
    n_new = (
        new_rows_count
        if new_rows_count is not None
        else new_rows.limit(100_001).count()
    )
    small = (n_old + n_new) <= 100_000
    if small and entries_df is None:
        local = _graph_insert_local(
            corpus, graph, new_rows, k, beam, hops, id_col, vec_col,
            entries, n_old + n_new,
        )
        if local is not None:
            return local
    # small path: eager localCheckpoint, not persist — the merge plan
    # references the quantized union twice (q_src/q_dst) and a
    # lineaged cache re-pays Catalyst optimization of the upstream
    # corpus plan per reference at builder time (the nn_descent qtab
    # rationale). Large corpora keep the node-keyed persisted layout.
    qtab = (
        union.select(F.col(id_col).alias("node"), quant.alias("q"))
        .localCheckpoint()
        if small
        else union.select(F.col(id_col).alias("node"), quant.alias("q"))
        .repartition("node")
        .transform(cache_auto)
    )
    served = graph_beam_search(
        corpus, graph, [], k=k, beam=beam, hops=hops,
        id_col=id_col, vec_col=vec_col, entries=entries,
        # n_old/n_new from the bounded probes are exact under the
        # dispatch bound and safely-over-bound sentinels above it —
        # valid for beam search's own ≤100k/≤1k dispatches either
        # way; forwarding n_new as query_rows saves the beam's own
        # batch-size probe job per insert
        queries_df=new_rows, corpus_rows=n_old, query_rows=n_new,
        nav_tab=nav_tab, entries_df=entries_df,
    ).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    ).localCheckpoint()
    # EAGER checkpoint, not persist: the navigation result is tiny
    # (≤ |new|·beam rows) but its plan is the DEEP one (the unrolled
    # multi-hop beam search), and the merge below references it ~6
    # times (self-join, reverse, fan-in, touched, candidates) — a
    # cached-but-lineaged relation makes Catalyst re-optimize the
    # whole beam subtree per reference inside one mega-plan
    # (measured: 3.9 s optimize+execute fused vs ~1.3 s for the
    # serve path's single reference; the checkpoint cuts the insert
    # action to the small merge plan over a leaf). A lazy variant
    # (defer all layers' execution into one fused action) was
    # measured and REJECTED: no win at sf0.1, slightly worse at the
    # 10x step — the per-layer materializations pipeline fine.
    # new×new via shared old neighborhood (step 2)
    nn_new = (
        served.alias("a")
        .join(
            served.select(
                F.col("src").alias("src2"), F.col("dst").alias("dst")
            ).alias("b"),
            "dst",
        )
        .filter(F.col("a.src") != F.col("src2"))
        .select(F.col("a.src").alias("src"), F.col("src2").alias("dst"))
    )
    rev = served.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    old_edges = graph.select(
        F.col("id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    # reverse fan-in (step 3b): any old node x pointing AT one of the
    # new row's chosen neighbors o is itself near o — and therefore
    # near the new row — so x gets the new row as a candidate. Without
    # this only the ≤k nodes the new row SELECTED would re-rank, and
    # every other node whose true top-k the insert displaces would go
    # stale (measured: ~100 stale nodes per 50 planted twins).
    rev_fan = (
        served.alias("s")
        .join(
            old_edges.select(
                F.col("src").alias("x"), F.col("dst").alias("o")
            ).alias("e"),
            F.col("s.dst") == F.col("e.o"),
        )
        .select(F.col("x").alias("src"), F.col("s.src").alias("dst"))
    )
    touched = (
        served.select("src")
        .union(rev.select("src"))
        .union(rev_fan.select("src"))
        .distinct()
    )
    cand = (
        old_edges.join(touched, "src")
        .unionByName(served)
        .unionByName(nn_new)
        .unionByName(rev)
        .unionByName(rev_fan)
    )
    if small:
        # one src-keyed exchange that BOTH the (src, dst) dedup
        # aggregate and the per-src top-k window reuse (hash(src)
        # satisfies each clustering) — the NN-Descent round pattern
        # (see nn_descent_knn_graph): the broadcast scoring joins
        # preserve the stream's partitioning, so the dedup's
        # hash(src, dst) exchange AND the window's hash(src) exchange
        # collapse into this one. Keyed repartition with no explicit
        # count, so AQE still sizes it by bytes. Big-path candidate
        # streams keep the planner's layout — their scoring joins are
        # node-keyed shuffles that re-cluster anyway.
        cand = cand.repartition("src")
    cand = cand.dropDuplicates(["src", "dst"])
    int_dot = _int_dot("q1", "q2")
    w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    q_src = qtab.select(F.col("node").alias("src"), F.col("q").alias("q1"))
    q_dst = qtab.select(F.col("node").alias("dst"), F.col("q").alias("q2"))
    if small:
        q_src, q_dst = F.broadcast(q_src), F.broadcast(q_dst)
    scored = (
        cand.join(q_src, "src")
        .join(q_dst, "dst")
        .select("src", "dst", int_dot.alias("dot"))
    )
    sim_ppm = F.expr(_SIM_PPM_SQL)
    updated = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("src").alias("id"),
            F.col("dst").alias("neighbor_id"),
            F.col("rn").cast("int").alias("rank"),
            sim_ppm.cast("long").alias("sim_ppm"),
        )
    )
    untouched = graph.join(
        touched.select(F.col("src").alias("id")), "id", "left_anti"
    )
    # eager localCheckpoint (same rationale as the builder's per-round
    # checkpoints) so the intermediates this function persisted can be
    # released HERE — callers can't reach qtab/served, and a lazy
    # return would either leak both caches for the session or lose
    # them before the caller's first action
    merged = untouched.unionByName(updated)
    if small:
        # (n_old + new)·k output rows: single-partition sort skips the
        # range-partitioner sampling pass, like the beam search's
        # tiny-batch output path — global order identical
        merged = merged.coalesce(1).sortWithinPartitions("id", "rank")
    else:
        merged = merged.orderBy("id", "rank")
    # eager localCheckpoint (same rationale as the builder's per-round
    # checkpoints) so the intermediates this function persisted can be
    # released HERE — callers can't reach qtab/served, and a lazy
    # return would either leak both caches for the session or lose
    # them before the caller's first action. served is CHECKPOINTED,
    # so release_relation (not the no-op unpersist — ADVICE r11)
    # frees its blocks.
    out = merged.localCheckpoint()
    release_relation(qtab)
    release_relation(served)
    return out


def default_graph_entries(
    corpus: DataFrame,
    id_col: str = "vec_id",
    n_regions: int = 32,
    corpus_rows: int | None = None,
) -> list:
    """Default beam-search entry points: one corpus id per coarse
    region — an exact global-rank stride (id-layout independent), the
    upper-layer role HNSW's hierarchy plays. Returns ≤ n_regions ids
    (the IVF-centroid / Lloyd-on-a-sample driver-scalar shape).
    Corpus-invariant: compute once per index build and reuse across
    serving batches.

    Up to 100k rows the ids are collected (under ``limit(100_001)``)
    and the stride is taken on the driver-sorted list — the same ids
    (NULLs first, like Spark's ASC) from one bounded collect instead
    of the ~8 jobs of a distributed ``global_rank``. Larger corpora
    rank distributed and release the rank's persisted range
    partitioning once the picks are collected. ``corpus_rows`` (the
    caller's count) picks the path; without it a bounded count probe
    does. A wrong hint costs time, never correctness: the bounded
    collect falls through to the rank when it sees more than 100k."""
    import math as _math

    from .windows import _global_rank_impl

    n = (
        corpus_rows
        if corpus_rows is not None
        else corpus.limit(100_001).count()
    )
    if n <= 100_000:
        ids = [r[0] for r in corpus.select(id_col).limit(100_001).collect()]
        if len(ids) <= 100_000:
            ids.sort(key=lambda v: (v is not None, v))
            return ids[:: max(1, _math.ceil(len(ids) / n_regions))]
    ranked, n, parted = _global_rank_impl(
        corpus.select(F.col(id_col).alias("id")), [F.col("id")], "rk", None
    )
    step = max(1, _math.ceil(n / n_regions))
    picks = [
        r["id"]
        for r in ranked.filter((F.col("rk") - 1) % step == 0).collect()
    ]
    parted.unpersist()
    return picks


def ivf_graph_entries(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_regions: int = 32,
    seed: int = 42,
    corpus_rows: int | None = None,
) -> list:
    """GEOMETRY-AWARE beam-search entry provisioning: the most-central
    corpus row of each coarse k-means region (one seeded driver-local
    Lloyd train + one Arrow map-side assignment — the IVF quantizer
    machinery). The rank stride of ``default_graph_entries`` covers
    clusters proportionally to their RANK-SPACE footprint, so when id
    order correlates with cluster membership and cluster sizes are
    skewed, a small cluster can own no stride slot and beam search
    strands it; centroids adapt to the embedding distribution instead
    — the closest relational analog of HNSW's upper-layer hierarchy
    (reference app/vector_search.py:42-47), at the cost of not being
    SQL-replayable (the stride stays the oracle-graded default).
    Bounded driver work: the Lloyd sample (≤100k rows) and ≤
    ``n_regions`` entry ids. Deterministic: seeded Lloyd, stable
    tie-breaks, (distance ASC, id ASC) per-region pick."""
    from pyspark.sql.window import Window

    n = corpus_rows if corpus_rows is not None else corpus.count()
    mat = _quantizer_train_sample(corpus, vec_col, n, seed)
    if len(mat) == 0:
        return []
    # kmeans++ init: coverage of far small clusters is the whole
    # point of entry provisioning — uniform init misses a cluster of
    # mass p with probability (1-p)^k
    centers = _lloyd_kmeans(mat, n_regions, 10, seed, init="++")
    assigned = ivf_assign_with_centers(
        corpus.select(id_col, vec_col),
        centers,
        vec_col,
        n_probe=1,
        with_dist=True,
    )
    w = Window.partitionBy("bucket").orderBy(
        F.asc("__cdist"), F.asc(id_col)
    )
    return [
        r["id"]
        for r in assigned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col).alias("id"))
        .collect()
    ]


def graph_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    graph: DataFrame | None = None,
    entries: list[int] | None = None,
    beam: int | None = None,
    hops: int = 4,
    graph_k: int = 8,
    iters: int = 3,
    corpus_rows: int | None = None,
    nav_tab: DataFrame | None = None,
) -> DataFrame:
    """HNSW-shaped serving facade: NN-Descent graph build +
    ``graph_beam_search`` over an external query batch — the
    graph-index analog of ``srp_topk_search`` (reference default
    index HNSW32, app/main.py:47; the index-description switch at
    app/vector_search.py:42-47 routes here via
    ``VectorSearch.search``).

    Default entry points are one corpus id per coarse region (a
    global-rank stride, 32 regions): a CONVERGED kNN graph over
    clustered data has no inter-cluster edges, so single-region
    entries strand navigation — the stride plays the role of HNSW's
    upper layers. Pass ``graph`` to serve many batches from one build
    (the build is the expensive half); pass
    ``entries=ivf_graph_entries(corpus)`` when id order correlates
    with cluster membership and sizes are skewed (the stride covers
    rank space, not geometry — kmeans++ centroids cover every
    cluster; see its docstring and
    test_ivf_entries_cover_skewed_clusters_where_stride_cannot).

    Regime note (same as IVF): graph navigation needs cluster
    structure. On structureless random unit vectors recall@1 is poor
    for ANY graph index — gate graph_recall_vs_exact_embeddings pins
    ≥ 0.9 recall on the clustered fixture; srp_topk_search remains
    the unstructured-data tier. SIZE regime (measured r10): a fixed
    ``hops`` walk from one entry per region degrades as intra-cluster
    graph diameter grows with cluster size (recall@1 1.0 at ~60-row
    clusters, 0.10 at ~600-row clusters, 4 hops) — above ~10k corpus
    rows prefer the layered tier (``hnsw_topk_search``; its
    exhaustive ~start_budget-member seed is cluster-size-robust),
    which is what ``VectorSearch`` dispatches. Output: (query_id, neighbor_id,
    similarity, rank) — similarity is the integer micro-dot scaled
    back to ~cosine (1e-6 precision), matching the contract of the
    other top-k tiers.

    ``nav_tab`` (``graph_nav_table(corpus, graph)``, persisted) is
    the flat tier's warm-serving state — same contract as
    ``graph_beam_search(nav_tab=...)``: batch-serving callers build
    it once beside the graph and entries.
    """
    if graph is None:
        graph = nn_descent_knn_graph(
            corpus, id_col, vec_col, k=graph_k, iters=iters
        )
    if beam is None:
        beam = max(2 * k + 8, 16)
    if entries is None:
        # corpus-invariant work — batch-serving callers should compute
        # this ONCE (beside the graph build) and pass entries=
        entries = default_graph_entries(
            corpus, id_col, corpus_rows=corpus_rows
        )
    out = graph_beam_search(
        corpus,
        graph,
        [],
        k=k,
        beam=beam,
        hops=hops,
        id_col=id_col,
        vec_col=vec_col,
        entries=entries,
        queries_df=queries,
        corpus_rows=corpus_rows,
        nav_tab=nav_tab,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.col("sim_ppm") / F.lit(1_000_000.0)).alias("similarity"),
        "rank",
    )


def hnsw_max_level(n: int, m: int = 2, entry_budget: int = 512) -> int:
    """Auto level count for the layered hierarchy: the smallest L
    with expected top-layer population n/m^L <= entry_budget, so the
    top-layer entry collect stays O(1) at ANY corpus size (1e9 rows,
    m=2, budget 512 -> L=21). Always >= 1."""
    import math as _math

    if n <= 0:
        return 1
    return max(1, _math.ceil(_math.log(max(n / entry_budget, m), m)))



def _hnsw_hash(id_col: str) -> Column:
    """The level-draw hash: first 14 hex chars of md5('hnswlvl:'||id)
    as a long. level >= l  <=>  _hnsw_hash % m^l == 0 — a map-side
    PREDICATE, so layer membership never needs a join."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("hnswlvl:"), F.col(id_col).cast("string"))
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")

def hnsw_levels(
    df: DataFrame,
    id_col: str = "vec_id",
    m: int = 2,
    max_level: int = 4,
) -> DataFrame:
    """Deterministic HNSW level assignment: level(id) = the largest
    l <= max_level with h(id) % m^l == 0, h = the first 14 hex chars
    of md5('hnswlvl:' || id) — P(level >= l) = m^-l, exactly HNSW's
    geometric layer law (level = floor(-ln(U) * mL), mL = 1/ln(m);
    reference index HNSW32, app/vector_search.py:42-47) with the
    draw replaced by a hash both engines can replay (the md5 oracle
    tier's policy, not a seeded RNG). Output: (id_col, level)."""
    if m < 2 or max_level < 1:
        raise ValueError("m must be >= 2 and max_level >= 1")
    h = _hnsw_hash(id_col)
    lvl = F.lit(0)
    for l in range(1, max_level + 1):
        lvl = F.when(h % (m**l) == 0, l).otherwise(lvl)
    return df.select(F.col(id_col), lvl.cast("int").alias("level"))


def hnsw_nav_members(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 2,
    top_layer: int = 1,
) -> DataFrame:
    """Materialized per-layer NAVIGATION MEMBERSHIP — the serving
    state a loaded Faiss HNSW index carries implicitly (its in-RAM
    per-level adjacency; reference serves with zero per-query setup,
    app/vector_search.py:241-294) and the relational descent had been
    recomputing per batch: every walked layer's member rows
    ``(layer, id, vec)`` for layers 1..top_layer+1, derived from the
    md5 level draw in ONE corpus scan (a node at level L is a member
    of every layer <= L, so membership explodes from the level
    expression — no joins).

    Size: Σ_{l>=1} n/m^l <= n/(m-1) rows — at the default m=2 about
    one extra corpus-worth of (id, vec) pairs, the price of serving
    without per-layer corpus rescans. ``hnsw_topk_search`` accepts it
    via ``nav_members=``: the start-layer seed, the top+1 entry
    membership, and every walked layer's scoring relation then read
    this (persisted or parquet-partition-pruned) table instead of
    re-filtering the FULL corpus with the md5 predicate per layer per
    batch — the setup that kept the warm serve exponent at 0.68.
    Layer top_layer+1 is included because the serve path seeds from
    the ENTRY membership above the top built layer when no built
    layer fits its start budget."""
    cap = top_layer + 1
    h = _hnsw_hash(id_col)
    lvl = F.lit(0)
    for l in range(1, cap + 1):
        lvl = F.when(h % (m**l) == 0, l).otherwise(lvl)
    return (
        corpus.select(F.col(id_col), F.col(vec_col), lvl.alias("__lv"))
        .filter(F.col("__lv") >= 1)
        .select(
            # sequence of two int literals/columns is array<int>, so
            # 'layer' comes out int without a cast (a cast here would
            # nest the generator inside an expression, which Spark
            # rejects)
            F.explode(F.sequence(F.lit(1), F.col("__lv"))).alias("layer"),
            id_col,
            vec_col,
        )
    )


def hnsw_serving_state(
    corpus: DataFrame,
    hierarchy: DataFrame,
    top_layer: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nav_members: DataFrame | None = None,
    m: int = 2,
    materialize: bool = True,
    corpus_rows: int | None = None,
    layer_sizes: dict | None = None,
    size_cap: int | None = None,
    start_budget: int = 1024,
    broadcast_cap: int = 100_000,
) -> dict:
    """Build the descent's WARM SERVING STATE once per index: the
    per-layer ``(node, qv, nxts)`` navigation tables
    (``graph_nav_table``) for the layers SERVING WILL ACTUALLY READ
    (exactly the relation the in-plan path derives — duplicate
    cross-layer edges pad the grouped lists identically, so serving
    through the state is a pure substitution). Returns
    ``{layer: nav_tab}`` for ``hnsw_topk_search(serving_state=...)``;
    layers absent from the dict fall back to the in-plan derivation
    (``(serving_state or {}).get(l)`` → None).

    Which layers get a tab mirrors the reader, not the builder
    (ADVICE r10: an unguarded build materialized a FULL-corpus
    broadcast-join that serving never read above the broadcast
    regime):

    - layer 0 only when ``n <= broadcast_cap`` —
      ``graph_beam_search`` ignores ``nav_tab`` on the node-keyed
      shuffle path (its own ≤100k dispatch), so above the cap the
      layer-0 table is a full-corpus broadcast materialization with
      zero readers (driver/executor OOM risk at exactly the at-scale
      regime); ``stream_topk_search`` guards its nav build the same
      way.
    - upper layers 1..top only when NO layer fits ``start_budget``
      (``min(start_budget, size_cap)``, matching the reader's cap):
      a fitted layer makes ``hnsw_topk_search``'s auto ``max_walks``
      0, so no upper walk — and no upper tab read — ever happens.
      When walks DO happen, a layer's tab is built only if its
      membership is KNOWN to be within ``broadcast_cap``. Builder
      ``layer_sizes`` values above ``size_cap`` are CAPPED SENTINELS
      ("> exact_budget", not true cardinalities — see
      ``hnsw_hierarchy_build``), so a sentinel is never compared
      against ``broadcast_cap`` directly: with a trustworthy ``n``
      (caller-supplied ``corpus_rows``, or a row probe that finished
      under its own cap) the estimate is ``max(sentinel, n // m**l)``;
      when ``n`` itself is a capped probe (``corpus_rows`` omitted on
      a >``broadcast_cap`` corpus) the layer's size is unbounded-
      unknown and the tab is SKIPPED — serving falls back to the
      in-plan derivation rather than risk materializing an ~n/m^l-row
      table nobody reads (ADVICE r11 medium).

    ``materialize=True`` localCheckpoints each table (eager): the
    serving plans then reference lineage-free in-memory relations —
    zero per-batch derivation, grouping, or re-planning of the
    navigation relations, the role the reference's loaded Faiss HNSW
    structure plays (app/vector_search.py:241-294). Size: layer 0
    holds n rows; layers above sum to ≤ n/(m-1) — the same budget as
    ``nav_members``, which supplies the per-layer member vectors
    without rescanning the corpus when provided."""
    n = (
        corpus_rows
        if corpus_rows is not None
        else corpus.limit(broadcast_cap + 1).count()
    )
    eff_budget = (
        min(start_budget, size_cap) if size_cap is not None else start_budget
    )
    fitted = layer_sizes is not None and any(
        l >= 1 and sz <= eff_budget for l, sz in layer_sizes.items()
    )
    # when corpus_rows was omitted, n came from a bounded probe and is
    # itself a capped sentinel once the corpus exceeds broadcast_cap —
    # fine for the one-sided layer-0 gate below, unusable as the base
    # of an n/m^l upper-layer estimate
    n_is_capped = corpus_rows is None and n > broadcast_cap
    tabs: dict = {}
    if not fitted:
        for l in range(1, top_layer + 1):
            sz = (layer_sizes or {}).get(l)
            sz_known = sz is not None and (
                size_cap is None or sz <= size_cap
            )
            if sz_known:
                est = sz
            elif not n_is_capped:
                # sentinel (or missing) size, trustworthy n: the true
                # size exceeds size_cap, so take the larger of the
                # sentinel and the expected-membership estimate
                est = max(sz or 0, 1, n // (m**l))
            else:
                continue  # size unknown AND n capped: skip (fallback)
            if est > broadcast_cap:
                continue  # the walk's beam search would ignore it
            if nav_members is not None:
                members_l = nav_members.filter(
                    F.col("layer") == l
                ).select(id_col, vec_col)
            else:
                members_l = corpus.filter(
                    _hnsw_hash(id_col) % (m**l) == 0
                ).select(id_col, vec_col)
            tabs[l] = graph_nav_table(
                members_l,
                hierarchy.filter(F.col("layer") == l),
                id_col,
                vec_col,
            )
    if n <= broadcast_cap:
        tabs[0] = graph_nav_table(
            corpus, hierarchy.select("id", "neighbor_id"), id_col, vec_col
        )
    if materialize:
        tabs = {l: t.localCheckpoint() for l, t in tabs.items()}
    return tabs


def _exact_knn_graph_local(
    members: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Driver-local numpy replay of ``_exact_knn_graph`` — bit-for-bit
    the same edges (pinned by ``test_exact_knn_graph_local_equals_
    relational``), for member sets the caller has ALREADY bounded at
    ``exact_budget`` (<= ~2k rows, <= 4M integer dots — milliseconds
    in one matmul vs a 64-task 1M-row window shuffle, the dominant
    cost of a warm ``hnsw_hierarchy_insert``). The same
    bounded-collect shape as the IVF Lloyd trainer (`ivf_centers`):
    the data is driver-scalar-sized by contract, so distributing the
    ranking buys nothing but scheduling floor.

    Arithmetic replication notes: quantization and sim_ppm are the
    shared numpy twins (``_micro_quant_np``, ``_sim_ppm_np``); dots
    are int64 (<= d*1e12, no overflow for d <= 1000)."""
    import numpy as np
    import pandas as pd

    spark = members.sparkSession
    id_type = members.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("rank", T.IntegerType()),
            T.StructField("sim_ppm", T.LongType()),
        ]
    )
    pdf = members.select(id_col, vec_col).toPandas()
    n = len(pdf)
    if n < 2:
        return spark.createDataFrame([], schema=out_schema)
    ids = pdf[id_col].to_numpy()
    srt = np.argsort(ids, kind="stable")
    ids = ids[srt]
    q = _micro_quant_np(np.stack(pdf[vec_col].to_numpy()[srt]))
    dots = q @ q.T
    # per-row total order (dot DESC, id ASC): stable argsort of -dot
    # over id-ascending columns = the window's tie-break; removing
    # SELF from the ordered list (not from the ties) reproduces the
    # id != neighbor_id pre-rank exclusion for any tie layout
    order = np.argsort(-dots, axis=1, kind="stable")
    nbrs = order[order != np.arange(n)[:, None]].reshape(n, n - 1)
    ranks = np.arange(1, n, dtype=np.int64)
    keep = (ranks <= k) | ((ranks & (ranks - 1)) == 0)
    nbr_kept = nbrs[:, keep]
    m_keep = nbr_kept.shape[1]
    dot_kept = dots[np.arange(n)[:, None], nbr_kept].ravel()
    out = pd.DataFrame(
        {
            "id": np.repeat(ids, m_keep),
            "neighbor_id": ids[nbr_kept].ravel(),
            "rank": np.tile(ranks[keep].astype(np.int32), n),
            "sim_ppm": _sim_ppm_np(dot_kept),
        }
    )
    return spark.createDataFrame(out, schema=out_schema)


#: Spark integral id types the driver-local insert replay handles,
#: with the numpy dtype each one collects to
_INTEGRAL_NP_DTYPES = {
    "tinyint": "int8", "smallint": "int16", "int": "int32", "bigint": "int64",
}

#: the insert replay's driver-memory bound, in union rows × vector
#: dimension: it holds the n×d int64 quantized union (32 MiB here),
#: the Arrow copy of the vectors while it quantizes, and the graph's
#: edges. Larger unions run the relational plan. At the bound, with
#: 10% adds on local[4] and a 2g driver heap, the replay beat the
#: relational plan at 10.9k×384 (4.3 s vs 55 s; Python + JVM peak RSS
#: 1.2 vs 2.1 GB) and at 99k×42 (14 s vs 106 s; 1.7 vs 2.8 GB)
_LOCAL_INSERT_VALUES = 1 << 22

#: queries navigated per numpy block by the insert replay
_LOCAL_NAV_BLOCK = 256

#: gathered int64 elements per operand of one blocked dot (8 MiB)
_LOCAL_DOT_ELEMS = 1 << 20


def _pair_dots(q, a, b):
    """Row-wise int64 dots ``q[a[i]] · q[b[i]]``, gathered in blocks of
    at most ``_LOCAL_DOT_ELEMS`` elements per operand, so no pair list
    ever becomes a pairs × d matrix."""
    import numpy as np

    out = np.empty(len(a), dtype=np.int64)
    step = max(1, _LOCAL_DOT_ELEMS // max(1, q.shape[1]))
    for lo in range(0, len(a), step):
        hi = lo + step
        out[lo:hi] = np.einsum("ij,ij->i", q[a[lo:hi]], q[b[lo:hi]])
    return out


def _collect_id_vectors(df: DataFrame, id_col: str, vec_col: str):
    """(int64 ids, [n_i × d float blocks, one per Arrow chunk]) of an
    id/vector frame, collected as Arrow: the blocks view the Arrow
    buffers, with no per-row Python object. None when an id, a vector
    or a vector element is null, or the vectors' lengths differ."""
    import numpy as np

    tab = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).toArrow()
    if tab.column("id").null_count:
        return None
    blocks, dims = [], set()
    for ch in tab.column("vec").chunks:
        if ch.null_count:
            return None
        vals = ch.flatten()
        lens = ch.value_lengths().to_numpy()
        if vals.null_count or len(np.unique(lens)) > 1:
            return None
        if len(lens):
            dims.add(int(lens[0]))
            blocks.append(
                vals.to_numpy(zero_copy_only=False).reshape(len(lens), -1)
                if lens[0]
                else np.zeros((len(lens), 0))
            )
    if len(dims) > 1:
        return None
    return tab.column("id").to_numpy().astype(np.int64), blocks


def _graph_insert_local(
    corpus: DataFrame,
    graph: DataFrame,
    new_rows: DataFrame,
    k: int,
    beam: int,
    hops: int,
    id_col: str,
    vec_col: str,
    entries: list | None,
    union_rows: int,
) -> DataFrame | None:
    """Driver-local numpy replay of ``graph_insert`` for unions within
    ``_LOCAL_INSERT_VALUES`` (rows × dimension; ``union_rows`` is the
    caller's count) — bit for bit the relational output (pinned by
    ``test_graph_insert_local_equals_relational``), in three collects
    and no shuffle instead of ~30 jobs over tables of a few thousand
    rows. The ``_exact_knn_graph_local`` shape: data bounded to driver
    size gains nothing from distributed scheduling. Driver memory:
    the quantized union (n×d int64), the Arrow vectors it is built
    from, the graph's edges, and dot operands gathered in blocks of
    ``_LOCAL_DOT_ELEMS`` (navigation and merge alike).

    Replicated semantics, step for step:

    - navigation: hop 0 scores the (deduped, in-corpus) entry ids or
      the ``beam`` smallest old ids, WITHOUT a (qid, node) dedup; each
      hop expands the beam by node ∪ its out-edges, dedups
      (qid, node), and keeps the best ``beam`` by (dot DESC, id ASC);
      ids outside the OLD corpus never score (the inner scoring join);
    - merge: candidates = touched nodes' old edges ∪ served ∪
      new×new via a shared old neighbor ∪ reverse ∪ reverse fan-in,
      deduped on (src, dst); a pair whose endpoint is not in the union
      drops (the inner scoring joins) — so a touched graph id outside
      the corpus loses its rows, while untouched rows pass through
      verbatim, edges pointing outside the corpus included;
    - arithmetic: ``_micro_quant_np`` / ``_sim_ppm_np``, int64 dots,
      per-src (dot DESC, dst ASC) rank cut at ``k``.

    Returns None when the inputs leave the replay's domain — over the
    memory bound, no new rows, id columns not all one integral type,
    a graph schema other than ``(id, neighbor_id, rank int, sim_ppm
    bigint)``, nulls, duplicate union ids, ragged or non-finite
    vectors, an entry id outside the id type — and the caller runs
    the relational plan. ``nav_tab`` is not needed here: by its
    contract it equals the (corpus, graph) relation collected below."""
    import numpy as np
    import pandas as pd

    _check_beam_args(k, beam, hops)
    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType
    id_s = id_type.simpleString()
    np_id = _INTEGRAL_NP_DTYPES.get(id_s)
    g_types = {f.name: f.dataType.simpleString() for f in graph.schema}
    want = {"id": id_s, "neighbor_id": id_s, "rank": "int", "sim_ppm": "bigint"}
    if (
        np_id is None
        or new_rows.schema[id_col].dataType.simpleString() != id_s
        or len(graph.columns) != 4
        or g_types != want
    ):
        return None
    ent = None
    if entries is not None:
        # the relational entry relation: dedup, then int() per id
        ent = np.asarray(
            [int(e) for e in dict.fromkeys(entries)], dtype=object
        )
        lim = np.iinfo(np_id)
        if any(not lim.min <= e <= lim.max for e in ent):
            return None
        ent = ent.astype(np.int64)

    # the new rows first: they give the dimension, so an over-budget
    # union never collects the corpus
    new = _collect_id_vectors(new_rows, id_col, vec_col)
    if new is None or not new[1]:
        return None
    d = new[1][0].shape[1]
    if union_rows * d > _LOCAL_INSERT_VALUES:
        return None
    old = _collect_id_vectors(corpus, id_col, vec_col)
    if old is None or any(b.shape[1] != d for b in old[1]):
        return None
    ids = np.concatenate([old[0], new[0]])
    n_u = len(ids)
    if n_u * d > _LOCAL_INSERT_VALUES:
        return None
    srt = np.argsort(ids, kind="stable")
    # union index i <-> the i-th smallest id: index order IS the id
    # tie-break of every (dot DESC, id ASC) order below
    uid = ids[srt]
    if n_u > 1 and (uid[1:] == uid[:-1]).any():
        return None
    at = np.empty(n_u, dtype=np.int64)  # collected row -> union index
    at[srt] = np.arange(n_u)
    is_old = np.ones(n_u, dtype=bool)
    is_old[at[len(old[0]):]] = False
    # quantize block by block straight into union order: the float
    # temporaries stay at _LOCAL_DOT_ELEMS elements
    q = np.empty((n_u, d), dtype=np.int64)
    step = max(1, _LOCAL_DOT_ELEMS // max(1, d))
    row = 0
    for blk in old[1] + new[1]:
        for lo in range(0, len(blk), step):
            part = blk[lo:lo + step]
            if not np.isfinite(part).all():
                return None
            q[at[row + lo:row + lo + len(part)]] = _micro_quant_np(part)
        row += len(blk)
    del old, new

    gp = graph.select("id", "neighbor_id", "rank", "sim_ppm").toPandas()
    if gp.isna().to_numpy().any():
        return None
    g_id = gp["id"].to_numpy(dtype=np.int64)
    g_nbr = gp["neighbor_id"].to_numpy(dtype=np.int64)

    def to_union(x):
        """union index of each id, -1 when the id is not in the union"""
        pos = np.searchsorted(uid, x)
        hit = pos < n_u
        hit[hit] = uid[pos[hit]] == x[hit]
        return np.where(hit, pos, -1)

    def member(mask, idx):
        """mask[idx] with idx == -1 (not in the union) -> False"""
        out = np.zeros(len(idx), dtype=bool)
        ok = idx >= 0
        out[ok] = mask[idx[ok]]
        return out

    gs, gn = to_union(g_id), to_union(g_nbr)

    # ---- navigation: beam search of every new row over the OLD graph
    nav = member(is_old, gs) & member(is_old, gn)
    o = np.argsort(gs[nav], kind="stable")
    adj = gn[nav][o]
    indptr = np.zeros(n_u + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(gs[nav], minlength=n_u))
    if ent is None:
        seeds = np.flatnonzero(is_old)[:beam]
    else:
        seeds = to_union(ent)
        seeds = seeds[member(is_old, seeds)]

    def best(qs, qrow, node, width, dedup):
        """per query row: the ``width`` best nodes, (dot DESC, id ASC),
        returned sorted by (qrow, rank)"""
        if dedup:
            key = np.unique(qrow * n_u + node)
            qrow, node = key // n_u, key % n_u
        dot = _pair_dots(q, qs[qrow], node)
        o = np.lexsort((node, -dot, qrow))
        qrow, node = qrow[o], node[o]
        keep = np.arange(len(qrow)) - np.searchsorted(qrow, qrow) < width
        return qrow[keep], node[keep]

    new_u = np.flatnonzero(~is_old)
    s_src, s_dst = [], []
    for lo in range(0, len(new_u), _LOCAL_NAV_BLOCK):
        qs = new_u[lo:lo + _LOCAL_NAV_BLOCK]
        qrow, node = best(
            qs,
            np.repeat(np.arange(len(qs)), len(seeds)),
            np.tile(seeds, len(qs)),
            beam,
            dedup=False,
        )
        for _ in range(hops):
            deg = indptr[node + 1] - indptr[node]
            first = np.repeat(indptr[node] - (np.cumsum(deg) - deg), deg)
            nbrs = adj[first + np.arange(deg.sum())]
            qrow, node = best(
                qs,
                np.concatenate([qrow, np.repeat(qrow, deg)]),
                np.concatenate([node, nbrs]),
                beam,
                dedup=True,
            )
        # served = the final beam's top-k (union ids are unique, so the
        # node != qid self-exclusion never fires)
        top = np.arange(len(qrow)) - np.searchsorted(qrow, qrow) < k
        s_src.append(qs[qrow[top]])
        s_dst.append(node[top])
    s_src = np.concatenate(s_src) if s_src else np.zeros(0, dtype=np.int64)
    s_dst = np.concatenate(s_dst) if s_dst else np.zeros(0, dtype=np.int64)

    # ---- merge: re-rank every touched node
    served_to = np.zeros(n_u, dtype=bool)
    served_to[s_dst] = True
    fan = member(served_to, gn)  # old edges x -> o into a served neighbor o
    touched = np.zeros(n_u, dtype=bool)
    touched[s_src] = True
    touched[s_dst] = True
    g_touched = member(touched, gs) | np.isin(g_id, g_id[fan])
    sv = pd.DataFrame({"a": s_src, "o": s_dst})
    nn_new = sv.merge(sv.rename(columns={"a": "b"}), on="o")
    nn_new = nn_new[nn_new["a"] != nn_new["b"]]
    rev_fan = pd.DataFrame({"x": gs[fan], "o": gn[fan]}).merge(sv, on="o")
    old_c = g_touched & (gs >= 0) & (gn >= 0)
    src = np.concatenate([
        gs[old_c], s_src, nn_new["a"].to_numpy(), s_dst,
        rev_fan["x"].to_numpy(),
    ]).astype(np.int64)
    dst = np.concatenate([
        gn[old_c], s_dst, nn_new["b"].to_numpy(), s_src,
        rev_fan["a"].to_numpy(),
    ]).astype(np.int64)
    keep = (src >= 0) & (dst >= 0)
    key = np.unique(src[keep] * n_u + dst[keep])
    src, dst = key // n_u, key % n_u
    dot = _pair_dots(q, src, dst)
    o = np.lexsort((dst, -dot, src))
    src, dst, dot = src[o], dst[o], dot[o]
    rank = np.arange(len(src)) - np.searchsorted(src, src) + 1
    cut = rank <= k

    un = ~g_touched
    out = pd.DataFrame({
        "id": np.concatenate([g_id[un], uid[src[cut]]]).astype(np_id),
        "neighbor_id": np.concatenate(
            [g_nbr[un], uid[dst[cut]]]
        ).astype(np_id),
        "rank": np.concatenate([
            gp["rank"].to_numpy()[un], rank[cut]
        ]).astype(np.int32),
        "sim_ppm": np.concatenate([
            gp["sim_ppm"].to_numpy()[un], _sim_ppm_np(dot[cut])
        ]).astype(np.int64),
    })
    out = out.iloc[np.lexsort((out["rank"], out["id"]))]
    # column order of the relational output: the left-anti USING join
    # puts 'id' first, then the graph's remaining columns
    cols = ["id"] + [c for c in graph.columns if c != "id"]
    types = {
        "id": id_type, "neighbor_id": id_type,
        "rank": T.IntegerType(), "sim_ppm": T.LongType(),
    }
    schema = T.StructType([T.StructField(c, types[c]) for c in cols])
    if out.empty:
        return spark.createDataFrame([], schema=schema)
    return spark.createDataFrame(out[cols], schema=schema)


def _exact_knn_graph(
    members: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    member_rows: int | None = None,
) -> DataFrame:
    """Exact graph over a SMALL member set (an upper layer):
    broadcast all-pairs with the builder's integer micro-dot
    arithmetic — same output contract as nn_descent_knn_graph
    ((id, neighbor_id, rank, sim_ppm), rank by (dot DESC, id ASC)).
    Caller bounds the member count (<= exact_budget).

    Keeps rank <= k PLUS the geometric SKIP EDGES rank = 2^j (j up
    to the member count): Kleinberg's small-world construction —
    greedy routing needs a few mid/long-range links per node to jump
    between basins, which a pure top-k graph over clustered data
    lacks (every top-k slot goes intra-cluster once a cluster holds
    > k members at this layer). The skips are what let the descent
    ENTER a basin whose members all drew low levels; a converged
    top-k-only layer strands it exactly like layer 0 does. HNSW gets
    the same effect from its select-neighbors-heuristic diversity;
    rank-2^j is the deterministic, SQL-replayable analog.

    ``member_rows`` (the caller's bounded count) <= 2048 dispatches
    the driver-local numpy replay (``_exact_knn_graph_local`` — same
    edges, milliseconds instead of a window shuffle); None or larger
    keeps the distributed plan."""
    if member_rows is not None and member_rows <= 2048:
        return _exact_knn_graph_local(members, id_col, vec_col, k)
    from pyspark.sql.window import Window

    quant = _micro_quant(vec_col)
    a = members.select(F.col(id_col).alias("id"), quant.alias("qa"))
    b = members.select(
        F.col(id_col).alias("neighbor_id"), quant.alias("qb")
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    rk = F.col("rank")
    is_skip = rk.bitwiseAND(rk - 1) == 0  # rank is a power of two
    return (
        a.join(F.broadcast(b), F.col("id") != F.col("neighbor_id"))
        .select("id", "neighbor_id", _int_dot("qa", "qb").alias("dot"))
        .withColumn("rank", F.row_number().over(w))
        .filter((rk <= k) | is_skip)
        .select(
            "id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.expr(_SIM_PPM_SQL).cast("long").alias("sim_ppm"),
        )
    )


def hnsw_hierarchy_build(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    m: int = 2,
    max_level: int | None = None,
    exact_budget: int = 2000,
    entry_budget: int = 512,
    corpus_rows: int | None = None,
    base_graph: DataFrame | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Layered kNN-graph hierarchy — the full HNSW shape (the
    reference's default index is HNSW32, app/main.py:47), built
    bottom-up instead of by sequential insertion (HNSW's insert loop
    is inherently serial; a Spark build must be set-at-a-time):

    - every node gets a deterministic geometric level
      (``hnsw_levels``, P(level >= l) = m^-l);
    - layer 0 = NN-Descent over the FULL corpus (the existing
      builder, byte-deterministic);
    - layer l >= 1 = a kNN graph over the nodes with level >= l —
      EXACT broadcast all-pairs while the layer fits
      ``exact_budget`` (upper layers shrink m× per level, so all
      but the first are tiny), NN-Descent above it.

    Output: ``(layer, id, neighbor_id, rank, sim_ppm)``. Total build
    cost ≈ layer-0 cost · (1 + 1/m + 1/m² + …) = ×m/(m-1) — +33%
    at m=4. ``max_level`` defaults to ``hnsw_max_level`` so the top
    layer is O(entry_budget) rows at any corpus size; the per-layer
    membership counts are O(log n) bounded driver probes.

    Navigability: descent hands each query from the globally-tiny
    top layer down to layer-0 entries near its basin — the role the
    rank-stride / kmeans++ provisioning plays for the flat tier, but
    with O(log n) descent instead of O(n_regions) hop-0 scoring, no
    driver-side Lloyd, and md5-replayable membership. Caveat shared
    with real HNSW: a cluster is reachable only if some member drew
    a high level (P(miss) = (1-1/m)^cluster_size — why m defaults to
    2 here, the densest layering and far denser than HNSW's 1/M law
    (P(miss) halves per member at m=2 vs the 0.75^size of m=4), and why
    ``ivf_graph_entries`` remains the geometry-aware alternative for
    few-huge-cluster corpora).

    ``base_graph`` reuses an already-built (or index_store-loaded)
    layer-0 NN-Descent graph instead of rebuilding it — upper layers
    cost the extra ~1/(m-1) only. ``meta`` (a dict, mutated in
    place) receives ``top_layer`` so a caller that builds-then-serves
    can pass it straight to ``hnsw_topk_search(top_layer=...)``
    instead of paying an aggregation job to rediscover it."""
    n = corpus_rows if corpus_rows is not None else df.count()
    levels = max_level if max_level is not None else hnsw_max_level(
        n, m, entry_budget
    )
    lv = hnsw_levels(df, id_col, m, levels)
    base = (
        base_graph
        if base_graph is not None
        else nn_descent_knn_graph(df, id_col, vec_col, k=k, iters=iters)
    )
    out = base.select(F.lit(0).cast("int").alias("layer"), "*")
    if meta is not None:
        meta["top_layer"] = 0
        # upper-layer sizes come from a bounded limit(exact_budget+1)
        # probe, so values above exact_budget are CAPPED sentinels
        # ("> exact_budget"), not true cardinalities — size_cap lets
        # the serve path clamp start_budget instead of mistaking a
        # capped huge layer for one it can seed exhaustively
        meta["layer_sizes"] = {0: n}
        meta["size_cap"] = exact_budget
    for l in range(1, levels + 1):
        members = (
            df.join(lv.filter(F.col("level") >= l), id_col)
            .select(id_col, vec_col)
        )
        cnt = members.limit(exact_budget + 1).count()
        if cnt <= entry_budget:
            # this layer IS the entry set: a graph above the entry
            # collect is never walked (hop 0 scores every member),
            # so stop building — hnsw_topk_search re-derives the
            # membership from the level expression
            break
        if cnt <= exact_budget:
            g = _exact_knn_graph(
                members, id_col, vec_col, k, member_rows=cnt
            )
        else:
            g = nn_descent_knn_graph(
                members, id_col, vec_col, k=k, iters=iters
            )
        out = out.unionByName(
            g.select(F.lit(l).cast("int").alias("layer"), "*")
        )
        if meta is not None:
            meta["top_layer"] = l
            meta["layer_sizes"][l] = cnt
    return out


def hnsw_hierarchy_insert(
    corpus: DataFrame,
    hierarchy: DataFrame,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    m: int = 2,
    exact_budget: int = 2000,
    entry_budget: int = 512,
    corpus_rows: int | None = None,
    entries: list | None = None,
    base_graph: DataFrame | None = None,
    meta: dict | None = None,
    nav_tab: DataFrame | None = None,
    nav_members: DataFrame | None = None,
    old_layer_sizes: dict | None = None,
    old_top_layer: int | None = None,
    batch_layers: bool = True,
) -> DataFrame:
    """INCREMENTAL maintenance of a layered hierarchy — the HNSW
    ``add`` at the hierarchy tier (reference ``index.add`` keeps its
    levels incremental, app/vector_search.py:85-141): appended rows
    join every layer their deterministic md5 level grants (level >= l
    ⇒ member of layer l — the same draw the builder and the serve
    membership predicate replay), and only the layers they touch pay:

    - layer 0: ``graph_insert`` of the new rows into the stored
      graph (cost ∝ new rows; exact-union property on exact stored
      graphs — the r9 graded contract), or adopt ``base_graph`` when
      the caller already maintained layer 0 (the VectorSearch path,
      where insert/refresh dispatch happened upstream);
    - layer l >= 1 whose UNION membership fits ``exact_budget``: the
      exact broadcast graph is REBUILT over the union members —
      byte-identical to what ``hnsw_hierarchy_build`` on the union
      produces, which also repairs the rank-2^j skip edges exactly
      (an insert-style top-k repair would drop them); these layers
      are <= exact_budget rows, so the rebuild is the cheap path,
      not a concession;
    - larger (NN-Descent-built) layers: ``graph_insert`` of the
      layer's new members into the stored layer graph — cost ∝ new
      members of that layer (n_new/m^l in expectation), never the
      n/m^l a rebuild pays;
    - layers ABOVE the stored top: the union may cross the builder's
      stopping rule (a membership that was <= entry_budget can
      outgrow it) — re-derived with the builder's own loop, so the
      layer SET equals a from-scratch build's.

    ``meta`` (mutated like the builder's) receives top_layer /
    layer_sizes / size_cap for the serve call. Output: the full
    updated (layer, id, neighbor_id, rank, sim_ppm) hierarchy.

    Warm-state reuse (the cost levers at scale — without them every
    repaired layer re-scans the FULL union with the md5 predicate
    plus a bounded count probe, O(n) driver-blocking jobs per layer):
    ``nav_members`` — the RETIRED pre-mutation membership table
    (``hnsw_nav_members`` over the OLD corpus, layers 1..top+1):
    old members read Σ n/m^l materialized rows instead of md5-
    rescanning the corpus per layer; ``old_layer_sizes`` /
    ``old_top_layer`` — the stored hierarchy's meta: the union layer
    size is then old + (new members' cheap count), so the per-layer
    probe touches only the NEW rows. Values above the builder's
    size_cap are capped sentinels — still > exact_budget, so every
    dispatch decision is unchanged (stored layers are all
    > entry_budget by the stopping rule, so the break rule can only
    trigger on probed layers above the stored top, exactly as
    before).
    Batched repair (r12): when ≥2 layers dispatch to ``graph_insert``
    — layer 0 included whenever this call owns it (``base_graph``
    None) — they are repaired by ONE struct-keyed
    ``_batched_layer_graph_insert`` instead of one call per layer:
    plan construction (the dominant warm-insert cost, ~13k py4j
    roundtrips per repair at the 10× step) is paid once regardless of
    layer count (measured 20.2 s → ~13 s at 10×-sf0.1), and one md5
    level histogram of the new rows replaces the per-level membership
    probes (one job, exact counts). Row-for-row equal to the
    per-layer path (``batch_layers=False``), pinned by
    test_hierarchy_batched_insert_equals_per_layer.

    Equality contract (gate ``hierarchy_insert_exact_embeddings``):
    where the stored layer 0 is exact and every upper layer is
    exact-tier, insert ≡ the rebuilt hierarchy whose layer 0 is the
    brute-force exact union graph — strictly stronger than
    rebuilt-with-cold-NN-Descent, mirroring the r9 insert gate."""
    import math as _math

    n_old = corpus_rows if corpus_rows is not None else corpus.count()
    # ONE job — the md5-level histogram of the new rows — replaces
    # the n_new count plus one bounded membership probe per level
    # (driver-blocking jobs scale with the level count otherwise).
    # level >= l <=> the per-layer filter's hash % m^l == 0, so the
    # suffix sums ARE the per-layer new-member counts, exact. The
    # histogram's level cap is the largest l with m^l inside int64
    # (floor(62/log2 m), <= 48) — a FIXED 48 overflowed the m**l
    # literal for m >= 3 (3^48 > 2^63); no reachable `levels` exceeds
    # the cap, since levels ~ log_m(n/entry_budget) and n is int64.
    lvl_cap = min(48, int(62 // _math.log2(m)))
    lvl_hist: dict = {
        r["level"]: r["cnt"]
        for r in hnsw_levels(new_rows, id_col, m, lvl_cap)
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_new = sum(lvl_hist.values())

    def nm_of(layer: int) -> int:
        return sum(c for lv, c in lvl_hist.items() if lv >= layer)

    n = n_old + n_new
    if meta is not None:
        meta["top_layer"] = 0
        meta["layer_sizes"] = {0: n}
        meta["size_cap"] = exact_budget
        meta["built"] = "insert"
    levels = hnsw_max_level(n, m, entry_budget)
    stored_top = (
        old_top_layer
        if old_top_layer is not None
        else hierarchy.agg(F.max("layer").alias("t")).collect()[0]["t"]
        or 0
    )
    edge_cols = ["id", "neighbor_id", "rank", "sim_ppm"]
    specs: list = []  # (l, tier, old_members, new_members, members, cnt, nm)
    for l in range(1, levels + 1):
        new_members = new_rows.select(id_col, vec_col).filter(
            _hnsw_hash(id_col) % (m**l) == 0
        )
        nm = nm_of(l)
        # old membership: the retired member table covers layers
        # 1..stored_top+1; beyond it (or without warm state) the md5
        # predicate over the corpus is the source, as the builder's
        if nav_members is not None and l <= stored_top + 1:
            old_members = nav_members.filter(
                F.col("layer") == l
            ).select(id_col, vec_col)
        else:
            old_members = corpus.select(id_col, vec_col).filter(
                _hnsw_hash(id_col) % (m**l) == 0
            )
        members = old_members.unionByName(new_members)
        if old_layer_sizes is not None and l in old_layer_sizes:
            # stored size + new draw count — no union-wide probe.
            # A capped sentinel stays > exact_budget, so the dispatch
            # below is decision-identical to the probed value.
            cnt = int(old_layer_sizes[l]) + nm
        else:
            cnt = members.limit(exact_budget + 1).count()
        if cnt <= entry_budget:
            break  # builder's stopping rule — layer IS the entry set
        if cnt <= exact_budget:
            tier = "exact"
        elif l <= stored_top:
            tier = "unchanged" if nm == 0 else "ginsert"
        else:
            tier = "descent"
        specs.append((l, tier, old_members, new_members, members, cnt, nm))
        if meta is not None:
            meta["top_layer"] = l
            meta["layer_sizes"][l] = cnt
    # ≥2 graph_insert-tier repairs collapse into ONE batched insert
    # over a struct-keyed union (r12; NOTES r12 candidate (b)) —
    # including LAYER 0 itself whenever this call owns it (no
    # base_graph): the per-layer path paid a full graph_insert plan
    # construction per dispatched layer (~13k py4j roundtrips per
    # repair at the 10× step — the dominant insert cost), while the
    # batched plan has the SAME shape regardless of layer count.
    # Row-for-row equal to the per-layer calls
    # (test_hierarchy_batched_insert_equals_per_layer).
    # entry_list None = derive the layer's rank-stride entries inside
    # the batch's ONE consolidated global-rank job (identical
    # membership to per-layer default_graph_entries — see
    # _batched_layer_graph_insert); a caller-provided layer-0 list
    # (the beam-smallest-strands-clusters provisioning, like the
    # serve facades') is honored verbatim
    batch_specs: list = []  # (l, old_members, new_members, nm, entry_list)
    if base_graph is None and n_new > 0:
        batch_specs.append((
            0,
            corpus.select(id_col, vec_col),
            new_rows.select(id_col, vec_col),
            n_new,
            entries,
        ))
    for l, tier, old_members, new_members, _mem, _cnt, nm in specs:
        if tier == "ginsert":
            batch_specs.append((l, old_members, new_members, nm, None))
    batched: DataFrame | None = None
    if batch_layers and len(batch_specs) >= 2:
        batched = _batched_layer_graph_insert(
            hierarchy, batch_specs, k, id_col, vec_col, edge_cols
        )
    # layer 0 (when not folded into the batch)
    if base_graph is not None:
        l0 = base_graph
    elif batched is not None and n_new > 0:
        l0 = None  # rows come out of the batched block
    else:
        l0 = graph_insert(
            corpus.select(id_col, vec_col),
            hierarchy.filter(F.col("layer") == 0).drop("layer"),
            new_rows.select(id_col, vec_col),
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            entries=(
                entries
                if entries is not None
                else default_graph_entries(
                    corpus, id_col, corpus_rows=n_old
                )
            ),
            corpus_rows=n_old,
            # the stored layer-0 graph's nav table (warm serving
            # state) skips the navigation setup
            nav_tab=nav_tab,
            new_rows_count=n_new,
        )
    out = (
        l0.select(F.lit(0).cast("int").alias("layer"), *edge_cols)
        if l0 is not None
        else None
    )
    for l, tier, old_members, new_members, members, cnt, nm in specs:
        if tier == "exact":
            g = _exact_knn_graph(
                members, id_col, vec_col, k, member_rows=cnt
            )
        elif tier == "unchanged":
            # nobody drew this level — layer unchanged
            g = hierarchy.filter(F.col("layer") == l).select(*edge_cols)
        elif tier == "ginsert":
            if batched is not None:
                continue  # emitted once below, outside the loop
            g = graph_insert(
                old_members,
                hierarchy.filter(F.col("layer") == l).select(*edge_cols),
                new_members,
                k=k,
                id_col=id_col,
                vec_col=vec_col,
                entries=default_graph_entries(
                    old_members, id_col, corpus_rows=cnt - nm
                ),
                new_rows_count=nm,
            )
        else:
            # a layer this large above the stored top means the union
            # crossed a level boundary the old corpus never built
            g = nn_descent_knn_graph(
                members, id_col, vec_col, k=k, iters=iters
            )
        piece = g.select(F.lit(l).cast("int").alias("layer"), *edge_cols)
        out = piece if out is None else out.unionByName(piece)
    if batched is not None:
        piece = batched.select("layer", *edge_cols)
        out = piece if out is None else out.unionByName(piece)
    return out


def _batched_layer_graph_insert(
    hierarchy: DataFrame,
    batch_specs: list,
    k: int,
    id_col: str,
    vec_col: str,
    edge_cols: list,
) -> DataFrame:
    """ONE ``graph_insert`` repairing EVERY graph_insert-tier layer of
    a hierarchy at once (layer 0 included when the caller owns it):
    nodes are keyed by a ``struct(ly, nid)`` composite, so per-layer
    relations stay disjoint through every join/window while the whole
    repair is a single plan construction + action. Row-for-row equal
    to per-layer ``graph_insert`` calls:

    - edges and entries are layer-local, and ``entries_df`` seeds each
      new member ONLY with its own layer's entry nodes, so no walk,
      candidate, or scored pair ever crosses layers;
    - the beam/merge total order ``(dot DESC, node ASC)`` on the
      struct compares ``(ly, nid)`` lexicographically — within one
      query's (single-layer) candidate set that IS the per-layer
      ``nid ASC`` tie-break;
    - a ``batch_specs`` row with ``entry_list=None`` gets the
      ``default_graph_entries`` rank-stride derived INSIDE the
      batch's one consolidated global-rank job: ranking the tagged
      union by ``(ly, nid)`` and subtracting each layer's cumulative
      offset reproduces every layer's within-layer 1-based id rank
      exactly, so the stride picks (``(rk-1) % ceil(cnt/32) == 0``)
      are membership-identical to the per-layer calls' — for ~3
      driver-blocking jobs TOTAL instead of ~3 per layer. A non-None
      list (the caller's layer-0 entries) is honored verbatim. The
      layer-0 ``nav_tab`` substitution is dropped, which is
      output-neutral by the nav-tab purity contract
      (test_hnsw_descent_with_nav_state_equals_without).

    ``batch_specs``: ``(layer, old_members, new_members, nm,
    entry_list|None)`` rows. Returns ``(layer, id, neighbor_id, rank,
    sim_ppm)`` covering exactly the batched layers."""
    import math as _math

    from .windows import global_rank

    spark = hierarchy.sparkSession
    layers = [s[0] for s in batch_specs]
    id_type = batch_specs[0][2].schema[id_col].dataType
    nid = F.col(id_col).alias("nid")

    def skey(l):
        return F.struct(
            F.lit(l).cast("int").alias("ly"), nid
        ).alias(id_col)

    def tag_members(df, l):
        return df.select(skey(l), vec_col)

    b_corpus = b_new = None
    stride_tagged = None  # flat (ly, nid) of layers needing strides
    entry_rows: list = []
    total_new = 0
    for l, old_members, new_members, nm, entry_list in batch_specs:
        b_corpus = (
            tag_members(old_members, l)
            if b_corpus is None
            else b_corpus.unionByName(tag_members(old_members, l))
        )
        b_new = (
            tag_members(new_members, l)
            if b_new is None
            else b_new.unionByName(tag_members(new_members, l))
        )
        if entry_list is None:
            tagged = old_members.select(
                F.lit(l).cast("int").alias("ly"), nid
            )
            stride_tagged = (
                tagged
                if stride_tagged is None
                else stride_tagged.unionByName(tagged)
            )
        else:
            # DEDUPED like the list path's entry_df (a repeated entry
            # id must not occupy two hop-0 beam slots)
            for e in dict.fromkeys(entry_list):
                entry_rows.append((l, e))
        total_new += nm
    b_graph = hierarchy.filter(F.col("layer").isin(layers)).select(
        F.struct(
            F.col("layer").cast("int").alias("ly"),
            F.col("id").alias("nid"),
        ).alias("id"),
        F.struct(
            F.col("layer").cast("int").alias("ly"),
            F.col("neighbor_id").alias("nid"),
        ).alias("neighbor_id"),
        "rank",
        "sim_ppm",
    )
    entries_parts = []
    if stride_tagged is not None:
        ranked = global_rank(
            stride_tagged, [F.col("ly"), F.col("nid")], out_col="__rk"
        )
        # per-layer counts -> cumulative offsets + stride steps (one
        # tiny job; the per-layer true sizes, NOT the capped meta)
        cnts = {
            r["ly"]: r["c"]
            for r in ranked.groupBy("ly")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        off, acc = {}, 0
        for ly in sorted(cnts):
            off[ly] = acc
            acc += cnts[ly]
        step = {
            ly: max(1, _math.ceil(c / 32)) for ly, c in cnts.items()
        }
        off_df = F.broadcast(
            spark.createDataFrame(
                [(ly, off[ly], step[ly]) for ly in sorted(cnts)],
                "ly int, __off long, __step long",
            )
        )
        entries_parts.append(
            ranked.join(off_df, "ly")
            .filter(
                (F.col("__rk") - 1 - F.col("__off")) % F.col("__step")
                == 0
            )
            .select("ly", "nid")
        )
    if entry_rows:
        entries_parts.append(
            spark.createDataFrame(
                entry_rows,
                T.StructType([
                    T.StructField("ly", T.IntegerType()),
                    T.StructField("nid", id_type),
                ]),
            )
        )
    entry_rel = entries_parts[0]
    for p in entries_parts[1:]:
        entry_rel = entry_rel.unionByName(p)
    entry_rel = entry_rel.select(
        F.col("ly").alias("__ly"), F.col("nid").alias("__e")
    )
    entries_df = (
        b_new.select(F.col(id_col).alias("qid"))
        .join(
            F.broadcast(entry_rel), F.col("qid.ly") == F.col("__ly")
        )
        .select(
            "qid",
            F.struct(
                F.col("__ly").alias("ly"), F.col("__e").alias("nid")
            ).alias("node"),
        )
    )
    merged = graph_insert(
        b_corpus,
        b_graph,
        b_new,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        entries_df=entries_df,
        new_rows_count=total_new,
    )
    return merged.select(
        F.col("id.ly").alias("layer"),
        F.col("id.nid").alias("id"),
        F.col("neighbor_id.nid").alias("neighbor_id"),
        *edge_cols[2:],
    )


def hnsw_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hierarchy: DataFrame | None = None,
    beam: int | None = None,
    hops: int = 4,
    upper_beam: int = 4,
    upper_hops: int = 3,
    graph_k: int = 8,
    iters: int = 3,
    m: int = 2,
    entry_budget: int = 512,
    corpus_rows: int | None = None,
    query_rows: int | None = None,
    top_layer: int | None = None,
    layer_sizes: dict | None = None,
    start_budget: int = 1024,
    size_cap: int | None = None,
    descent_stride: int | None = None,
    nav_members: DataFrame | None = None,
    serving_state: dict | None = None,
    max_walks: int | None = None,
) -> DataFrame:
    """Serve top-k by LAYERED DESCENT over a ``hnsw_hierarchy_build``
    hierarchy — the HNSW search loop, relationally, with one latency
    twist: the walk STARTS at the deepest layer small enough to score
    EXHAUSTIVELY (membership <= ``start_budget``). Scoring every
    member of a 1k-row layer is one |queries|×|layer| broadcast join
    — cheaper and strictly more accurate than beam-walking the
    layers above it, each of which is a blocking round; layers above
    the start layer exist for corpora big enough to need them. From
    the start seed each lower layer's graph is beam-walked to the
    ``upper_beam`` closest nodes per query, handed down as the next
    layer's per-query entries (``graph_beam_search(entries_df=...)``
    — a relation; NOTHING is ever collected to the driver on the
    serve path), and layer 0 runs the full-width beam search over
    the union of all layers' edges.

    Scale shape: the seed join is |queries|·start_budget rows; each
    lower walk costs |queries|·upper_beam·(k+skips) per hop with
    m×-shrinking graph tables; total rounds = layers below the start
    layer, so latency grows with log_m(n/start_budget), not n.

    Same output contract as ``graph_topk_search``: (query_id,
    neighbor_id, similarity, rank). ``layer_sizes`` (from the
    builder's ``meta``) skips the per-layer cardinality job when
    serving an externally built hierarchy.

    ``descent_stride`` walks every stride-th layer (membership is
    NESTED — level >= l implies membership of every layer below —
    so a hand-off may legally skip layers). Default auto-picks the
    stride that makes the walked size ratio ≈ 4× (stride 2 at m=2):
    m=2 builds dense layers for COVERAGE, but walking all of them
    pays a blocking round per layer for refinement the next walk
    re-does anyway.

    ``nav_members`` (from ``hnsw_nav_members`` — persisted in RAM by
    a warm server, or parquet beside the saved hierarchy via
    ``index_store``) is the per-layer membership relation
    ``(layer, id, vec)`` for layers 1..top+1: when provided, the
    start seed, the entry membership, and every walked layer's
    scoring relation read it (small, layer-pruned) instead of
    re-filtering the FULL corpus with the md5 predicate per layer —
    the per-batch setup a loaded Faiss HNSW never pays
    (app/vector_search.py:241-294). It must have been built with the
    same ``m`` and cover layers through top+1; ``index_store`` keeps
    the knobs in the artifact meta and refuses a mismatch.

    ``serving_state`` (from ``hnsw_serving_state``) goes one step
    further: the per-layer ``(node, qv, nxts)`` navigation tables are
    prebuilt and MATERIALIZED once, so each walk's and the final
    search's plan references a lineage-free relation — per-batch
    planning+grouping work drops out entirely (the warm-latency
    lever; Faiss pays zero per-query setup for the same reason).

    ``max_walks`` caps the intermediate beam-walks between the start
    seed and layer 0. Default (None) is adaptive: 0 when the seed
    scored a fitted layer exhaustively (the seed is already
    basin-accurate; walking from it narrows the candidate pool and
    pays a blocking round per layer — measured recall@1 0.78 walked
    vs 0.92 direct at the 10x step, 3.7 s vs 0.9 s warm), the full
    strided descent when seeding from the sparse entry membership
    (no fitted layer — HNSW's actual regime, where the walks ARE the
    navigation). Pass an int to pin either behavior."""
    n = corpus_rows if corpus_rows is not None else corpus.count()
    if hierarchy is None:
        built_meta: dict = {}
        hierarchy = hnsw_hierarchy_build(
            corpus,
            id_col,
            vec_col,
            k=graph_k,
            iters=iters,
            m=m,
            entry_budget=entry_budget,
            corpus_rows=n,
            meta=built_meta,
        )
        if top_layer is None:
            top_layer = built_meta["top_layer"]
        if layer_sizes is None:
            layer_sizes = built_meta["layer_sizes"]
            size_cap = built_meta.get("size_cap", size_cap)
    if size_cap is not None:
        # builder meta sizes above size_cap are capped sentinels, not
        # true cardinalities — never exhaustively seed a layer whose
        # real size is unknown
        start_budget = min(start_budget, size_cap)
    if beam is None:
        beam = max(2 * k + 8, 16)
    nq = (
        query_rows
        if query_rows is not None
        else queries.limit(100_001).count()
    )
    top = (
        top_layer
        if top_layer is not None
        else hierarchy.agg(F.max("layer").alias("t")).collect()[0]["t"]
    )
    if top is None:
        raise ValueError("hierarchy has no layers")
    if layer_sizes is None and top >= 1:
        layer_sizes = {
            r["layer"]: r["sz"]
            for r in hierarchy.groupBy("layer")
            .agg(F.countDistinct("id").alias("sz"))
            .collect()
        }
    # pick the start layer: the DEEPEST built layer that fits
    # start_budget (exhaustive seed beats walking everything above
    # it); if none fits, the entry membership above the top built
    # layer does by the build's stopping rule (<= entry_budget).
    fits = [
        l
        for l in (layer_sizes or {})
        if l >= 1 and layer_sizes[l] <= start_budget
    ]
    if fits:
        s = min(fits)
        if nav_members is not None:
            # one row per member by construction — no distinct, no
            # edge-table scan
            members = nav_members.filter(F.col("layer") == s).select(
                F.col(id_col).alias("node")
            )
        else:
            members = (
                hierarchy.filter(F.col("layer") == s)
                .select(F.col("id").alias("node"))
                .distinct()
            )
    elif nav_members is not None and top >= 1:
        # entry membership above the top built layer + the smallest-id
        # backstop, both straight from the materialized member table
        # (layer top+1 may be empty on a tiny corpus — the backstop
        # rows are layer-top members, so the walk cannot drop them)
        s = top + 1
        members = (
            nav_members.filter(F.col("layer") == s)
            .select(F.col(id_col).alias("node"))
            .unionByName(
                nav_members.filter(F.col("layer") == top)
                .select(F.col(id_col).alias("node"))
                .orderBy("node")
                .limit(beam)
            )
            .distinct()
        )
    else:
        # membership of the level above the top built layer, straight
        # from the level expression — no graph, no collect. Tiny-
        # corpus edge: nobody drew the level, so union the flat
        # beam-smallest default (dedup'd by the hop-0 aggregate).
        s = top + 1
        members = (
            corpus.filter(_hnsw_hash(id_col) % (m**s) == 0)
            .select(F.col(id_col).alias("node"))
            .unionByName(
                # non-empty backstop: the smallest ids of layer `top`
                # itself (m**0 == 1 makes this the flat default when
                # there are no upper layers) — these ARE members of
                # the first walked layer, so the member-filtered walk
                # cannot drop them
                corpus.filter(_hnsw_hash(id_col) % (m**top) == 0)
                .select(F.col(id_col).alias("node"))
                .orderBy("node")
                .limit(beam)
            )
            .distinct()
        )
    ent_df = (
        queries.select(F.col(id_col).alias("qid"))
        .crossJoin(F.broadcast(members))
    )
    if descent_stride is None:
        import math as _math

        descent_stride = max(1, round(_math.log(4, m)))
    walk_layers = list(range(s - 1, 0, -descent_stride))
    if max_walks is None:
        # auto policy (measured on the 10x clustered fixture, r10):
        # an EXHAUSTIVE seed over a fitted layer already lands every
        # query in its basin — intermediate beam-walks from there
        # LOSE candidates (narrow upper_beam hand-offs collapse
        # diversity: recall@1 0.78 walked vs 0.92 direct) and pay a
        # blocking round each (3.7 s vs 0.9 s warm). Walks carry the
        # navigation only when the seed is the SPARSE entry
        # membership (no layer fit start_budget) — there the full
        # descent remains the mechanism, exactly HNSW's regime.
        max_walks = 0 if fits else len(walk_layers)
    walk_layers = walk_layers[: max_walks]
    for l in walk_layers:
        g_l = hierarchy.filter(F.col("layer") == l).drop("layer")
        # the walk only ever visits layer members, so its scoring
        # relation is the MEMBER subset (a map-side hash predicate,
        # no join) — without this every upper walk rebuilt its
        # broadcast from the FULL corpus and warm-serve latency grew
        # linearly in n (measured exponent 0.95 at the 10x step).
        # With nav_members the subset is already materialized: the
        # md5 predicate still rescans the full corpus per layer per
        # batch, the member table reads Σ n/m^l rows ONCE total.
        corpus_l = (
            nav_members.filter(F.col("layer") == l).select(
                id_col, vec_col
            )
            if nav_members is not None
            else corpus.filter(_hnsw_hash(id_col) % (m**l) == 0)
        )
        res = graph_beam_search(
            corpus_l,
            g_l,
            [],
            k=1,
            beam=upper_beam,
            hops=upper_hops,
            id_col=id_col,
            vec_col=vec_col,
            queries_df=queries,
            corpus_rows=max(1, n // (m**l)),
            entries_df=ent_df,
            raw=True,
            query_rows=nq,
            nav_tab=(serving_state or {}).get(l),
        )
        # lazy hand-off: |queries|·upper_beam rows. The checkpoint
        # truncates LINEAGE (so Catalyst never re-optimizes the whole
        # chain as one mega-plan) but stays lazy — with the stride
        # keeping walk count low, the entire descent schedules as ONE
        # action instead of a blocking round per layer
        ent_df = res.select("qid", "node").localCheckpoint(eager=False)
    # final search graph = layer 0 UNION every upper layer's edges:
    # the upper edges are the long-range links a converged kNN graph
    # lacks (HNSW gets them from insertion order — early inserts keep
    # cross-basin layer-0 neighbors); they cost nothing extra (the
    # hierarchy already built them, Σ n/m^l rows) and can only widen
    # the beam's candidate pool
    # NO distinct: an edge present in several layers would cost a
    # full edge-table shuffle per serving call to dedup here, while
    # the beam search's per-hop (qid, node) aggregate already dedups
    # candidates — duplicate adjacency entries only pad the grouped
    # lists a little
    search_graph = hierarchy.select("id", "neighbor_id")
    out = graph_beam_search(
        corpus,
        search_graph,
        [],
        k=k,
        beam=beam,
        hops=hops,
        id_col=id_col,
        vec_col=vec_col,
        queries_df=queries,
        corpus_rows=n,
        entries_df=ent_df,
        query_rows=nq,
        nav_tab=(serving_state or {}).get(0),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.col("sim_ppm") / F.lit(1_000_000.0)).alias("similarity"),
        "rank",
    )


def filtered_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    predicate,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    graph: DataFrame | None = None,
    entries: list | None = None,
    selectivity_threshold: float = 0.1,
    oversample: int = 4,
    corpus_rows: int | None = None,
    matched_rows: int | None = None,
    hierarchy_min_rows: int = 10_000,
    hierarchy: DataFrame | None = None,
) -> DataFrame:
    """Metadata-FILTERED ANN search (the Faiss ``IDSelector`` role —
    top-k among only the corpus rows satisfying ``predicate``, a
    Column or SQL string over the corpus's columns), dispatched on
    measured selectivity:

    - SELECTIVE predicate (matching fraction <= threshold): serve
      EXACT over the filtered subset — the subset is a small fraction
      of the corpus, so brute force there is both cheaper than index
      navigation and immune to the filtered-graph pathology below.
      This branch is fully deterministic (the blocked-BLAS tier's
      tie contract), so the gate's DuckDB oracle replays it by value.
    - UNSELECTIVE predicate: serve the INTACT index with an
      OVERSAMPLED k (k·oversample), then post-filter and re-rank.
      The index must stay unfiltered: dropping non-matching nodes
      from the graph severs navigation paths that merely pass
      through them (the well-known filtered-HNSW failure), while
      post-filtering an unselective predicate keeps ≥ k survivors
      w.h.p. — raise ``oversample`` for harsher filters. Fewer than
      k survivors for a query means the oversample missed; callers
      needing a hard guarantee lower ``selectivity_threshold`` to
      push more predicates onto the exact branch. The index tier
      follows corpus size like ``VectorSearch.search`` does:
      corpora >= ``hierarchy_min_rows`` serve the LAYERED hierarchy
      (``hnsw_topk_search`` — the fixed-hop flat walk degrades as
      intra-cluster diameter grows; pass ``hierarchy=`` to reuse a
      built one), smaller ones the flat provisioned-entries graph.

    Cost shape at scale: one bounded selectivity probe
    (``limit(threshold·n + 1).count()`` on the filtered scan —
    parquet predicate pushdown makes this cheap); the exact branch
    is |queries|·(threshold·n) scoring; the index branch is one
    ordinary graph serve plus a matched-id semi-join."""
    from pyspark.sql.window import Window

    from . import knn

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    n = corpus_rows if corpus_rows is not None else corpus.count()
    budget = int(n * selectivity_threshold)
    matched = corpus.filter(pred)
    mrows = (
        matched_rows
        if matched_rows is not None
        else matched.limit(budget + 1).count()
    )
    if mrows <= budget:
        return knn.knn_join(
            queries,
            id_col,
            vec_col,
            k=k,
            include_self=False,
            right=matched,
        )
    if n >= hierarchy_min_rows:
        served = hnsw_topk_search(
            queries,
            corpus,
            k=k * oversample,
            id_col=id_col,
            vec_col=vec_col,
            hierarchy=hierarchy,
            corpus_rows=n,
        )
    else:
        served = graph_topk_search(
            queries,
            corpus,
            k=k * oversample,
            id_col=id_col,
            vec_col=vec_col,
            graph=graph,
            entries=entries,
            corpus_rows=n,
        )
    keep = matched.select(F.col(id_col).alias("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        served.join(keep, "neighbor_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def _pq_reconstruct(mat, books):
    """Decode-of-encode on a local sample: per subspace, replace each
    row's slice by its nearest codebook entry (argmin over squared
    distance, first-index ties — np.argmin's deterministic rule)."""
    import numpy as np

    m, _k, sub = books.shape
    out = np.empty_like(mat)
    for j in range(m):
        sl = mat[:, j * sub : (j + 1) * sub]
        d2 = ((sl[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        out[:, j * sub : (j + 1) * sub] = books[j][np.argmin(d2, axis=1)]
    return out


def opq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    bits: int = 8,
    opq_iters: int = 10,
    sample_rows: int = 100_000,
    seed: int = 42,
    n_rows: int | None = None,
):
    """Optimized Product Quantization (Ge et al., CVPR 2013 — OPQ-NP,
    the non-parametric alternation; Faiss's ``OPQ<m>`` pre-transform):
    learn an ORTHONORMAL rotation R so that PQ's independent-subspace
    assumption holds in the rotated space — plain PQ wastes its code
    budget when variance is unevenly spread or correlated ACROSS
    subspace boundaries, and a rotation is distance-preserving, so
    ADC search in rotated space returns the same metric.

    Alternation on the driver-local seeded sample (the Lloyd/PQ
    training policy — the model is small, the data never leaves the
    cluster for encode/search): (1) fix R, train per-subspace Lloyd
    codebooks on X·Rᵀ; (2) fix the reconstruction X̂ (decode∘encode of
    the rotated sample) and solve the orthogonal Procrustes problem
    min_R ‖X·Rᵀ − X̂‖_F → R = U·Vᵀ from SVD(X̂ᵀ·X). Reconstruction
    error is monotonically non-increasing across iterations (each
    half-step is an exact argmin).

    Returns ``(R, codebooks)`` — R is (d, d); codebooks match
    ``pq_train``'s (m, 2^bits, d/m) contract, so ``opq_encode`` /
    ``opq_topk_search`` are thin rotate-then-PQ compositions."""
    import numpy as np

    n = df.count() if n_rows is None else n_rows
    fraction = min(1.0, sample_rows / max(n, 1))
    train_df = df.sample(fraction, seed=seed) if fraction < 1.0 else df
    sample = train_df.select(vec_col).limit(sample_rows).toPandas()
    mat = np.asarray(list(sample[vec_col]), dtype=np.float64)
    if len(mat) == 0:
        raise ValueError("cannot train OPQ on an empty sample")
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    k = 2**bits
    R = np.eye(dim)
    books = None
    for _ in range(max(1, opq_iters)):
        rot = mat @ R.T
        books = np.stack(
            [
                _lloyd_kmeans(
                    np.ascontiguousarray(rot[:, j * sub : (j + 1) * sub]),
                    k,
                    10,
                    seed + j,
                )
                for j in range(m)
            ]
        )
        xhat = _pq_reconstruct(rot, books)
        u, _s, vt = np.linalg.svd(xhat.T @ mat)
        R = u @ vt
    # final codebooks for the final R (the loop above trains books
    # for the PREVIOUS R before updating it)
    rot = mat @ R.T
    books = np.stack(
        [
            _lloyd_kmeans(
                np.ascontiguousarray(rot[:, j * sub : (j + 1) * sub]),
                k,
                10,
                seed + j,
            )
            for j in range(m)
        ]
    )
    return R, books


def rotate_vectors(
    df: DataFrame,
    rotation,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side vector rotation against a broadcast (d, d) matrix —
    Arrow-batched mapInPandas (one BLAS matmul per batch, never
    per-row Python), shuffle-free at any corpus size. Output keeps
    (id_col, vec_col) with the rotated vectors."""
    import numpy as np
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(rotation, dtype=np.float64)
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def op(it):
        R = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            out = mat @ R.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(out)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        op, f"{id_col} {id_type}, {vec_col} array<double>"
    )


def opq_encode(
    df: DataFrame,
    rotation,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rotate then PQ-encode: (id, pq_code). Both steps are map-side
    against broadcast models — encoding 100 TB stays shuffle-free."""
    return pq_encode(
        rotate_vectors(df, rotation, id_col, vec_col),
        codebooks,
        id_col,
        vec_col,
    )


def opq_topk_search(
    queries: DataFrame,
    codes: DataFrame,
    rotation,
    codebooks,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """ADC top-k in the rotated space: rotate the query batch, then
    the standard PQ ADC scan over the (rotation-encoded) code table.
    Orthonormal R preserves distances, so approx_similarity keeps the
    1 − d²/2 cosine bridge of ``pq_topk_search``."""
    return pq_topk_search(
        rotate_vectors(queries, rotation, id_col, vec_col),
        codes,
        codebooks,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        include_self=include_self,
    )


# ----------------------------------------------- RaBitQ (1-bit asymmetric)


def rabitq_train(df: DataFrame, vec_col: str = "embedding", seed: int = 42):
    """RaBitQ's model (Gao & Long, SIGMOD 2024, simplified to the
    inner-product form): a SEEDED RANDOM ORTHONORMAL rotation P
    (d, d) that balances per-dimension magnitude so the 1-bit sign
    code's estimator error is dimension-independent — the entire
    trainable state (no codebooks: the 'codebook' is the fixed
    {±1/√d}^d grid, which is what makes the tier 32× smaller than
    SQ8 and 8× smaller than PQ8 per vector).

    Driver-local and deterministic: QR of a seeded gaussian with the
    R-diagonal sign fix (the unique thin-QR convention), the same
    constant-size-model policy as the IVF/PQ/OPQ trainers — the
    corpus never leaves the cluster; only d² doubles come back.
    Completes the Faiss-style quantizer family next to SQ8/int8/PQ/
    OPQ (reference descriptor dispatch surface:
    app/vector_search.py:42-47)."""
    import numpy as np

    dim = df.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    rng = np.random.default_rng(seed)
    g = rng.normal(size=(dim, dim))
    q, r = np.linalg.qr(g)
    return q * np.sign(np.diag(r))


def rabitq_encode(
    df: DataFrame,
    rotation,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple = (),
) -> DataFrame:
    """1-bit encode: rotate, then keep only the SIGN of every rotated
    component (packed big-endian bits in a BINARY column — d/8 bytes
    per vector) plus the per-vector estimator denominator
    ``abs_sum`` = Σ|u_i| in micro units (⟨x̄, x̄_q⟩·√d — RaBitQ stores
    exactly this one correction scalar per vector).

    Map-side mapInPandas against the broadcast rotation (one BLAS
    matmul + a packbits per Arrow batch) — encoding 100 TB is
    shuffle-free, like ``pq_encode``/``sq8_encode``. Sign convention:
    u >= 0 → bit 1. Output: (id[, carry_cols...], sign_code binary,
    abs_sum long); ``carry_cols`` ride through untouched (the IVF
    composition carries each row's coarse ``bucket``)."""
    import numpy as np
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(rotation, dtype=np.float64)
    )
    id_type = df.schema[id_col].dataType.simpleString()
    carry = list(carry_cols)
    carry_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in carry
    )

    def op(it):
        P = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            u = mat @ P.T
            packed = np.packbits(u >= 0.0, axis=1)
            abs_sum = np.rint(np.abs(u).sum(axis=1) * 1e6).astype(
                np.int64
            )
            out = {id_col: pdf[id_col]}
            for c in carry:
                out[c] = pdf[c]
            out["sign_code"] = [row.tobytes() for row in packed]
            out["abs_sum"] = abs_sum
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col, *carry).mapInPandas(
        op,
        f"{id_col} {id_type}{carry_schema}, sign_code binary, "
        f"abs_sum long",
    )


def rabitq_encode_residual(
    assigned: DataFrame,
    rotation,
    centers,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RESIDUAL 1-bit encode — the paper's actual IVF composition
    (Gao & Long SIGMOD'24 §3.1 pair RaBitQ with IVF by quantizing
    x − c_bucket, exactly as Faiss IVF encodes residuals): each row's
    sign code is ``sign(P(x − c_b))`` and two per-vector scalars ride
    beside it — ``abs_sum`` = Σ|u|·1e6 (the estimator denominator, as
    in the raw encode) and ``res_nrm2`` = |x − c_b|² (float64, the
    exact residual energy the serving scan's distance composition
    needs: −dist² = 2⟨q−c, x−c⟩ − |x−c|² − |q−c|²).

    ``assigned`` must carry the single-list ``bucket`` column
    (``ivf_assign_with_centers(n_probe=1)``). One Arrow pass —
    subtract the broadcast centroid row, one BLAS matmul, packbits —
    shuffle-free like the raw encode. Output: (id, bucket,
    sign_code binary, abs_sum long, res_nrm2 double)."""
    import numpy as np
    import pandas as pd

    bc = assigned.sparkSession.sparkContext.broadcast((
        np.asarray(rotation, dtype=np.float64),
        np.asarray(centers, dtype=np.float64),
    ))
    id_type = assigned.schema[id_col].dataType.simpleString()

    def op(it):
        P, C = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            R = X - C[pdf["bucket"].to_numpy()]
            U = R @ P.T
            packed = np.packbits(U >= 0.0, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "bucket": pdf["bucket"],
                "sign_code": [row.tobytes() for row in packed],
                "abs_sum": np.rint(
                    np.abs(U).sum(axis=1) * 1e6
                ).astype(np.int64),
                "res_nrm2": (R * R).sum(axis=1),
            })

    return assigned.select(id_col, vec_col, "bucket").mapInPandas(
        op,
        f"{id_col} {id_type}, bucket int, sign_code binary, "
        f"abs_sum long, res_nrm2 double",
    )


# Serving-batch budgets for the driver-collected query tiers, in
# float64 ELEMENTS (rows × dim), not rows (VERDICT r11 item 4: a
# row-count cap is dimension-blind — 100k 384-d rotated queries are
# ~300 MB broadcast, 6× the 64-d figure the old cap was sized for).
# _RABITQ_CHUNK_ELEMENTS (~50 MB as packed f64) bounds each broadcast
# chunk; _RABITQ_MAX_BATCH_ELEMENTS bounds the ONE driver collect a
# serving call makes — beyond it the caller must page. The collect
# materializes BOXED Python rows, ~5× the packed size (a Row + list +
# float objects per element), so the 16M-element cap budgets ~128 MB
# packed / under ~1 GB boxed peak — at 64-d that is 250k rows (2.5×
# the old row cap) and at 384-d ~42k (where the old cap silently
# admitted 6× the memory it was sized for).
_RABITQ_CHUNK_ELEMENTS = 6_400_000
_RABITQ_MAX_BATCH_ELEMENTS = 16_000_000


def _collect_query_batch(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    max_batch_elements: int,
    op_name: str,
) -> list:
    """ONE bounded driver collect of a serving query batch. The bound
    is dimension-aware: ``max_batch_elements // dim`` rows; one past
    it raises instead of silently OOMing the driver. ``dim`` comes
    from the (already driver-resident) rotation/model, so no probe
    job is paid."""
    max_rows = max(1, max_batch_elements // max(1, dim))
    qrows = queries.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(qrows) > max_rows:
        raise ValueError(
            f"{op_name} serves driver-collected query batches of at "
            f"most {max_batch_elements} elements (= {max_rows} rows "
            f"at dim {dim}) — page larger batches upstream"
        )
    return qrows


def rabitq_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
    codes: DataFrame | None = None,
    shortlist: int | None = None,
    include_self: bool = False,
    seed: int = 42,
    chunk_elements: int = _RABITQ_CHUNK_ELEMENTS,
    max_batch_elements: int = _RABITQ_MAX_BATCH_ELEMENTS,
) -> DataFrame:
    """Asymmetric 1-bit top-k (the RaBitQ serving loop): the QUERY
    stays full-precision, each corpus vector is its sign code + one
    correction scalar, and the estimated inner product is

        est⟨x̄, q⟩ = ⟨sign(u_x), u_q⟩ / Σ|u_x|

    (the paper's unbiased ⟨x̄_q, q⟩ / ⟨x̄, x̄_q⟩ with the 1/√d factors
    cancelled). Serving = shortlist-then-rerank, the
    ``hamming_rerank_topk`` composition: (1) a map-side SCAN over the
    code table — per Arrow batch one ±1 matmul against the broadcast
    rotated-query matrix, emitting only each batch's per-query top
    ``shortlist`` (partial top-k combine, so the shuffle carries
    O(partitions·|queries|·shortlist) rows, never n·|queries|);
    (2) a window cut to the global shortlist; (3) EXACT integer
    micro-dot rerank of the shortlist in the original space — output
    ranks/similarities are engine-exact, the estimator only chooses
    the candidates (how the planted-twin gate stays closed-form).

    Scale shape: the code table is 1 bit/dim + 8 bytes — a 100 TB
    f32 corpus scans as ~3 TB of codes, map-side; queries are a
    bounded serving batch (driver-collected like the entry lists).
    ``rotation``/``codes`` memoize across batches (VectorSearch
    does); ``shortlist`` defaults to max(8k, 64).

    Batch budget is DIMENSION-AWARE (VERDICT r11 item 4): the
    rotated-query broadcast is rows × dim float64, so the budget is
    in ELEMENTS, not rows — oversized batches are auto-split into
    ``chunk_elements``-sized chunks served independently and unioned
    (each chunk scans the code table once; per-query independence
    makes chunked ≡ single, pinned by
    test_rabitq_chunked_equals_single). Only a batch whose COLLECT
    would exceed ``max_batch_elements`` driver-side is refused."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    if rotation is None:
        rotation = rabitq_train(corpus, vec_col, seed=seed)
    if codes is None:
        codes = rabitq_encode(corpus, rotation, id_col, vec_col)
    if shortlist is None:
        shortlist = max(8 * k, 64)
    P = np.asarray(rotation, dtype=np.float64)
    qrows = _collect_query_batch(
        queries, id_col, vec_col, P.shape[0],
        max_batch_elements, "rabitq_topk_search",
    )
    if not qrows:
        out_t = queries.schema[id_col].dataType.simpleString()
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {out_t}, neighbor_id {out_t}, "
            f"similarity double, rank int",
        )
    id_type = queries.schema[id_col].dataType.simpleString()
    dim = P.shape[0]

    def make_scan(bc):
        def scan(it):
            q_ids, Q = bc.value
            nq = len(q_ids)
            take = shortlist
            for pdf in it:
                n = len(pdf)
                if n == 0:
                    continue
                B = np.unpackbits(
                    np.stack(
                        [
                            np.frombuffer(b, np.uint8)
                            for b in pdf["sign_code"]
                        ]
                    ),
                    axis=1,
                )[:, :dim].astype(np.float64)
                S = (2.0 * B - 1.0) @ Q.T  # n×nq sign-dots
                est = S / (
                    np.maximum(pdf["abs_sum"].to_numpy(), 1)[:, None]
                    / 1e6
                )
                ids = pdf[id_col].to_numpy()
                t = min(take, n)
                top = np.argpartition(-est, t - 1, axis=0)[:t]  # t×nq
                # deterministic boundary cut (ADVICE r11):
                # argpartition keeps ARBITRARY members of an
                # estimator tie straddling the top-t value — exact
                # ties are the planted-twin regime's norm — so
                # re-resolve any boundary tie id-ascending. The
                # per-batch membership then matches the global
                # (est desc, id asc) window cut (and the IVF scan's
                # pandas sort), making the partial-top-k compose
                # partition-invariantly.
                cols = np.arange(nq)
                v = est[top, cols].min(axis=0)  # cut value per query
                n_tied_kept = (est[top, cols] == v).sum(axis=0)
                n_tied_all = (est == v[None, :]).sum(axis=0)
                for j in np.nonzero(n_tied_all > n_tied_kept)[0]:
                    cj = est[:, j]
                    strict = np.nonzero(cj > v[j])[0]
                    tied = np.nonzero(cj == v[j])[0]
                    tied = tied[np.argsort(ids[tied], kind="stable")]
                    top[:, j] = np.concatenate([strict, tied])[:t]
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(q_ids, t),
                        "id": ids[top].T.ravel(),
                        "est": est[top, np.arange(nq)].T.ravel(),
                    }
                )

        return scan

    spark = queries.sparkSession
    qschema = queries.select(id_col, vec_col).schema
    chunk_rows = max(1, chunk_elements // max(1, dim))
    out = None
    for s in range(0, len(qrows), chunk_rows):
        chunk = qrows[s:s + chunk_rows]
        qids = np.asarray([r[0] for r in chunk])
        qmat = np.asarray(
            [list(r[1]) for r in chunk], dtype=np.float64
        ) @ P.T
        bc = spark.sparkContext.broadcast((qids, qmat))
        scanned = codes.mapInPandas(
            make_scan(bc), f"qid {id_type}, id {id_type}, est double"
        )
        # the rerank's query side comes from the ALREADY-COLLECTED
        # chunk rows (one local relation) — re-planning the incoming
        # query relation per chunk would recompute it |chunks|+1 times
        piece = _rabitq_shortlist_rerank(
            scanned, spark.createDataFrame(chunk, qschema), corpus,
            k, shortlist, include_self, id_col, vec_col,
        )
        out = piece if out is None else out.unionByName(piece)
    return out


def _rabitq_shortlist_rerank(
    scanned: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int,
    include_self: bool,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of the RaBitQ serving paths: cut the per-query
    estimator shortlist, then EXACT integer micro-dot rerank in the
    ORIGINAL space (the repo-wide engine-exact currency) — output
    ranks/similarities never depend on the estimator's floats.
    Broadcastable sides: the shortlist is |queries|·shortlist rows,
    the query table a bounded batch."""
    from pyspark.sql.window import Window

    if not include_self:
        scanned = scanned.filter(F.col("qid") != F.col("id"))
    w_s = Window.partitionBy("qid").orderBy(F.desc("est"), F.asc("id"))
    cand = (
        scanned.withColumn("rn", F.row_number().over(w_s))
        .filter(F.col("rn") <= shortlist)
        .select("qid", "id")
    )
    quant = _micro_quant(vec_col)
    c_q = corpus.select(F.col(id_col).alias("id"), quant.alias("q2"))
    q_q = queries.select(F.col(id_col).alias("qid"), quant.alias("q1"))
    w_r = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("id"))
    sim_ppm = F.expr(_SIM_PPM_SQL)
    return (
        cand.join(c_q, "id")
        .join(F.broadcast(q_q), "qid")
        .select("qid", "id", _int_dot("q1", "q2").alias("dot"))
        .withColumn("rank", F.row_number().over(w_r))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            (sim_ppm / F.lit(1_000_000.0)).alias("similarity"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def rabitq_ivf_topk_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 2,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
    codes: DataFrame | None = None,
    centers=None,
    shortlist: int | None = None,
    include_self: bool = False,
    seed: int = 42,
    corpus_rows: int | None = None,
    chunk_elements: int = _RABITQ_CHUNK_ELEMENTS,
    max_batch_elements: int = _RABITQ_MAX_BATCH_ELEMENTS,
    residual: bool = False,
) -> DataFrame:
    """``RaBitQ,IVF<c>`` composition — the Faiss coarse-then-scan
    pipeline with a 1-bit fine stage: each corpus row lives in ONE
    coarse list (Lloyd centroids trained driver-locally, the
    train-on-sample policy; assignment is the map-side Arrow pass),
    each query probes its ``n_probe`` nearest lists, and the
    asymmetric estimator scans ONLY the probed lists' codes — the
    scan touches ~n·n_probe/n_centroids rows instead of n, the IVF
    pruning exactly as in ``ivfpq_topk_search``. Exact rerank as in
    the flat tier, so output ranks stay engine-exact.

    Scale shape: one broadcast join replicates each probed-bucket
    code row per probing query (bounded query batch), the scan's
    per-batch partial top-k keeps the shuffle at
    O(partitions·|queries|·shortlist), centers/rotation are
    constant-size driver artifacts. ``codes`` (bucket-carrying, from
    ``rabitq_encode(..., carry_cols=("bucket",))`` over an
    ``ivf_assign_with_centers(n_probe=1)`` assignment) and
    ``centers``/``rotation`` memoize across batches. Batch budget is
    dimension-aware with auto-chunking, exactly as in
    ``rabitq_topk_search`` (each chunk joins/scans only its own
    probed lists).

    ``residual=True`` switches to the paper's ACTUAL IVF form (and
    Faiss's): codes quantize the RESIDUAL x − c_bucket
    (``rabitq_encode_residual``), queries scan with their own
    per-bucket residual q − c_b, and the shortlist is cut by the
    estimated NEGATIVE squared distance
    2·îp − |x−c_b|² − |q−c_b|² (îp = est·|x−c_b|², est the
    asymmetric sign estimator over residuals). On clustered corpora
    the raw form's sign codes are dominated by the shared centroid
    direction (within-list codes collapse toward the centroid's
    code), while residual codes keep discriminating — measured
    strictly better shortlist recall at tight cluster spread
    (test_rabitq_residual_beats_raw_on_tight_clusters). A planted
    twin shares its original's bucket AND residual, so its sign code
    + abs_sum + res_nrm2 are identical, its estimate hits the
    exact-tie maximum (est = 1 ⇒ score = |q−c|² − |x−c|² ≈ 0, every
    true distance below it), and the exact rerank pins rank 1. The
    final rerank is IDENTICAL to the raw form — engine-exact integer
    dots in the original space — so output ranks/similarities keep
    the repo-wide currency regardless of the estimator form."""
    import numpy as np
    import pandas as pd

    if rotation is None:
        rotation = rabitq_train(corpus, vec_col, seed=seed)
    if centers is None:
        n = corpus_rows if corpus_rows is not None else corpus.count()
        mat = _quantizer_train_sample(corpus, vec_col, n, seed, None)
        centers = _lloyd_kmeans(mat, n_centroids, 10, seed)
    if codes is None:
        assigned = ivf_assign_with_centers(
            corpus, centers, vec_col, n_probe=1
        )
        if residual:
            codes = rabitq_encode_residual(
                assigned, rotation, centers, id_col, vec_col
            )
        else:
            codes = rabitq_encode(
                assigned, rotation, id_col, vec_col,
                carry_cols=("bucket",),
            )
    if shortlist is None:
        shortlist = max(8 * k, 64)
    P = np.asarray(rotation, dtype=np.float64)
    # ONE bounded collect: original-space vectors drive the bucket
    # probe (assignment space must match the corpus side's), the
    # rotation applies driver-side for the estimator (rotation only
    # shapes codes — float64 matmul, identical to rotate_vectors')
    qrows = _collect_query_batch(
        queries, id_col, vec_col, P.shape[0],
        max_batch_elements, "rabitq_ivf_topk_search",
    )
    out_t = queries.schema[id_col].dataType.simpleString()
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {out_t}, neighbor_id {out_t}, "
            f"similarity double, rank int",
        )
    cents = np.asarray(centers, dtype=np.float64)
    reps = min(n_probe, len(cents))
    dim = P.shape[0]
    spark = queries.sparkSession
    qschema = queries.select(id_col, vec_col).schema

    def make_scan(bc):
        def scan(it):
            q_ids, Qrot = bc.value
            # (ids, matrix) broadcast, not a dict of ndarrays (ADVICE
            # r11 low): one contiguous pickle, the flat tier's form;
            # the id → row map is rebuilt once per partition
            qix = {q: i for i, q in enumerate(q_ids)}
            for pdf in it:
                if len(pdf) == 0:
                    continue
                B = np.unpackbits(
                    np.stack(
                        [
                            np.frombuffer(b, np.uint8)
                            for b in pdf["sign_code"]
                        ]
                    ),
                    axis=1,
                )[:, :dim].astype(np.float64)
                Qm = Qrot[[qix[q] for q in pdf["qid"]]]
                s = np.einsum("ij,ij->i", 2.0 * B - 1.0, Qm)
                est = s / (
                    np.maximum(pdf["abs_sum"].to_numpy(), 1) / 1e6
                )
                out = pd.DataFrame(
                    {"qid": pdf["qid"], "id": pdf[id_col], "est": est}
                )
                # per-batch partial top-k per query (same combine as
                # the flat scan — bounds the shuffle)
                out = (
                    out.sort_values(
                        ["qid", "est", "id"],
                        ascending=[True, False, True],
                    )
                    .groupby("qid", sort=False)
                    .head(shortlist)
                )
                yield out

        return scan

    def make_residual_scan(bc):
        def scan(it):
            # per-(query, probed-bucket) residual queries: the key is
            # the PAIR, because the same query scans each probed list
            # against a different residual q − c_b
            p_qids, p_buckets, Qp, qn2 = bc.value
            pix = {
                (q, int(b)): i
                for i, (q, b) in enumerate(zip(p_qids, p_buckets))
            }
            for pdf in it:
                if len(pdf) == 0:
                    continue
                B = np.unpackbits(
                    np.stack(
                        [
                            np.frombuffer(b, np.uint8)
                            for b in pdf["sign_code"]
                        ]
                    ),
                    axis=1,
                )[:, :dim].astype(np.float64)
                rows = [
                    pix[(q, int(b))]
                    for q, b in zip(pdf["qid"], pdf["bucket"])
                ]
                s = np.einsum(
                    "ij,ij->i", 2.0 * B - 1.0, Qp[rows]
                )
                nrm2 = pdf["res_nrm2"].to_numpy()
                # est ≈ ⟨q−c, x−c⟩ / |x−c|²; îp = est·|x−c|²_exact;
                # score = −estimated dist² (a twin scores exactly
                # |q−c|² − |x−c|² ≈ 0, above every true candidate)
                ip = (
                    s / (np.maximum(pdf["abs_sum"].to_numpy(), 1) / 1e6)
                ) * nrm2
                score = 2.0 * ip - nrm2 - qn2[rows]
                out = pd.DataFrame(
                    {"qid": pdf["qid"], "id": pdf[id_col], "est": score}
                )
                out = (
                    out.sort_values(
                        ["qid", "est", "id"],
                        ascending=[True, False, True],
                    )
                    .groupby("qid", sort=False)
                    .head(shortlist)
                )
                yield out

        return scan

    # residual mode broadcasts one rotated residual PER PROBE, so the
    # per-chunk element budget divides by n_probe too
    chunk_rows = max(
        1, chunk_elements // max(1, dim * (reps if residual else 1))
    )
    result = None
    for s0 in range(0, len(qrows), chunk_rows):
        chunk = qrows[s0:s0 + chunk_rows]
        X = np.asarray([list(r[1]) for r in chunk], dtype=np.float64)
        # the probe MUST share ivf_assign_with_centers' arithmetic
        # verbatim (ADVICE r11): the expanded |x|^2 - 2x·c + |c|^2
        # batch expression, not (c - x)^2 — float rounding can order
        # near-tied centroids differently across the two forms, and
        # the planted-twin guarantee ("the query's own list is always
        # probed") holds only when query- and corpus-side assignments
        # agree
        d2 = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        # stable ascending ⇒ distance ties break on the lower
        # centroid id — the ivf_assign_with_centers contract
        probes = np.argsort(d2, axis=1, kind="stable")[:, :reps]
        probe_pairs = [
            (r[0], int(b))
            for i, r in enumerate(chunk)
            for b in probes[i]
        ]
        q_buckets = spark.createDataFrame(
            probe_pairs, schema=f"qid {out_t}, bucket int"
        )
        if residual:
            # one rotated RESIDUAL per (query, probed bucket) — plus
            # the exact |q−c_b|² the distance composition needs
            p_qids = np.asarray([q for q, _ in probe_pairs])
            p_buckets = np.asarray(
                [b for _, b in probe_pairs], dtype=np.int64
            )
            V = np.asarray(
                [
                    X[i] - cents[b]
                    for i, r in enumerate(chunk)
                    for b in probes[i]
                ],
                dtype=np.float64,
            )
            bc = spark.sparkContext.broadcast(
                (p_qids, p_buckets, V @ P.T, (V * V).sum(axis=1))
            )
            scan_fn = make_residual_scan(bc)
        else:
            q_ids = np.asarray([r[0] for r in chunk])
            bc = spark.sparkContext.broadcast((q_ids, X @ P.T))
            scan_fn = make_scan(bc)
        # each probed-bucket code row carries its probing query's id;
        # est is then a row-wise signed dot against that query's
        # rotated (residual) vector — one einsum per Arrow batch
        cand_codes = codes.join(F.broadcast(q_buckets), "bucket")
        scanned = cand_codes.mapInPandas(
            scan_fn, f"qid {out_t}, id {out_t}, est double"
        )
        piece = _rabitq_shortlist_rerank(
            scanned, spark.createDataFrame(chunk, qschema), corpus,
            k, shortlist, include_self, id_col, vec_col,
        )
        result = piece if result is None else result.unionByName(piece)
    return result
