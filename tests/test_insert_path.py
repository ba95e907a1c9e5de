"""The incremental-insert path of the graph tier: the driver-local
``graph_insert`` replay against the relational plan, the
``default_graph_entries`` stride, and the Spark jobs and persisted
relations one ``VectorSearch`` append costs."""

import gc
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_post_similarity_spark.operators import ann


def _vec_df(spark, ids, mat, id_type="bigint"):
    pdf = pd.DataFrame({"vec_id": list(ids), "embedding": list(mat)})
    return spark.createDataFrame(pdf).select(
        F.col("vec_id").cast(id_type).alias("vec_id"), "embedding"
    )


def _clustered(rng, n, dim, centers, spread):
    x = centers[rng.integers(len(centers), size=n)]
    x = x + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture
def local_spy(monkeypatch):
    """Records whether each graph_insert call took the local replay."""
    calls = []
    real = ann._graph_insert_local

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(ann, "_graph_insert_local", spy)
    return calls


def _relational(corpus, graph, new, entries, beam, **kw):
    """The same insert through the relational plan: ``entries_df``
    (which the local replay never takes) seeds every new row with the
    list path's seed set — the deduped entry ids, or the ``beam``
    smallest corpus ids when ``entries`` is None."""
    id_type = corpus.schema["vec_id"].dataType
    if entries is None:
        seeds = corpus.select(F.col("vec_id").alias("node")).orderBy(
            "node"
        ).limit(beam)
    else:
        seeds = corpus.sparkSession.createDataFrame(
            [(int(e),) for e in dict.fromkeys(entries)], "node long"
        ).select(F.col("node").cast(id_type).alias("node"))
    entries_df = new.select(F.col("vec_id").alias("qid")).crossJoin(seeds)
    return ann.graph_insert(
        corpus, graph, new, beam=beam, entries_df=entries_df, **kw
    )


def _assert_local_equals_relational(
    local_spy, corpus, graph, new, entries, beam=24, **kw
):
    n_calls = len(local_spy)
    got = ann.graph_insert(corpus, graph, new, beam=beam, entries=entries, **kw)
    assert local_spy[n_calls:] == [True], "local replay not taken"
    want = _relational(corpus, graph, new, entries, beam, **kw)
    assert local_spy[n_calls:] == [True]  # entries_df stays relational
    assert got.schema.simpleString() == want.schema.simpleString()
    got_rows = _rows(got)
    assert got_rows == _rows(want)
    return got, got_rows


@pytest.fixture(scope="module")
def twins(spark):
    """The planted-twin fixture of
    test_graph_insert_matches_exact_union_graph: 8 tight clusters of
    12, 10 old + 2 new members each, one entry id per cluster."""
    rng = np.random.default_rng(41)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(12, 16))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    old_idx = [i for i in range(96) if i % 12 < 10]
    new_idx = [i for i in range(96) if i % 12 >= 10]
    return (
        [vecs[i] for i in old_idx], old_idx,
        [vecs[i] for i in new_idx], [1000 + i for i in new_idx],
    )


def _twin_frames(spark, twins, id_type="bigint"):
    old_vecs, old_ids, new_vecs, new_ids = twins
    old_df = _vec_df(spark, old_ids, old_vecs, id_type)
    new_df = _vec_df(spark, new_ids, new_vecs, id_type)
    graph = ann.nn_descent_knn_graph(old_df, k=6, iters=3).localCheckpoint()
    return old_df, new_df, graph


def test_graph_insert_local_equals_relational(spark, twins, local_spy):
    """Row for row, on the planted-twin fixture, across the replay's
    edge cases: entries None, duplicate entry ids, an entry id absent
    from the corpus, graph edges pointing out of the corpus (and from
    an id outside it, which the fan-in touches and the scoring join
    drops), hops=0, tied dots, and a 32-bit id column."""
    old_df, new_df, graph = _twin_frames(spark, twins)
    stride = list(range(0, 96, 12))
    kw = {"k": 6, "hops": 4}
    _assert_local_equals_relational(
        local_spy, old_df, graph, new_df, stride, **kw
    )
    _assert_local_equals_relational(local_spy, old_df, graph, new_df, None, **kw)
    _assert_local_equals_relational(
        local_spy, old_df, graph, new_df, stride + stride[::-1], **kw
    )
    _assert_local_equals_relational(
        local_spy, old_df, graph, new_df, stride + [999_999], **kw
    )
    _assert_local_equals_relational(
        local_spy, old_df, graph, new_df, stride, k=6, hops=0
    )
    # an edge out of the corpus, and one from an id outside it INTO
    # the first new row's nearest old node (a served neighbor): the
    # fan-in touches 888_888 and the scoring join then drops its row
    old_vecs, old_ids, new_vecs, _ = twins
    q = ann._micro_quant_np(np.asarray(old_vecs + new_vecs[:1]))
    nearest = old_ids[int(np.argmax(q[:-1] @ q[-1]))]
    first = graph.orderBy("id", "rank").first()
    stray = spark.createDataFrame(
        [(first["id"], 777_777, 7, 0), (888_888, nearest, 1, 0)],
        graph.schema,
    )
    _, rows = _assert_local_equals_relational(
        local_spy, old_df, graph.unionByName(stray), new_df, stride, **kw
    )
    assert all(r[0] != 888_888 for r in rows)
    # every old vector twice: the copies tie on dot with any query,
    dup_df = old_df.unionByName(
        old_df.select((F.col("vec_id") + 500).alias("vec_id"), "embedding")
    )
    # seeded with both copies of each entry, so the (dot DESC, id ASC)
    # order decides which copy makes the hop-0 top-k cut (k odd) and
    # how the merge ranks each tied pair; ONE new row, so no new×new
    # candidate can push the cut copy out of its output
    dup_graph = ann.nn_descent_knn_graph(dup_df, k=5, iters=3).localCheckpoint()
    _assert_local_equals_relational(
        local_spy, dup_df, dup_graph, new_df.filter(F.col("vec_id") == 1010),
        stride + [e + 500 for e in stride], k=5, hops=0,
    )
    old32, new32, graph32 = _twin_frames(spark, twins, "int")
    got, _ = _assert_local_equals_relational(
        local_spy, old32, graph32, new32, stride, **kw
    )
    assert got.schema["id"].dataType.simpleString() == "int"


def test_graph_insert_local_memory_bounds(spark, twins, local_spy, monkeypatch):
    """The replay's two memory bounds. Dot operands gathered in blocks
    of a few pairs give the same rows as one block; a union whose
    rows × dimension exceed the budget is declined and runs the
    relational plan, with the same output."""
    old_df, new_df, graph = _twin_frames(spark, twins)
    stride = list(range(0, 96, 12))
    kw = {"k": 6, "hops": 4, "entries": stride}
    want = _rows(ann.graph_insert(old_df, graph, new_df, **kw))
    monkeypatch.setattr(ann, "_LOCAL_DOT_ELEMS", 3 * 16)
    assert _rows(ann.graph_insert(old_df, graph, new_df, **kw)) == want
    assert local_spy == [True, True]
    # 96 union rows × 16 dimensions = 1,536 values
    monkeypatch.setattr(ann, "_LOCAL_INSERT_VALUES", 96 * 16 - 1)
    assert _rows(ann.graph_insert(old_df, graph, new_df, **kw)) == want
    assert local_spy == [True, True, False]
    monkeypatch.setattr(ann, "_LOCAL_INSERT_VALUES", 96 * 16)
    assert _rows(ann.graph_insert(old_df, graph, new_df, **kw)) == want
    assert local_spy == [True, True, False, True]


def test_graph_insert_local_successive_appends(spark, local_spy):
    """A 2,000×32 clustered corpus takes three successive 20-row
    appends; at each one the local replay equals the relational plan
    row for row, and its output is the next append's graph."""
    rng = np.random.default_rng(7)
    dim = 32
    centers = rng.standard_normal((16, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = _vec_df(spark, range(2000), _clustered(rng, 2000, dim, centers, 0.6))
    graph = ann.nn_descent_knn_graph(corpus, k=8, iters=3).localCheckpoint()
    for step in range(3):
        first = 100_000 + 20 * step
        new = _vec_df(
            spark, range(first, first + 20), _clustered(rng, 20, dim, centers, 0.6)
        )
        entries = ann.default_graph_entries(corpus)
        graph, _ = _assert_local_equals_relational(
            local_spy, corpus, graph, new, entries, beam=40, k=8, hops=4
        )
        corpus = corpus.unionByName(new)


@pytest.mark.parametrize("n", [20, 64, 1000])
def test_default_graph_entries_is_sorted_stride(spark, n):
    """Every ceil(n/32)-th id of the sorted ids, for n < 32, n
    divisible by 32 and n not divisible by 32 (ids shuffled, with
    gaps, so neither layout nor density can stand in for the sort)."""
    rng = np.random.default_rng(n)
    ids = rng.permutation(np.arange(n) * 3 + 5)
    df = spark.createDataFrame([(int(i),) for i in ids], "vec_id long")
    step = -(-n // 32)
    assert ann.default_graph_entries(df) == sorted(ids.tolist())[::step]


def test_default_graph_entries_row_hint(spark):
    """``corpus_rows`` picks the path and never the answer: a hint
    above 100k ranks distributed (and releases the rank's persisted
    partitioning), a wrong small hint still collects, both give the
    sorted stride."""
    ids = np.random.default_rng(3).permutation(np.arange(1000) * 7)
    df = spark.createDataFrame([(int(i),) for i in ids], "vec_id long")
    want = sorted(ids.tolist())[::32]
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    assert ann.default_graph_entries(df, corpus_rows=200_000) == want
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before
    assert ann.default_graph_entries(df, corpus_rows=10) == want


# ------------------------------------------------ VectorSearch appends

# the benchmark's index_serve shape: 2,000 rows, 20-row appends
_SERVE_N, _SERVE_DIM, _APPEND = 2000, 32, 20


@pytest.fixture(scope="module")
def serving_index(spark, tmp_path_factory):
    """VectorSearch("HNSW32") over 2,000 clustered 32-d vectors with
    the approximate thresholds lowered to 1,000 (the descent tier at
    this size), built by one add + search; yields (index, next append
    frame, query frame)."""
    from job_post_similarity_spark.index_api import VectorSearch

    root = tmp_path_factory.mktemp("serve")
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((32, _SERVE_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def frame(name, first, n):
        path = str(root / f"{name}.parquet")
        pd.DataFrame({
            "vec_id": np.arange(first, first + n, dtype=np.int64),
            "embedding": list(_clustered(rng, n, _SERVE_DIM, centers, 0.6)),
        }).to_parquet(path)
        return spark.read.parquet(path)

    vs = VectorSearch(_SERVE_DIM, "HNSW32", spark=spark)
    vs.exact_shortcut_rows = vs.hierarchy_min_rows = 1000
    queries = frame("queries", 10**9, 50)
    vs.add(frame("corpus", 0, _SERVE_N))
    vs.search(queries, k=10).toPandas()
    appended = [0]

    def next_append():
        appended[0] += 1
        first = 10**8 + _APPEND * appended[0]
        return frame(f"append{appended[0]}", first, _APPEND)

    yield vs, next_append, queries
    vs._invalidate_graph()


def _append_cycle(vs, append, queries):
    vs.add(append)
    return vs.search(queries, k=10).toPandas()


def test_vector_search_append_job_count(spark, serving_index):
    """One 20-row add() plus the next search() runs at most 30 Spark
    jobs at the descent tier (70 before the driver-local insert
    replay and the carried counts). Job counts are deterministic, so
    the guard does not depend on host speed."""
    vs, next_append, queries = serving_index
    append = next_append()
    sc = spark.sparkContext
    sc.setJobGroup("append_cycle", "one add + search")
    try:
        res = _append_cycle(vs, append, queries)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("append_cycle")
    assert len(res) == 50 * 10
    assert vs._hier_meta["built"] == "insert"
    assert len(jobs) <= 30, f"{len(jobs)} jobs per append + search"


def _held_rdd_ids(vs):
    """Ids of the persisted RDDs behind the relations ``vs`` holds:
    the checkpointed RDD of a localCheckpoint, the cached column
    buffers of a persist."""
    frames = []
    for v in vars(vs).values():
        vals = (
            v.values() if isinstance(v, dict)
            else v if isinstance(v, (list, tuple)) else [v]
        )
        frames += [f for f in vals if isinstance(f, DataFrame)]
    cache = frames[0].sparkSession._jsparkSession.sharedState().cacheManager()
    ids = set()
    for f in frames:
        plan = f._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            ids.add(plan.rdd().id())
            continue
        cached = cache.lookupCachedData(f._jdf)
        if cached.isDefined():
            ids.add(
                cached.get().cachedRepresentation().cacheBuilder()
                .cachedColumnBuffers().id()
            )
    return ids


def test_vector_search_appends_do_not_leak_persisted_rdds(spark, serving_index):
    """Append cycles release what they retire. After a Python and JVM
    garbage collection, every RDD persisted since the test started is
    either behind a relation the index still holds or was created by
    the latest cycle, after each of six cycles. The exception is the
    latest search's upper-layer walk checkpoint: the search's lazy
    result reads it, so it lives until the JVM drops that plan, which
    a forced collection does not always do at once. A leak would
    outlive its cycle and fail the check. The cycles cross the
    walk-policy threshold (layer 1 past 2 × entry_budget rows, near
    2,100 rows), where the index gains its layer-1 serving table and
    each search its walk checkpoint."""
    vs, next_append, queries = serving_index
    sc = spark.sparkContext

    def new_rdd_id():
        return sc.parallelize([]).id()

    def persisted():
        return {i for i in sc._jsc.getPersistentRDDs().keys() if i > first_id}

    first_id = new_rdd_id()
    for cycle in range(6):
        cycle_start = new_rdd_id()
        _append_cycle(vs, next_append(), queries)
        # the ContextCleaner unpersists asynchronously after the GC
        for _ in range(25):
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.2)
            held = _held_rdd_ids(vs)
            if persisted() <= held:
                break
        unowned = persisted() - held
        assert all(i > cycle_start for i in unowned), (cycle, unowned)
        assert len(unowned) <= 1, (cycle, unowned)
