"""The three benchmark workloads.

Each workload drives the program only through its public API
(``main.run_pipeline``, ``plans.pipeline.prepare_pretraining_corpus``,
``index_api.VectorSearch``), repeats its operation until ``seconds``
have passed and at least ``MIN_OPS`` times, checks every output outside
the timed regions and returns its metrics. Given a ``Tracer`` it also
records per-layer spans: in that mode operations alternate untraced and
traced, so the run reports the tracing overhead as the difference of
their median times.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import ExitStack, contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import checks, gen, stats

# Input sizes. A run must fit the benchmark's time budget on a 4-core
# host: one pipeline operation takes a few seconds at these sizes, so
# a run measures several of them after one untimed warm-up operation on
# a smaller input of the same shape (the first operation of a session
# runs up to 3x slower while the JVM compiles; most of that is a fixed
# cost, so a full-size warm-up buys little).
JOBS_POSTS = 1500
CURATION_DOCS = 300
#: Rows of the warm-up input, as a share of the measured input.
WARMUP_SHARE = 1 / 3
#: Measured operations per run at least, however short ``seconds`` is:
#: a traced run needs one untraced and one traced operation, and the
#: best of two damps the CPU-steal spikes of shared hosts.
MIN_OPS = 2
SERVE_CORPUS = 2000
SERVE_DIM = 32
SERVE_CLUSTERS = 32
SERVE_BATCH = 50
SERVE_K = 10
SERVE_APPEND_ROWS = 20
#: search batches per closed-loop cycle; each cycle ends with one append
#: and the batch after it. A batch costs ~1.7 s of mostly fixed per-job
#: overhead and an append ~10 s, so a run of one cycle fits the time
#: budget; the tail percentile (``stats.TAIL_BEYOND`` samples beyond
#: it) needs three.
SERVE_SEARCHES_PER_APPEND = 4
#: ``VectorSearch`` serves exact ``knn_join`` below these corpus sizes
#: (10,000 by default). The benchmark lowers both on its instance, the
#: way the class documents for serving the approximate tier at small
#: n, so a corpus that fits the time budget takes the NN-Descent graph
#: and hierarchy path that a corpus above 10,000 rows takes.
SERVE_APPROX_FROM_ROWS = 1000
#: pre-generated inputs; a run stops early when they are used up
SERVE_MAX_APPENDS = 4
SERVE_MAX_BATCHES = SERVE_MAX_APPENDS * (SERVE_SEARCHES_PER_APPEND + 1) + 1


@dataclass
class Run:
    """One workload run: the session, its scratch directory and what
    the operations recorded."""

    spark: object
    work: str
    seconds: float
    tracer: object | None = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    untraced: list = field(default_factory=list)
    traced_s: list = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def attempt(self, fn, *args):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # the run must go on and report the failure
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return None

    def fail(self, messages: list[str]) -> None:
        """Count an operation whose output check failed."""
        if messages:
            self.failed += 1
            self.errors.extend(messages)

    def traced(self, i: int):
        """The tracer for operation ``i``: every second operation of a
        traced run, none otherwise."""
        return self.tracer if self.tracer is not None and i % 2 == 1 else None

    def more(self, done: int, loop_start: float, least: int | None = None) -> bool:
        """Whether to start another operation: until ``seconds`` have
        passed, and at least ``least`` times (by default ``MIN_OPS``,
        plus the untraced operation ``overhead_s`` leaves out)."""
        if least is None:
            least = MIN_OPS + (self.tracer is not None)
        return done < least or time.perf_counter() - loop_start < self.seconds

    def record(self, tracer, clock: "_Clock") -> None:
        if tracer is not None:
            self.traced_s.append(clock.wall_s)
        else:
            self.untraced.append(clock)

    def overhead_s(self) -> float:
        """Median traced minus median untraced operation time. The
        first untraced operation is left out: it runs before any traced
        one and is still slowed by the JVM's warm-up."""
        untraced = [c.wall_s for c in self.untraced[1:]]
        if not self.traced_s or not untraced:
            return 0.0
        return stats.median(self.traced_s) - stats.median(untraced)

    def throughput(self, rows: int) -> dict:
        """Rows per second of the best untraced operation of the run:
        best-of-N damps the CPU-steal spikes of shared hosts."""
        best = max((rows / c.wall_s for c in self.untraced), default=0.0)
        return {"docs_per_s": (best, "docs/s")}


class _Clock:
    """Wall seconds of one operation."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self.wall_s = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def stop(self) -> None:
        self.wall_s = self.elapsed()


@contextmanager
def _clock():
    clock = _Clock()
    yield clock
    clock.stop()


@contextmanager
def _patched(module, name: str, wrapper):
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def _uncached(spark) -> None:
    """Drop every relation Spark has cached. The program persists
    intermediate tables (the curated stage, MinHash signatures, the SRP
    signature table) and never unpersists them, so an operation on an
    input an earlier one read would be served from the cache; called
    before each batch operation, outside the timed region, it makes
    every operation do the full work of a first call."""
    spark.catalog.clearCache()


def _warmup_rows(rows: int) -> int:
    return max(1, round(rows * WARMUP_SHARE))


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext({})


def _read(path: str, columns=None):
    return pq.read_table(path, columns=columns).to_pandas()


def _rows(path: str) -> int:
    """Rows of a written parquet directory, from its footers."""
    return pq.read_table(path, columns=[]).num_rows


# ------------------------------------------------------------ jobs_dedup

_STAGE_SPANS = {"processed": "preprocess", "embeddings": "embed", "similar_pairs": "search"}


def _traced_cached_stage(tracer, plans: dict):
    """Wrap ``sources.io.cached_stage``: one span per stage path, with
    the ``compute()`` call timed apart as the span's ``plan_s``."""

    def wrap(original):
        def cached_stage(spark, path, compute, fmt="parquet"):
            name = _STAGE_SPANS[os.path.basename(path)]
            with tracer.span(name) as rec:
                def timed_compute():
                    t0 = time.perf_counter()
                    df = compute()
                    rec["plan_s"] = time.perf_counter() - t0
                    plans[name] = df
                    return df

                out = original(spark, path, timed_compute, fmt)
            rec["rows_out"] = _rows(path)
            return out

        return cached_stage

    return wrap


def jobs_dedup(run: Run, seed: int) -> dict:
    """``main.run_pipeline`` with the default ``EngineConfig`` on a
    raw job-posts table, each operation into a fresh output directory."""
    from job_post_similarity_spark import main
    from job_post_similarity_spark.config import EngineConfig
    from job_post_similarity_spark.sources import io

    raw_path = gen.jobs_raw(seed, JOBS_POSTS, run.path("jobs_raw.parquet"))
    warm_path = gen.jobs_raw(seed, _warmup_rows(JOBS_POSTS), run.path("jobs_warm.parquet"))
    cfg = EngineConfig()
    spark = run.spark
    plans: dict = {}

    def pipeline(src: str, out: str, tracer) -> float:
        ctx = (_patched(io, "cached_stage", _traced_cached_stage(tracer, plans))
               if tracer is not None else nullcontext())
        _uncached(spark)
        with ctx, _clock() as clock:
            main.run_pipeline(spark, spark.read.parquet(src), out, cfg)
        return clock

    run.attempt(pipeline, warm_path, run.path("jobs-warm"), None)
    truth = None
    recalls = []
    loop_start = time.perf_counter()
    i = 0
    while run.more(i, loop_start):
        out = run.path(f"jobs-{i}")
        tracer = run.traced(i)
        clock = run.attempt(pipeline, raw_path, out, tracer)
        i += 1
        if clock is None:
            continue
        run.record(tracer, clock)
        pairs = _read(os.path.join(out, "similar_pairs"))
        emb = _read(os.path.join(out, "embeddings"))
        ids = emb["lid"].to_numpy()
        mat = np.stack(emb["embedding"].to_numpy())
        processed = set(_read(os.path.join(out, "processed"), ["lid"])["lid"])
        run.fail(checks.check_pairs(
            pairs, processed, dict(zip(ids, mat)), cfg.similarity_threshold))
        if truth is None:
            truth = checks.exact_pairs(ids, mat, cfg.similarity_threshold)
        recalls.append(checks.pair_recall(pairs, truth))
    result = {**run.throughput(JOBS_POSTS),
              "recall": (stats.median(recalls) if recalls else 0.0, "ratio")}
    if "embed" in plans:
        plan = plans["embed"]._jdf.queryExecution().executedPlan().toString()
        result["embed_plan_arrow_udf"] = (float("ArrowEvalPython" in plan), "bool")
    return result


# ------------------------------------------------------- corpus_curation


def _checkpointing(tracer, name: str, work: str, counter: list):
    """Wrap a ``dedup`` function: span around the call, output
    checkpointed to parquet (``cached_stage`` semantics)."""

    def wrap(original):
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                t0 = time.perf_counter()
                df = original(*args, **kwargs)
                rec["plan_s"] = time.perf_counter() - t0
                counter[0] += 1
                path = os.path.join(work, f"ckpt-{name}-{counter[0]}")
                df.write.mode("overwrite").parquet(path)
            rec["rows_out"] = _rows(path)
            return df.sparkSession.read.parquet(path)

        return traced

    return wrap


def corpus_curation(run: Run, seed: int) -> dict:
    """``prepare_pretraining_corpus(near_dup_tier="xxh")`` written to
    parquet, each operation into a fresh output directory."""
    from job_post_similarity_spark.operators import dedup
    from job_post_similarity_spark.plans import pipeline

    docs_path, planted = gen.corpus_docs(seed, CURATION_DOCS, run.path("docs.parquet"))
    warm_path, _ = gen.corpus_docs(
        seed, _warmup_rows(CURATION_DOCS), run.path("docs_warm.parquet"))
    spark = run.spark
    counter = [0]

    def curate(src: str, dst: str, tracer) -> float:
        _uncached(spark)
        with _span(tracer, "curate_self") as rec, ExitStack() as patches:
            if tracer is not None:
                for fn, span in (("minhash_near_dup_pairs", "minhash"),
                                 ("ngram_jaccard_ppm_on_pairs", "verify"),
                                 ("connected_components", "components")):
                    patches.enter_context(_patched(
                        dedup, fn, _checkpointing(tracer, span, run.work, counter)))
            with _clock() as clock:
                out = pipeline.prepare_pretraining_corpus(
                    spark.read.parquet(src), near_dup_tier="xxh")
                if tracer is not None:
                    rec["plan_s"] = clock.elapsed() - rec["child_s"]
                out.write.mode("overwrite").parquet(dst)
        if tracer is not None:
            rec["rows_out"] = _rows(dst)
        return clock

    run.attempt(curate, warm_path, run.path("curated-warm"), None)
    funnel = {r["stage"]: r["n_rows"] for r in
              pipeline.curation_funnel(spark.read.parquet(docs_path)).collect()}
    recalls = []
    loop_start = time.perf_counter()
    i = 0
    while run.more(i, loop_start):
        dst = run.path(f"curated-{i}")
        tracer = run.traced(i)
        clock = run.attempt(curate, docs_path, dst, tracer)
        i += 1
        if clock is None:
            continue
        run.record(tracer, clock)
        out = _read(dst)
        run.fail(checks.check_curation(out, funnel["20_deduped"]))
        recalls.append(checks.group_recall(out, planted))
        straddling = checks.straddling_groups(out, planted)
    result = {**run.throughput(CURATION_DOCS),
              "recall": (stats.median(recalls) if recalls else 0.0, "ratio")}
    if recalls:
        result["groups_straddling"] = (straddling, "count")
    return result


# ----------------------------------------------------------- index_serve


def index_serve(run: Run, seed: int) -> dict:
    """One ``VectorSearch("HNSW32")`` built once over clustered unit
    vectors, then one client's closed loop of whole cycles: fixed-size
    query batches, then a small ``add()`` and the next batch (writes
    beside reads), until ``seconds`` have passed and at least one cycle
    ran. Each batch is drained to the client. The index's own cached
    tables are its serving state, so the cache is left alone here.

    A traced run traces the build, every second search batch (the
    overhead compares them with the untraced ones) and every append."""
    from job_post_similarity_spark.index_api import VectorSearch

    def vectors(n: int, first_id: int):
        return gen.clustered_vectors(seed, n, SERVE_DIM, SERVE_CLUSTERS, 0.6, first_id)

    def files(ids, mat, rows: int, count: int, name: str) -> list[str]:
        return [gen.vectors_file(ids[j * rows:(j + 1) * rows], mat[j * rows:(j + 1) * rows],
                                 run.path(f"{name}/{j:04d}.parquet"))
                for j in range(count)]

    corpus_ids, corpus = vectors(SERVE_CORPUS, 0)
    query_ids, queries = vectors(SERVE_MAX_BATCHES * SERVE_BATCH, 10**9)
    append_ids, appends = vectors(SERVE_MAX_APPENDS * SERVE_APPEND_ROWS, 10**8)
    corpus_path = gen.vectors_file(corpus_ids, corpus, run.path("corpus.parquet"))
    batch_paths = files(query_ids, queries, SERVE_BATCH, SERVE_MAX_BATCHES, "queries")
    append_paths = files(append_ids, appends, SERVE_APPEND_ROWS, SERVE_MAX_APPENDS, "appends")

    spark = run.spark
    vs = VectorSearch(SERVE_DIM, "HNSW32", spark=spark)
    vs.exact_shortcut_rows = SERVE_APPROX_FROM_ROWS
    vs.hierarchy_min_rows = SERVE_APPROX_FROM_ROWS
    current = {"ids": corpus_ids, "mat": corpus}
    recalls: list[float] = []

    def add(path: str, tracer) -> None:
        with _span(tracer, "index_add") as rec:
            vs.add(spark.read.parquet(path))
        if tracer is not None:
            rec["plan_s"] = rec["wall_s"]  # add() is all driver-side

    def search(b: int, rec):
        t0 = time.perf_counter()
        df = vs.search(spark.read.parquet(batch_paths[b]), k=SERVE_K)
        rec["plan_s"] = time.perf_counter() - t0
        res = df.toPandas()
        rec["rows_out"] = len(res)
        return res

    def build(tracer):
        with _span(tracer, "index_build") as rec, _clock() as clock:
            add(corpus_path, tracer)
            res = search(0, rec)
        return clock, res

    def one_search(b: int, tracer):
        with _span(tracer, "index_search") as rec, _clock() as clock:
            res = search(b, rec)
        return clock, res

    def insert(b: int, a: int, tracer):
        with _span(tracer, "index_insert") as rec, _clock() as clock:
            add(append_paths[a], tracer)
            res = search(b, rec)
        rows = slice(a * SERVE_APPEND_ROWS, (a + 1) * SERVE_APPEND_ROWS)
        current["ids"] = np.concatenate([current["ids"], append_ids[rows]])
        current["mat"] = np.vstack([current["mat"], appends[rows]])
        return clock, res

    def check(b: int, res) -> None:
        rows = slice(b * SERVE_BATCH, (b + 1) * SERVE_BATCH)
        run.fail(checks.check_search(res, query_ids[rows], set(current["ids"]), SERVE_K))
        truth = checks.exact_topk(queries[rows], current["mat"], current["ids"], SERVE_K)
        recalls.append(checks.search_recall(res, query_ids[rows], truth))

    built = run.attempt(build, run.tracer)
    if built is None:
        return {}
    build_clock, res = built
    check(0, res)
    searches: list = []
    inserts: list = []
    b = 1
    loop_start = time.perf_counter()
    while run.more(len(inserts), loop_start, least=1) and b < SERVE_MAX_BATCHES:
        for _ in range(SERVE_SEARCHES_PER_APPEND):
            tracer = run.traced(len(searches))
            done = run.attempt(one_search, b, tracer)
            if done is not None:
                searches.append(done[0])
                run.record(tracer, done[0])
                check(b, done[1])
            b += 1
        done = run.attempt(insert, b, len(inserts), run.tracer)
        if done is not None:
            inserts.append(done[0])
            check(b, done[1])
        b += 1
    loop = searches + inserts
    answered = len(loop) * SERVE_BATCH
    search_s = [c.wall_s for c in searches]
    result = {
        "docs_per_s": (answered / sum(c.wall_s for c in loop) if loop else 0.0, "docs/s"),
        "recall": (float(np.mean(recalls)), "ratio"),
        "index_build_s": (build_clock.wall_s, "s"),
        "search_p50_s": (stats.median(search_s) if search_s else 0.0, "s"),
        "insert_search_s": (stats.median([c.wall_s for c in inserts]) if inserts else 0.0, "s"),
        "search_samples": (len(search_s), "count"),
    }
    tail = stats.tail(search_s)
    if tail is not None:
        result["search_tail_s"] = (tail[0], "s")
        result["search_tail_percentile"] = (tail[1], "%")
    return result


WORKLOADS = {
    "jobs_dedup": jobs_dedup,
    "corpus_curation": corpus_curation,
    "index_serve": index_serve,
}
