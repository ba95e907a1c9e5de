"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The first group needs no Spark. The second starts one local session
and runs each workload on reduced inputs (about two minutes on four
cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen, run, stats, trace, workloads  # noqa: E402


# ------------------------------------------------------------ no Spark


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail([1.0] * 10) is None
    value, pct, n = stats.tail(list(range(11)))
    assert (value, n) == (0, 11) and pct == pytest.approx(100 / 11)
    value, pct, n = stats.tail([float(x) for x in range(20, 0, -1)])
    assert (value, pct, n) == (10.0, 50.0, 20)
    value, pct, n = stats.tail(list(range(100)))
    assert (value, pct, n) == (89, 90.0, 100)
    assert sum(1 for x in range(100) if x > value) == stats.TAIL_BEYOND


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_same_bytes_other_seed_other_inputs(tmp_path):
    def make(seed: int, tag: str) -> list[str]:
        d = tmp_path / tag
        jobs = gen.jobs_raw(seed, 120, str(d / "jobs.parquet"))
        docs, _ = gen.corpus_docs(seed, 120, str(d / "docs.parquet"))
        ids, mat = gen.clustered_vectors(seed, 50, 8, 4, 0.6, 0)
        vecs = gen.vectors_file(ids, mat, str(d / "vecs.parquet"))
        return [_digest(p) for p in (jobs, docs, vecs)]

    first, again, other = make(7, "a"), make(7, "b"), make(8, "c")
    assert first == again
    assert all(x != y for x, y in zip(first, other))


def test_planted_groups_are_marked_and_pass_the_gates(tmp_path):
    path, planted = gen.corpus_docs(3, 400, str(tmp_path / "docs.parquet"))
    docs = pd.read_parquet(path).set_index("doc_id")
    assert len(set(planted.values())) >= 10
    members = docs.loc[list(planted)]
    assert (members["lang"] == "en").all()
    assert (members["text"].str.split().str.len() >= 60).all()


def _pairs_fixture():
    rng = np.random.default_rng(0)
    base = rng.standard_normal((6, 16))
    emb = np.vstack([base, base[:2] + 0.01 * rng.standard_normal((2, 16))])
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ids = np.array([f"{i:02x}" for i in range(len(emb))])
    truth = checks.exact_pairs(ids, emb, 0.9)
    by_id = dict(zip(ids, emb))
    pairs = pd.DataFrame(
        [(a, b, round(float(by_id[a] @ by_id[b]), 4)) for a, b in sorted(truth)],
        columns=["id1", "id2", "similarity"])
    return pairs, set(ids), by_id


def test_valid_pairs_pass_and_corrupted_pairs_fail_the_operation():
    pairs, ids, by_id = _pairs_fixture()
    assert len(pairs) == 2
    assert checks.check_pairs(pairs, ids, by_id, 0.9) == []
    low = pd.concat([pairs, pd.DataFrame(
        [("00", "03", round(float(by_id["00"] @ by_id["03"]), 4))], columns=pairs.columns)])
    swapped = pairs.assign(id1=pairs["id2"], id2=pairs["id1"])
    wrong_sim = pairs.assign(similarity=pairs["similarity"] - 0.001)
    for bad in (low, swapped, pd.concat([pairs, pairs]), wrong_sim):
        r = workloads.Run(spark=None, work="", seconds=0)
        r.attempt(lambda: None)
        r.fail(checks.check_pairs(bad, ids, by_id, 0.9))
        assert (r.attempted, r.failed) == (1, 1)


def test_curation_check_catches_double_survivors_and_counts_straddles():
    planted = {1: 1, 2: 1, 5: 5, 6: 5}
    good = pd.DataFrame({"doc_id": [1, 3, 5], "component": [1, 3, 5],
                         "split": ["train", "eval", "train"]})
    assert checks.check_curation(good, 3) == []
    assert checks.group_recall(good, planted) == 1.0
    assert checks.straddling_groups(good, planted) == 0
    missed = pd.DataFrame({"doc_id": [1, 2, 5], "component": [1, 2, 5],
                           "split": ["train", "eval", "train"]})
    assert checks.group_recall(missed, planted) == 0.5
    assert checks.straddling_groups(missed, planted) == 1
    assert checks.check_curation(good.assign(component=[1, 1, 5]), 3)
    assert checks.check_curation(good.assign(split=["train", "test", "eval"]), 3)
    assert checks.check_curation(good, 2)


def test_search_check_needs_k_neighbours_from_the_corpus():
    res = pd.DataFrame({"query_id": [9, 9, 8, 8], "neighbor_id": [1, 2, 2, 3]})
    assert checks.check_search(res, np.array([8, 9]), {1, 2, 3}, 2) == []
    assert checks.check_search(res, np.array([8, 9, 7]), {1, 2, 3}, 2)
    assert checks.check_search(res, np.array([8, 9]), {1, 2}, 2)
    assert checks.search_recall(res, np.array([8, 9]), [{2, 3}, {1, 4}]) == 0.75


def test_per_layer_names_fit_the_contract():
    names = [n for n, _ in trace.per_layer_names()]
    assert len(names) == len(set(names)) == 11 * 11 + 4
    assert {"verify.yield", "host.steal_share", "host.loadavg", "trace.overhead_s"} <= set(names)


def test_declared_metrics_are_the_ones_a_run_reports():
    # every per-layer name BENCHMARK.json declares is one the traced run
    # measures, with the same unit, and every workload there exists
    declared = run.result_metrics(1)
    assert declared.items() <= dict(trace.per_layer_names()).items()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


# --------------------------------------------------------------- Spark

WORKLOAD_SPANS = {
    "jobs_dedup": ("preprocess", "embed", "search"),
    "corpus_curation": ("minhash", "verify", "components", "curate_self"),
    "index_serve": ("index_add", "index_build", "index_search", "index_insert"),
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    saved = dict(os.environ)
    env = run.pinned_env(work)
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    session, _ = run.start_session()
    yield session
    run.stop_session(session)
    os.environ.clear()
    os.environ.update(saved)


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(workloads, "JOBS_POSTS", 300)
    monkeypatch.setattr(workloads, "CURATION_DOCS", 150)
    monkeypatch.setattr(workloads, "SERVE_CORPUS", 1200)
    monkeypatch.setattr(workloads, "SERVE_SEARCHES_PER_APPEND", 3)
    monkeypatch.setattr(workloads, "SERVE_MAX_APPENDS", 1)
    monkeypatch.setattr(workloads, "SERVE_MAX_BATCHES", 5)


@pytest.mark.parametrize("name", sorted(WORKLOAD_SPANS))
def test_traced_run_emits_every_layer_metric_of_its_workload(spark, small, tmp_path, name):
    tracer = trace.Tracer(spark)
    r = workloads.Run(spark=spark, work=str(tmp_path), seconds=0, tracer=tracer)
    result = workloads.WORKLOADS[name](r, seed=5)
    assert r.failed == 0, r.errors
    assert len(r.untraced) >= 2 and r.traced_s
    summary = tracer.summary()
    assert set(summary) == {n for n, _ in trace.per_layer_names()} - {
        "host.steal_share", "host.loadavg", "trace.overhead_s"}
    for span in WORKLOAD_SPANS[name]:
        assert summary[f"{span}.wall_s"] > 0, span
        assert summary[f"{span}.jobs"] >= 1, span
    others = set(trace.SPANS) - set(WORKLOAD_SPANS[name])
    assert all(summary[f"{s}.wall_s"] == 0 for s in others)
    assert result["recall"][0] > 0
    if name == "corpus_curation":
        assert 0 < summary["verify.yield"] <= 1
    else:
        assert summary["verify.yield"] == 0
    if name == "jobs_dedup":
        # the embedding UDF that a count() drain let Catalyst prune
        assert result["embed_plan_arrow_udf"][0] == 1.0


def test_corrupted_pipeline_output_counts_as_failed(spark, small, tmp_path, monkeypatch):
    from job_post_similarity_spark import main

    real = main.run_pipeline

    def corrupting(spark_, raw, out_dir, cfg=None):
        pairs = real(spark_, raw, out_dir, cfg)
        bad = pairs.limit(1).selectExpr("id1", "id2", "0.5D AS similarity")
        bad.write.mode("append").parquet(os.path.join(out_dir, "similar_pairs"))
        return pairs

    monkeypatch.setattr(main, "run_pipeline", corrupting)
    r = workloads.Run(spark=spark, work=str(tmp_path), seconds=0)
    workloads.jobs_dedup(r, seed=6)
    assert r.attempted == 1 + workloads.MIN_OPS  # warm-up and measured operations
    assert r.failed == workloads.MIN_OPS
    assert any("below threshold" in e for e in r.errors)
