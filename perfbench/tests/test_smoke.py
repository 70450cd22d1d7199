"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/tests -q

Runs every workload at a few hundred documents in one traced session and
asserts that each end-to-end and per-layer metric is emitted, that every
correctness check passes on the real outputs and fails when its expected
result is deliberately wrong, and that the in-run reference agrees with
``operators.postings.bm25_topk_naive``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, run, spans, workloads  # noqa: E402

TINY = {
    "build_docs": 300, "search_docs": 300, "pool": 16, "sample_docs": 60,
    "log_objects": 2, "log_lines": 40, "bad_every": 7,
    "warm_builds": 1, "min_builds": 1, "min_imports": 1,
}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    events = os.path.join(work, "events")
    spark = run.start_session(work, events)
    yield spark, work, events
    run.stop_session(spark)


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "SIZES", {**workloads.SIZES, **TINY})


def _run(session, name, seed=3):
    spark, work, events = session
    d = os.path.join(work, f"{name}-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    r = workloads.Run(spark, seed, 0.3, d, t_start=0.0, tracer=spans.Tracer(),
                      event_dir=events)
    return workloads.WORKLOADS[name](r)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_metric_emitted_and_correct(session, name):
    res = _run(session, name)
    assert res.attempted >= 1 and res.failed == 0
    assert set(res.e2e) == set(workloads.E2E)
    assert all(math.isfinite(v) and v > 0 for v in res.e2e.values()), res.e2e
    assert set(res.layers) == set(workloads.LAYERS)
    assert all(math.isfinite(v) for v in res.layers.values()), res.layers


def _perturbed(answer):
    return [(d, s + 1e-3) for d, s in answer] or [(0, 1.0)]


def test_wrong_reference_answer_fails(session, monkeypatch):
    class Wrong(check.Reference):
        def topk(self, req):
            return _perturbed(super().topk(req))

    monkeypatch.setattr(workloads, "Reference", Wrong)
    assert _run(session, "search").failed > 0


def test_wrong_index_totals_fail(session, monkeypatch):
    real, calls = workloads.manifest_totals, []

    def wrong_first(out_dir):  # the warm-up build sets the expectation
        calls.append(out_dir)
        p, b, t = real(out_dir)
        return (p + 1, b, t) if len(calls) == 1 else (p, b, t)

    monkeypatch.setattr(workloads, "manifest_totals", wrong_first)
    assert _run(session, "build").failed > 0


def test_wrong_malformed_count_fails(session, monkeypatch):
    real = gen.write_log_objects

    def wrong(*a, **kw):
        made = real(*a, **kw)
        return {**made, "malformed": made["malformed"] + 1}

    monkeypatch.setattr(gen, "write_log_objects", wrong)
    assert _run(session, "s3imports").failed > 0


def test_same_ranking_rejects_wrong_answers():
    want = [(3, 2.5), (1, 2.0), (7, 1.0)]
    assert check.same_ranking(want, list(want))
    assert check.same_ranking([(3, 2.5 + 5e-7), (1, 2.0), (7, 1.0)], want)
    assert not check.same_ranking([(1, 2.0), (3, 2.5), (7, 1.0)], want)
    assert not check.same_ranking([(3, 2.5 + 2e-6), (1, 2.0), (7, 1.0)], want)
    assert not check.same_ranking(want[:2], want)


def test_quiet_metrics_leave_out_the_noisier_half():
    res = workloads.Result()
    samples = [(0.0, 1.0, [("a", 0.010)] * 10), (0.1, 1.0, [("a", 0.012)] * 10),
               (2.0, 1.0, [("a", 0.050)] * 10)]
    assert len(workloads.quiet_metrics(res, samples, 1)) == 20
    assert res.e2e["op_p50_ms"] == pytest.approx(11.0)
    assert res.e2e["work_per_s"] == pytest.approx(1 / 0.011)
    # a host that steals nothing: every sample counts
    two = [(0.0, 1.0, [(None, 0.01)]), (0.0, 1.0, [(None, 0.05)])]
    assert len(workloads.quiet_metrics(res, two, 1)) == 2


def test_work_rate_keeps_the_mix_but_not_single_stalls():
    res = workloads.Result()
    ops = [("a", 0.010)] * 9 + [("a", 1.0)] + [("b", 0.030)] * 10
    workloads.quiet_metrics(res, [(0.0, 1.0, ops)], 1)
    assert res.e2e["work_per_s"] == pytest.approx(20 / (10 * 0.010 + 10 * 0.030))


def test_reference_matches_bm25_topk_naive(session):
    """The in-run oracle reference answers every request shape exactly as
    the naive Spark path does."""
    from pyspark.sql import functions as F

    from s3logsbeat_spark.operators import postings as P

    spark = session[0]
    docs = gen.corpus(spark, 300, 5)
    rows = workloads.collect_docs(docs)
    pool = gen.query_pool(rows[:60], 5, 16)
    assert {r.shape for r in pool} == set(gen.SHAPES)
    ref = check.Reference(rows)
    post = P.build_postings(docs).cache()
    n = docs.count()
    _, avgdl = P.corpus_stats(post, n)
    for req in pool:
        if req.shape == "bool":
            scored = P.bm25_scores(post, list(req.must + req.terms), n, avgdl)
            has_must = (post.filter(F.col("term").isin(list(req.must)))
                        .groupBy("doc_id").count()
                        .filter(F.col("count") == len(req.must)).select("doc_id"))
            has_not = post.filter(F.col("term").isin(list(req.must_not))).select("doc_id")
            frame = P.topk(scored.join(has_must, "doc_id", "left_semi")
                           .join(has_not, "doc_id", "left_anti"), gen.K)
        elif req.msm is None and req.lang is None:
            frame = P.bm25_topk_naive(docs, list(req.terms), gen.K, postings=post,
                                      n_docs=n, avgdl=avgdl, require_all=req.mode == "and")
        else:
            scored = P.bm25_scores(post, list(req.terms), n, avgdl,
                                   require_all=req.mode == "and", min_match=req.msm)
            if req.lang is not None:
                scored = scored.join(docs.filter(F.col("lang") == req.lang)
                                     .select("doc_id"), "doc_id", "left_semi")
            frame = P.topk(scored, gen.K)
        naive = [(r["doc_id"], r["score"]) for r in frame.collect()]
        assert check.same_ranking(ref.topk(req), naive), req


def test_without_the_program_exits_nonzero_silently(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.LAYERS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
