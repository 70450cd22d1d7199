"""Correctness reference for the query workloads, run outside every timed
loop.

The reference is the program's pure-Python BM25 oracle
(``oracle.bm25_oracle.BM25Oracle``): it tokenizes every document itself
with ``tokenize_text`` and scores with the same formula and tie-break as
``operators.postings.bm25_topk_naive``. ``bm25_topk_naive`` costs a few
Spark jobs per request, too slow to check every request of a run; the
smoke test asserts that the two references agree on every request shape.
"""

from __future__ import annotations

from s3logsbeat_spark.oracle.bm25_oracle import BM25Oracle

from .gen import K

#: absolute score tolerance between the engine and the reference
SCORE_TOL = 1e-6


def same_ranking(got, want) -> bool:
    """Same doc ids in the same order, scores within ``SCORE_TOL``."""
    return len(got) == len(want) and all(
        int(g[0]) == int(w[0]) and abs(float(g[1]) - float(w[1])) <= SCORE_TOL
        for g, w in zip(got, want)
    )


class Reference:
    """Top-k answers over ``docs`` (dicts with doc_id, content, lang)."""

    def __init__(self, docs: list[dict]):
        self.oracle = BM25Oracle(docs)
        self.lang_of = {d["doc_id"]: d["lang"] for d in docs}

    def topk(self, req) -> list[tuple[int, float]]:
        allowed = None
        if req.lang is not None:
            allowed = {d for d, lang in self.lang_of.items() if lang == req.lang}
        terms = list(req.terms)
        if req.shape == "bool":
            return self.oracle.bool_topk(req.must, terms, req.must_not, K)
        if req.mode == "and":
            return self.oracle.topk_and(terms, K, allowed)
        return self.oracle.topk_msm(terms, K, req.msm or 1, allowed)
