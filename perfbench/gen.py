"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and sizes): the same seed
gives byte-identical inputs, and the program under test only ever sees the
generated inputs, never the seed.
"""

from __future__ import annotations

import gzip
import os
import random
import re
from collections import Counter
from dataclasses import dataclass

from s3logsbeat_spark.functions.tokenizer import tokenize_text
from s3logsbeat_spark.testing.corpus import corpus_df

K = 10

# ---------------------------------------------------------------- corpus --


def corpus(spark, n_docs: int, seed: int):
    """The seeded code table, materialized once in memory so every timed
    operation reads the same already-generated rows."""
    docs = corpus_df(spark, n_docs, seed=seed).cache()
    docs.count()
    return docs


# ------------------------------------------------------------ query pool --


@dataclass(frozen=True)
class Request:
    """One top-k request of the query pool. ``terms`` are the scored terms
    (the ``should`` clauses of a ``bool`` request, which adds one ``must``
    and one ``must_not`` term)."""

    rid: int
    shape: str              # one of SHAPES
    terms: tuple
    mode: str = "or"        # "or" | "and"
    msm: int | None = None  # minimum_should_match
    lang: str | None = None  # lang doc_filter
    must: tuple = ()
    must_not: tuple = ()

    @property
    def via_dsl(self) -> bool:
        """Sent as a JSON body through ``dsl.execute_search``."""
        return self.shape in DSL_SHAPES

    def body(self) -> dict:
        """The ES ``_search`` body of a DSL request: a ``match`` body for
        ``msm``, a ``bool`` body of ``term`` clauses for ``bool``."""
        if self.shape == "bool":
            def clauses(ts):
                return [{"term": {"content": t}} for t in ts]

            query = {"bool": {"must": clauses(self.must), "should": clauses(self.terms),
                              "must_not": clauses(self.must_not)}}
        else:
            query = {"match": {"content": {
                "query": " ".join(self.terms), "operator": self.mode,
                "minimum_should_match": self.msm}}}
        return {"query": query, "size": K}


#: request shapes, sent in equal shares: the repository has no query log
#: to weight them by, so each shape -- and the reader path or kernel it
#: exercises -- gets the same share of the stream
SHAPES = ("hot", "rare", "absent", "or", "and", "msm", "lang", "bool")

#: shapes sent as JSON bodies through the DSL: ``bool`` is the DSL's own
#: query shape (it runs ``score_bool``), ``msm`` a ``match`` body with
#: ``minimum_should_match``; two of eight shapes make a quarter of the
#: requests DSL requests
DSL_SHAPES = ("msm", "bool")

#: terms a ``match`` body's analyzer maps to themselves (no case or
#: snake/camel split, no lang tag), so the body scores exactly these terms
_PLAIN = re.compile(r"[a-z][a-z0-9]*")


def df_strata(sample: list[dict]) -> dict[str, list[str]]:
    """Terms of a document sample split by sample document frequency:
    hot (in at least half the docs), mid, and rare (in one doc)."""
    df: Counter = Counter()
    for d in sample:
        df.update(t for t, _ in tokenize_text(d["content"], d["lang"]))
    n = len(sample)
    hot = sorted(t for t, c in df.items() if c >= n / 2)
    mid = sorted(t for t, c in df.items() if 2 <= c < n / 2)
    rare = sorted(t for t, c in df.items() if c == 1)
    return {"hot": hot, "mid": mid, "rare": rare}


def query_pool(sample: list[dict], seed: int, size: int) -> list[Request]:
    """A pool of ``size`` distinct requests, an equal number per shape,
    stratified by df: built from the terms ``tokenize_text`` emits for a
    seeded document sample."""
    rng = random.Random(f"pool:{seed}")
    st = df_strata(sample)
    hot, mid, rare = st["hot"], st["mid"] or st["hot"], st["rare"] or st["mid"]
    shapes = [SHAPES[i % len(SHAPES)] for i in range(size)]
    rng.shuffle(shapes)
    pool: list[Request] = []
    seen: set = set()
    langs = sorted({d["lang"] for d in sample})
    for shape in shapes:
        for _attempt in range(20):
            r = _request(rng, len(pool), shape, hot, mid, rare, langs)
            key = (r.terms, r.mode, r.msm, r.lang, r.must, r.must_not)
            if key not in seen:
                seen.add(key)
                pool.append(r)
                break
    return pool


def _request(rng, rid, shape, hot, mid, rare, langs) -> Request:
    def pick(src, n):
        return tuple(sorted(rng.sample(src, min(n, len(src)))))

    def plain(src):
        return [t for t in src if _PLAIN.fullmatch(t)] or src

    if shape == "hot":
        return Request(rid, shape, pick(hot, 1))
    if shape == "rare":
        return Request(rid, shape, pick(rare, 1))
    if shape == "absent":
        word = "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(12))
        return Request(rid, shape, (f"zq{word}",))
    if shape == "or":
        terms = {rng.choice(hot)}
        for _ in range(rng.randint(1, 3)):
            terms.add(rng.choice(rng.choice((mid, rare))))
        return Request(rid, shape, tuple(sorted(terms)))
    if shape == "and":
        return Request(rid, shape, tuple(sorted({rng.choice(mid), rng.choice(hot)})),
                       mode="and")
    if shape == "msm":
        terms = set(pick(plain(mid), 2) + pick(plain(hot), 1))
        return Request(rid, shape, tuple(sorted(terms)), msm=2)
    if shape == "lang":  # lang-filtered OR
        return Request(rid, shape, tuple(sorted({rng.choice(mid), rng.choice(hot)})),
                       lang=rng.choice(langs))
    # bool: one hot must term, 1-2 mid should terms, one mid must_not term
    must = rng.choice(hot)
    should = set(pick(mid, 3)[: rng.randint(1, 2)])
    must_not = rng.choice([t for t in mid if t not in should] or rare)
    return Request(rid, shape, tuple(sorted(should)), must=(must,), must_not=(must_not,))


def zipf_stream(pool: list[Request], seed: int):
    """Endless stream of requests. Every shape gets the same share of the
    stream, so every seed sends the same mix of request kinds; within a
    shape, requests repeat with Zipf weights (1/rank) over a seeded
    popularity order, so the popular ones recur and the reader's per-term
    df cache is used."""
    rng = random.Random(f"stream:{seed}")
    by_shape: dict[str, list[Request]] = {}
    for r in pool:
        by_shape.setdefault(r.shape, []).append(r)
    shapes = [sh for sh in SHAPES if sh in by_shape]
    popular = {}
    for sh in shapes:
        reqs = by_shape[sh]
        rng.shuffle(reqs)
        popular[sh] = (reqs, [1.0 / (i + 1) for i in range(len(reqs))])
    while True:
        reqs, weights = popular[rng.choice(shapes)]
        yield rng.choices(reqs, weights=weights)[0]


# ----------------------------------------------------------- log objects --

_METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")
_PATHS = ("search", "api/v1/items", "static/app.js", "login", "img/logo.png", "cart")
_AGENTS = ("curl/7.46.0", "Mozilla/5.0%20(X11)", "python-requests/2.31", "Go-http-client/1.1")


def _alb_line(rng: random.Random, i: int) -> str:
    q = "%20".join(rng.choice(("a", "b", "code", "index")) for _ in range(rng.randint(1, 3)))
    return (
        f"https 2024-03-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{rng.randint(0, 59):02d}."
        f"{rng.randint(0, 999999):06d}Z app/lb-{rng.randint(1, 4)}/50dc6c495c0c9188 "
        f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}:{rng.randint(1024, 65535)} "
        f"10.0.0.{rng.randint(1, 254)}:80 {rng.random():.3f} {rng.random():.3f} {rng.random():.3f} "
        f"{rng.choice((200, 200, 200, 301, 404, 500))} 200 {rng.randint(20, 900)} {rng.randint(100, 90000)} "
        f'"{rng.choice(_METHODS)} https://www.example.com:443/{rng.choice(_PATHS)}?q={q} HTTP/1.1" '
        f'"{rng.choice(_AGENTS)}" ECDHE-RSA-AES128-GCM-SHA256 TLSv1.2 '
        "arn:aws:elasticloadbalancing:us-east-2:123456789012:targetgroup/t/73e2d6bc24d8a067 "
        f'"Root=1-58337281-{rng.getrandbits(64):016x}" "www.example.com" "-" '
        f'0 2024-03-01T00:00:00.000000Z "forward" "-" "-"'
    )


def _cf_line(rng: random.Random, i: int) -> str:
    return "\t".join((
        f"2024-03-{1 + i % 28:02d}", f"{i % 24:02d}:{i % 60:02d}:{rng.randint(0, 59):02d}",
        rng.choice(("FRA2", "IAD79", "NRT12")), str(rng.randint(100, 90000)),
        f"192.0.2.{rng.randint(1, 254)}", rng.choice(_METHODS), "d111111abcdef8.cloudfront.net",
        f"/{rng.choice(_PATHS)}", str(rng.choice((200, 200, 304, 404))), "-",
        rng.choice(_AGENTS).replace("%20", "%2520"), f"id={rng.randint(1, 9999)}", "-",
        rng.choice(("Hit", "Miss", "RefreshHit")), f"{rng.getrandbits(64):016x}EXAMPLE==",
        "d111111abcdef8.cloudfront.net", "https", str(rng.randint(50, 900)),
        f"{rng.random():.3f}",
    ))


_CF_HEADER = (
    "#Version: 1.0\n#Fields: date time x-edge-location sc-bytes c-ip cs-method cs(Host) "
    "cs-uri-stem sc-status cs(Referer) cs(User-Agent) cs-uri-query cs(Cookie) "
    "x-edge-result-type x-edge-request-id x-host-header cs-protocol cs-bytes time-taken\n"
)


def write_log_objects(root: str, seed: int, n_objects: int, lines_per_object: int,
                      bad_every: int) -> dict:
    """Write gzipped ALB and CloudFront log objects under ``root/alb`` and
    ``root/cloudfront`` (half each). Every ``bad_every``-th data line is
    malformed: alternately a line no format matches and a line whose URL
    field holds an invalid %-escape. Returns the data lines, malformed
    lines and uncompressed bytes written; CloudFront ``#`` header lines
    are not data lines."""
    rng = random.Random(f"logs:{seed}")
    lines = bad = nbytes = 0
    for o in range(n_objects):
        kind = "alb" if o % 2 == 0 else "cloudfront"
        d = os.path.join(root, kind, f"2024/03/{1 + o:02d}")
        os.makedirs(d, exist_ok=True)
        out = [_CF_HEADER] if kind == "cloudfront" else []
        for i in range(lines_per_object):
            line = _alb_line(rng, i) if kind == "alb" else _cf_line(rng, i)
            if (lines + 1) % bad_every == 0:
                bad += 1
                if bad % 2:
                    line = f"garbage {rng.getrandbits(32):08x} not a {kind} line"
                elif kind == "alb":
                    line = line.replace("?q=", "?q=%zz", 1)
                else:
                    line = line.replace("\tid=", "\tid=%zz", 1)
            out.append(line + "\n")
            lines += 1
        text = "".join(out).encode()
        nbytes += len(text)
        with gzip.open(os.path.join(d, f"obj-{o:04d}.log.gz"), "wb") as f:
            f.write(text)
    return {"lines": lines, "malformed": bad, "bytes": nbytes}


def s3imports_config(root: str) -> dict:
    """The reference-shaped job config reading both log families."""
    return {
        "inputs": [
            {"type": "s3", "buckets": [os.path.join(root, "alb")], "log_format": "alb",
             "key_regex_fields": r"/(?P<day>\d{4}/\d{2}/\d{2})/", "fields": {"src": "alb"}},
            {"type": "s3", "buckets": [os.path.join(root, "cloudfront")],
             "log_format": "cloudfront", "fields": {"src": "cloudfront"}},
        ]
    }
