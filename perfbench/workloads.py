"""The benchmark workloads.

Each workload sets up its inputs from the seed, measures for a fixed
window, checks its own outputs outside the timed calls, and returns every
end-to-end metric; a traced run also returns every per-layer metric (0 for
a layer the workload does not exercise). Why each workload exists is in
README.md.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from s3logsbeat_spark.config import parse_config, run_s3imports
from s3logsbeat_spark.functions.tokenizer import tokenize_text
from s3logsbeat_spark.operators import dsl, segments, wand
from s3logsbeat_spark.operators.segments import IndexConfig

from . import gen, spans
from .spans import percentile
from .check import Reference, same_ranking

# Input sizes, chosen so one run of every workload fits the time the whole
# benchmark may take on a 4-core box (see README.md).
SIZES = {
    "build_docs": 4000,
    "search_docs": 4000,
    "pool": 48,             # distinct requests in the query pool
    "sample_docs": 200,     # docs tokenized to stratify the pool by df
    "log_objects": 8,
    "log_lines": 250,       # data lines per log object
    "bad_every": 97,        # one malformed line in this many
    "warm_builds": 2,       # untimed builds before the timed ones
    # fewest timed operations per run where one takes seconds
    "min_builds": 3,
    "min_imports": 1,
}

N_BUCKETS = 16

#: the search window is cut into sub-windows this long, each a sample of
#: ``quiet_metrics``
SUB_WINDOW_S = 0.5

#: end-to-end metric -> unit (every workload reports each one)
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}

#: per-layer metric -> unit (a traced run reports each one; 0 where the
#: workload does not exercise the layer)
LAYERS = {
    "segments.attrs_write_s": "s",
    "segments.runs_map_s": "s",
    "segments.runs_map_cpu_s": "s",
    "segments.merge_encode_s": "s",
    "segments.segment_write_s": "s",
    "segments.ack_s": "s",
    "segments.shuffle_bytes_per_posting": "B/posting",
    "segments.spill_bytes": "B",
    "segments.jvm_gc_s": "s",
    "segments.failed_tasks": "count",
    "segments.stages_per_build": "count",
    "segments.tasks_per_build": "count",
    "tokenizer.tokens_per_s": "1/s",
    "codec.index_bytes_per_posting": "B/posting",
    "wand.query_ms_p50": "ms",
    "wand.read_self_ms_p50": "ms",
    "wand.kernel_self_ms_p50": "ms",
    "codec.decode_ms_p50": "ms",
    "codec.postings_decoded_per_query": "count",
    "wand.blocks_decoded_frac": "ratio",
    **{f"wand.kernel_count.{k}": "count" for k in spans.KERNELS},
    "dsl.translate_ms_p50": "ms",
    "plans.parse_write_s": "s",
    "plans.parse_cpu_s": "s",
    "plans.error_count_s": "s",
    "plans.driver_s": "s",
    "plans.error_lines": "count",
    "plans.failed_tasks": "count",
    "trace.query_p50_ms": "ms",
    "trace.query_p95_ms": "ms",
    "trace.build_docs_per_s": "1/s",
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=lambda: dict.fromkeys(LAYERS, 0.0))


@dataclass
class Run:
    """What a workload gets: the session, its seed and window, a private
    work directory, the process start time (set-up is measured from it)
    and, for a traced run, the tracer and the event-log directory."""

    spark: object
    seed: int
    seconds: float
    work: str
    t_start: float
    tracer: spans.Tracer | None = None
    event_dir: str | None = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_tracing(self) -> None:
        """Record spans from here on (a traced run only)."""
        if self.tracer is not None:
            spans.patch_query_path(self.tracer)

    def stop_tracing(self) -> None:
        if self.tracer is not None:
            self.tracer.close()

    def note(self, what: str) -> None:
        """Progress line on stderr (stdout carries only the result)."""
        print(f"[perfbench +{time.perf_counter() - self.t_start:6.1f}s] {what}",
              file=sys.stderr, flush=True)

    def group(self, name: str | None) -> None:
        """Tag the Spark jobs that follow (read back from the event log)."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)


# ---------------------------------------------------------------- helpers --


def data_files(path: str):
    """The data files under ``path`` (not Spark's ``.crc`` and ``_SUCCESS``
    side files)."""
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.startswith((".", "_")):
                yield os.path.join(root, fn)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in data_files(path))


def content_bytes(docs) -> int:
    return int(docs.agg(F.sum(F.octet_length("content"))).first()[0] or 0)


def collect_docs(docs) -> list[dict]:
    cols = ("doc_id", "repo", "path", "lang", "content")
    return [r.asDict() for r in docs.select(*cols).collect()]


def text_bytes(rows) -> int:
    return sum(len(r["content"].encode()) for r in rows)


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests, summed over
    this VM's CPUs (``steal`` in /proc/stat; 0 where it is not reported)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def quiet_metrics(res: Result, samples: list[tuple], work_per_op: float) -> list[float]:
    """``op_p50_ms`` and ``work_per_s`` from the run's quieter half. A
    sample is ``(steal_per_s, wall_s, ops)``: one operation, or one
    sub-window of fast operations, each op a ``(key, seconds)`` pair. On a
    shared VM, host CPU steal can double request latency for seconds at a
    time (README.md), so only the samples taken while the host stole no
    more than in the run's median sample count; with no steal, all of
    them. ``work_per_s`` counts every op at the median time of the ops
    with its key (the same request, or the same build), so it keeps the
    run's mix of operations but not the stalls of single ones. Returns the
    latencies counted."""
    cut = percentile([st for st, _, _ in samples], 0.5)
    ops = [op for st, _, xs in samples if st <= cut for op in xs]
    res.e2e["op_p50_ms"] = percentile([t for _, t in ops], 0.5) * 1e3
    by_key: dict = {}
    for key, t in ops:
        by_key.setdefault(key, []).append(t)
    typical_s = sum(len(ts) * percentile(ts, 0.5) for ts in by_key.values())
    res.e2e["work_per_s"] = work_per_op * len(ops) / typical_s
    return [t for _, t in ops]


def steal_share(samples: list[tuple]) -> float:
    """Mean share of the VM's CPUs the host stole over ``samples``."""
    wall = sum(w for _, w, _ in samples)
    return sum(st * w for st, w, _ in samples) / wall / os.cpu_count()


def timed(samples: list[tuple], op):
    """Run ``op()``, append its ``(steal_per_s, wall_s, [(None, wall_s)])``
    sample and return its result."""
    s0, t0 = host_steal_s(), time.perf_counter()
    out = op()
    dt = time.perf_counter() - t0
    samples.append(((host_steal_s() - s0) / dt, dt, [(None, dt)]))
    return out


def manifest_totals(out_dir: str) -> tuple[int, int, int]:
    rows = segments.read_manifest(out_dir)
    return (sum(r["postings_emitted"] for r in rows),
            sum(r["blocks_written"] for r in rows),
            sum(r["terms"] for r in rows))


def sample_docs(rows: list[dict], seed: int) -> list[dict]:
    """A seeded document sample (the same rows for the same seed)."""
    rows = sorted(rows, key=lambda r: r["doc_id"])
    rng = random.Random(f"sample:{seed}")
    return rng.sample(rows, min(SIZES["sample_docs"], len(rows)))


def send(reader, req) -> list[tuple[int, float]]:
    """One request, as a JSON body through the DSL or straight to the
    reader."""
    if req.via_dsl:
        hits = dsl.execute_search(reader, req.body())["hits"]["hits"]
        return [(h["_id"], h["_score"]) for h in hits]
    return reader.query(
        list(req.terms), gen.K, mode=req.mode, min_should_match=req.msm,
        doc_filter=None if req.lang is None else {"lang": req.lang},
    )


def build_serving_index(run: Run, n_docs: int):
    """Corpus + from-scratch index + reader + query pool."""
    docs = gen.corpus(run.spark, n_docs, run.seed)
    run.note("corpus ready")
    out = run.path("index")
    run.group("build-setup")
    segments.build_index(docs, IndexConfig(out_dir=out, n_buckets=N_BUCKETS))
    run.group(None)
    run.note("index built")
    reader = wand.IndexReader(run.spark, out)
    rows = collect_docs(docs)
    pool = gen.query_pool(sample_docs(rows, run.seed), run.seed, SIZES["pool"])
    return docs, rows, out, reader, pool


def warm_up(reader, pool) -> None:
    """Each pool request's first call in a fresh JVM pays imports and
    first-touch costs that a serving process pays once."""
    for req in pool:
        send(reader, req)


def trace_events(run: Run, res: Result, groups: list[str], postings: float) -> None:
    stages, failed = spans.read_stages(run.event_dir)
    res.layers.update(spans.build_metrics(stages, failed, groups, postings))


# ------------------------------------------------------------------ build --


def build(run: Run) -> Result:
    """From-scratch ``build_index`` of the seeded code table, repeated."""
    res = Result()
    n = SIZES["build_docs"]
    docs = gen.corpus(run.spark, n, run.seed)
    nbytes = content_bytes(docs)
    # build times settle only after a couple of builds in a fresh JVM
    for i in range(SIZES["warm_builds"]):
        warm = run.path(f"warm-index-{i}")
        segments.build_index(docs, IndexConfig(out_dir=warm, n_buckets=N_BUCKETS))
        expect = manifest_totals(warm)
        shutil.rmtree(warm)
    res.e2e["setup_s"] = time.perf_counter() - run.t_start
    run.note("set-up done")

    samples, groups, stored = [], [], []
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end or len(samples) < SIZES["min_builds"]:
        out = run.path(f"index-{len(samples)}")
        groups.append(f"build-{len(samples)}")
        run.group(groups[-1])
        timed(samples, lambda: segments.build_index(
            docs, IndexConfig(out_dir=out, n_buckets=N_BUCKETS)))
        run.group(None)
        res.attempted += 1
        # the same input must give the same index every time
        res.failed += manifest_totals(out) != expect
        stored.append(tree_bytes(out))
        seg_bytes = tree_bytes(os.path.join(out, "segments"))
        shutil.rmtree(out)

    quiet_metrics(res, samples, n)
    run.note(f"checked {res.attempted} operations; "
             f"host steal {steal_share(samples):.1%}")
    res.e2e["stored_bytes_per_input_byte"] = percentile(stored, 0.5) / nbytes
    if run.tracer is not None:
        trace_events(run, res, groups, expect[0])
        res.layers["codec.index_bytes_per_posting"] = seg_bytes / expect[0]
        res.layers["tokenizer.tokens_per_s"] = tokens_per_s(
            sample_docs(collect_docs(docs), run.seed))
        res.layers["trace.build_docs_per_s"] = res.e2e["work_per_s"]
    return res


def tokens_per_s(sample: list[dict], min_s: float = 0.5) -> float:
    """``tokenize_text`` alone over a document sample, repeated for at
    least ``min_s`` seconds."""
    tokens = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < min_s:
        for d in sample:
            tokens += sum(c for _, c in tokenize_text(d["content"], d["lang"]))
    return tokens / (time.perf_counter() - t0)


# ----------------------------------------------------------------- search --


def search(run: Run) -> Result:
    """A closed-loop client sending a Zipf-repeated request stream to a
    static index."""
    res = Result()
    n = SIZES["search_docs"]
    docs, rows, out, reader, pool = build_serving_index(run, n)
    content = text_bytes(rows)
    # the benchmark's own copy of the corpus must not add to the garbage
    # collections of the timed loop: it is collected again for the check
    del rows
    warm_up(reader, pool)
    gc.collect()
    res.e2e["setup_s"] = time.perf_counter() - run.t_start
    run.note("set-up done")

    run.start_tracing()
    samples, seen = [], {}
    stream = gen.zipf_stream(pool, run.seed)
    t_end = time.perf_counter() + run.seconds
    while (w0 := time.perf_counter()) < t_end:
        s0, lat = host_steal_s(), []
        while time.perf_counter() < min(w0 + SUB_WINDOW_S, t_end):
            req = next(stream)
            t0 = time.perf_counter()
            got = send(reader, req)
            lat.append((req.rid, time.perf_counter() - t0))
            seen.setdefault(req.rid, []).append(got)
        dt = time.perf_counter() - w0
        samples.append(((host_steal_s() - s0) / dt, dt, lat))
    run.stop_tracing()

    # every answer of a request must equal the reference answer
    ref = Reference(collect_docs(docs))
    by_rid = {r.rid: r for r in pool}
    for rid, answers in seen.items():
        want = ref.topk(by_rid[rid])
        res.attempted += len(answers)
        res.failed += sum(not same_ranking(a, want) for a in answers)

    lat = quiet_metrics(res, samples, 1)
    run.note(f"checked {res.attempted} operations; "
             f"host steal {steal_share(samples):.1%}")
    res.e2e["stored_bytes_per_input_byte"] = tree_bytes(out) / content
    if run.tracer is not None:
        res.layers.update(spans.query_metrics(run.tracer))
        res.layers["trace.query_p50_ms"] = res.e2e["op_p50_ms"]
        res.layers["trace.query_p95_ms"] = percentile(lat, 0.95) * 1e3
        postings = manifest_totals(out)[0]
        trace_events(run, res, ["build-setup"], postings)
        res.layers["codec.index_bytes_per_posting"] = tree_bytes(
            os.path.join(out, "segments")) / postings
    return res


# -------------------------------------------------------------- s3imports --


def s3imports(run: Run) -> Result:
    """``config.run_s3imports`` over seeded gzipped ALB and CloudFront log
    objects with a known number of malformed lines. The ``s3imports``
    command imports and stops, in a fresh process each time, so the first
    job in the fresh JVM is the one timed: there is no warm-up job."""
    res = Result()
    bucket = run.path("bucket")
    made = gen.write_log_objects(bucket, run.seed, SIZES["log_objects"],
                                 SIZES["log_lines"], SIZES["bad_every"])
    cfg = parse_config(gen.s3imports_config(bucket))
    res.e2e["setup_s"] = time.perf_counter() - run.t_start
    run.note("set-up done")

    samples, groups, stored, errors = [], [], [], []
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end or len(samples) < SIZES["min_imports"]:
        out, err = run.path(f"out-{len(samples)}"), run.path(f"err-{len(samples)}")
        groups.append(f"import-{len(samples)}")
        run.group(groups[-1])
        m = timed(samples, lambda: run_s3imports(run.spark, cfg, out, err))
        run.group(None)
        res.attempted += 1
        res.failed += (m["rows"] + m["errors"] != made["lines"]
                       or m["errors"] != made["malformed"])
        if len(samples) == 1:  # the rows reported are the rows written
            res.failed += run.spark.read.parquet(out).count() != m["rows"]
        stored.append(tree_bytes(out))
        errors.append(m["errors"])
        shutil.rmtree(out)
        shutil.rmtree(err, ignore_errors=True)

    quiet_metrics(res, samples, made["lines"])
    run.note(f"checked {res.attempted} operations; "
             f"host steal {steal_share(samples):.1%}")
    res.e2e["stored_bytes_per_input_byte"] = percentile(stored, 0.5) / made["bytes"]
    if run.tracer is not None:
        stages, failed = spans.read_stages(run.event_dir)
        plans = spans.plans_metrics(stages, failed, groups)
        # what no stage covers: planning and code generation on the driver
        job_s = sum(w for _, w, _ in samples) / len(samples)
        plans["plans.driver_s"] = (job_s - plans["plans.parse_write_s"]
                                   - plans["plans.error_count_s"])
        res.layers.update(plans)
        res.layers["plans.error_lines"] = percentile(errors, 0.5)
    return res


WORKLOADS = {"build": build, "search": search, "s3imports": s3imports}
