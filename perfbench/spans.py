"""Tracing for the traced run: Python spans recorded from outside the
program, around the public functions of its layers, and per-stage phase
metrics read back from the Spark event log.

Spans are kept in memory and summarized when the run ends. Self time is a
span's duration minus the time its child spans cover; calls nest
synchronously on one thread, so children never overlap.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)  # indexes of child spans

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans around patched callables. ``patch`` replaces an
    attribute of a module or class with a span-recording wrapper; ``close``
    puts every original back."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    def _open(self, name: str) -> int:
        i = len(self.spans)
        if self._stack:
            self.spans[self._stack[-1]].children.append(i)
        self.spans.append(Span(name, time.perf_counter()))
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self.spans[i].t1 = time.perf_counter()
        self._stack.pop()

    def patch(self, owner, attr: str, name: str, on_call=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``. ``on_call(span,
        args, kwargs, result)`` may add counts to the span's attrs."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            i = self._open(name)
            try:
                out = orig(*a, **kw)
            finally:
                self._close(i)
            if on_call is not None:
                on_call(self.spans[i], a, kw, out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def subtree(self, s: Span):
        todo = list(s.children)
        while todo:
            c = self.spans[todo.pop()]
            yield c
            todo.extend(c.children)


# ------------------------------------------------------------- query path --

#: the scoring kernels the reader's auto policy picks at benchmark sizes;
#: ``wand_topk`` runs only above ``wand.TAAT_MAX_POSTINGS`` (4M) postings
KERNELS = ("score_single_term", "score_exact_taat", "score_conjunctive",
           "score_bool")


def patch_query_path(tracer: Tracer) -> None:
    """Spans at the ``operators.wand`` module attributes the reader calls
    through: the ``query`` and ``search`` (bool) entry points, both named
    ``wand.query``, every scoring kernel and the two codec decoders wand
    imports. ``dsl.execute_search`` is wrapped so DSL translation time is
    its span minus the query span inside."""
    from s3logsbeat_spark.operators import dsl, wand

    def _decoded_block(span, a, kw, out):
        span.attrs.update(blocks=1, postings=int(out[0].shape[0]))

    def _decoded_list(span, a, kw, out):
        span.attrs.update(blocks=len(a[0]["blocks"]), postings=int(out[0].shape[0]))

    def _kernel(span, a, kw, out):
        span.attrs["blocks_total"] = sum(len(pl.blocks) for pl in a[0])

    tracer.patch(wand.IndexReader, "query", "wand.query")
    tracer.patch(wand.IndexReader, "search", "wand.query")
    tracer.patch(wand, "decode_block", "codec.decode", _decoded_block)
    tracer.patch(wand, "decode_posting_list", "codec.decode", _decoded_list)
    for k in KERNELS:
        tracer.patch(wand, k, f"wand.kernel.{k}", _kernel)
    tracer.patch(dsl, "execute_search", "dsl.execute_search")


def query_metrics(tracer: Tracer) -> dict:
    """Per-query layer breakdown, reported as medians over queries."""
    read, kern, dec, posts, qms = [], [], [], [], []
    blocks_dec = blocks_tot = 0
    counts: dict[str, int] = {k: 0 for k in KERNELS}
    for q in tracer.named("wand.query"):
        decode_s = kernel_self = 0.0
        n_post = 0
        for c in tracer.subtree(q):
            if c.name == "codec.decode":
                decode_s += c.dur
                n_post += c.attrs.get("postings", 0)
                blocks_dec += c.attrs.get("blocks", 0)
            elif c.name.startswith("wand.kernel."):
                kernel_self += tracer.self_time(c)
                blocks_tot += c.attrs.get("blocks_total", 0)
                counts[c.name.rsplit(".", 1)[1]] += 1
        qms.append(q.dur * 1e3)
        read.append(tracer.self_time(q) * 1e3)
        kern.append(kernel_self * 1e3)
        dec.append(decode_s * 1e3)
        posts.append(n_post)
    translate = [
        tracer.self_time(s) * 1e3 for s in tracer.named("dsl.execute_search")
    ]
    out = {
        "wand.query_ms_p50": percentile(qms, 0.5),
        "wand.read_self_ms_p50": percentile(read, 0.5),
        "wand.kernel_self_ms_p50": percentile(kern, 0.5),
        "codec.decode_ms_p50": percentile(dec, 0.5),
        "codec.postings_decoded_per_query": sum(posts) / max(1, len(posts)),
        "wand.blocks_decoded_frac": blocks_dec / blocks_tot if blocks_tot else 0.0,
        "dsl.translate_ms_p50": percentile(translate, 0.5),
    }
    for k, v in counts.items():
        out[f"wand.kernel_count.{k}"] = v
    return out


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]; 0 for no data."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -------------------------------------------------------------- event log --

BUILD_PHASES = ("attrs_write", "runs_map", "merge_encode", "segment_write", "ack")


@dataclass
class Stage:
    group: str | None
    scopes: set
    wall_s: float
    tasks: int
    acc: dict


def event_log_conf(log_dir: str) -> dict:
    """Session settings that write one plain JSON-lines event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_stages(log_dir: str) -> tuple[list[Stage], dict]:
    """Completed stages in completion order, tagged with the job group
    they ran under, plus the number of failed tasks per job group."""
    stage_group: dict[int, str | None] = {}
    stages: list[Stage] = []
    failed: dict[str | None, int] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # the log is still being written: a partial last line
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    if e["Task End Reason"]["Reason"] != "Success":
                        g = stage_group.get(e["Stage ID"])
                        failed[g] = failed.get(g, 0) + 1
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Completion Time" not in si:
                        continue
                    scopes = {
                        json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")
                    }
                    acc: dict[str, float] = {}
                    for a in si.get("Accumulables", []):
                        try:
                            acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                        except (KeyError, TypeError, ValueError):
                            pass
                    stages.append(Stage(
                        stage_group.get(si["Stage ID"]), scopes,
                        (si["Completion Time"] - si["Submission Time"]) / 1e3,
                        si["Number of Tasks"], acc,
                    ))
    return stages, failed


def build_phase_of(stages: list[Stage]) -> list[str]:
    """Map the stages of one ``build_index`` call to its phases, in order:
    the doc-attrs sidecar write and its read-back count, the map-side
    tokenize+pack stage that feeds the one shuffle, the merge+encode
    stage, the segment write, and the read-back ack. Only structure is
    used (file writes, Python map stages, shuffle reads), never names."""
    phases = []
    writes = 0
    seen_runs = False
    for s in stages:
        python = "MapInPandas" in s.scopes
        shuffle_in = s.acc.get("internal.metrics.shuffle.read.recordsRead", 0) > 0
        if "WriteFiles" in s.scopes:
            writes += 1
            phases.append("attrs_write" if writes == 1 else "segment_write")
        elif writes >= 2:
            phases.append("ack")
        elif python and shuffle_in and seen_runs:
            phases.append("merge_encode")
        elif python and writes == 1 and not shuffle_in:
            seen_runs = True
            phases.append("runs_map")
        else:
            phases.append("attrs_write")
    return phases


def build_metrics(stages: list[Stage], failed: dict, groups: list[str],
                  postings: int) -> dict:
    """Per-phase wall seconds (mean per build) and counters for the builds
    that ran under ``groups`` (one job group per build)."""
    out = {f"segments.{p}_s": 0.0 for p in BUILD_PHASES}
    cpu = shuffle = spill = gc = 0.0
    n_stages = n_tasks = 0
    for g in groups:
        mine = [s for s in stages if s.group == g]
        n_stages += len(mine)
        n_tasks += sum(s.tasks for s in mine)
        for s, p in zip(mine, build_phase_of(mine)):
            out[f"segments.{p}_s"] += s.wall_s
            spill += s.acc.get("internal.metrics.memoryBytesSpilled", 0)
            spill += s.acc.get("internal.metrics.diskBytesSpilled", 0)
            gc += s.acc.get("internal.metrics.jvmGCTime", 0) / 1e3
            if p == "runs_map":
                # JVM task CPU plus the Python workers' run time, as Spark
                # reports them: the tokenizer runs in the Python workers
                cpu += s.acc.get("internal.metrics.executorCpuTime", 0) / 1e9
                cpu += s.acc.get("time to run Python workers", 0) / 1e3
                shuffle += s.acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
    n = max(1, len(groups))
    for p in BUILD_PHASES:
        out[f"segments.{p}_s"] /= n
    out.update({
        "segments.runs_map_cpu_s": cpu / n,
        "segments.shuffle_bytes_per_posting": shuffle / n / postings if postings else 0.0,
        "segments.spill_bytes": spill / n,
        "segments.jvm_gc_s": gc / n,
        "segments.failed_tasks": sum(failed.get(g, 0) for g in groups),
        "segments.stages_per_build": n_stages / n,
        "segments.tasks_per_build": n_tasks / n,
    })
    return out


def plans_metrics(stages: list[Stage], failed: dict, groups: list[str]) -> dict:
    """Stage time of the import jobs. ``run_s3imports`` persists the parsed
    lines, so the first write runs the parse plan (regex extract, kind
    casts, URL-decode UDF): write stages count as parse+write, every other
    stage as the error and row counts read back from the persisted set."""
    parse = cpu = err = 0.0
    for g in groups:
        for s in (s for s in stages if s.group == g):
            if "WriteFiles" in s.scopes:
                parse += s.wall_s
                cpu += s.acc.get("internal.metrics.executorCpuTime", 0) / 1e9
                cpu += s.acc.get("time to run Python workers", 0) / 1e3
            else:
                err += s.wall_s
    n = max(1, len(groups))
    return {
        "plans.parse_write_s": parse / n,
        "plans.parse_cpu_s": cpu / n,
        "plans.error_count_s": err / n,
        "plans.failed_tasks": sum(failed.get(g, 0) for g in groups),
    }
