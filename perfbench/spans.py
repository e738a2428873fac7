"""Spans for the traced benchmark run, and the Spark facts behind them.

A span is recorded around a call into one layer: a pipeline stage
(``StageCatalog.read_or_compute``/``write``) or an operator function,
patched where the caller looks the name up.  Each span tags the Spark
jobs its thread submits with a job group of its own; after the run the
jobs, their stages, task time, shuffle, spill and output bytes are read from
the AppStatusStore (no Spark job is launched to do so).  Jobs whose group
is not one of ours -- side threads the span could not tag -- are kept and
counted as unattributed.

Spans live in memory and are written out, with their parent ids, when the
run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Records spans; a thread with no open span parents its spans under
    the innermost span open on the thread that created the tracer."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patches: list[tuple] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        rec = {"id": sid, "parent": parent, "name": name, **attrs}
        stack.append(sid)
        rec["start"] = time.time()
        with self._lock:
            self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += time.perf_counter() - t_out

    def patch(self, owner, attr: str, name) -> None:
        """Replace `owner.attr` with a wrapper that records a span.
        `name` is a string or a function of the call's (args, kwargs)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _stage_name(prefix: str):
    def label(args, kwargs):
        # read_or_compute(self, stage, ...) / write(self, stage, df, ...)
        return f"{prefix}.{kwargs['stage'] if 'stage' in kwargs else args[1]}"
    return label


def install(tracer: Tracer, entry_mod) -> None:
    """Patch the layer boundaries the benchmark reaches, at every place a
    caller looks the name up (module attributes bound by `from x import y`
    are patched in the importing module too)."""
    from who_owns_mass_processing_spark.functions import images as fimages
    from who_owns_mass_processing_spark.functions import vectors
    from who_owns_mass_processing_spark.operators import blocking, dedupe, network, verify
    from who_owns_mass_processing_spark.operators import connected_components as ccmod
    from who_owns_mass_processing_spark.pipeline import checkpoint, run

    tracer.patch(checkpoint.StageCatalog, "read_or_compute", _stage_name("stage"))
    tracer.patch(checkpoint.StageCatalog, "write", _stage_name("write"))

    cc = "operators.connected_components"
    for owner in (ccmod, run, network, entry_mod):
        tracer.patch(owner, "connected_components", cc)

    for fn in ("candidate_pairs", "with_surrogate_ids"):
        for owner in (blocking, dedupe):
            tracer.patch(owner, fn, f"operators.blocking.{fn}")
    for owner in (blocking, run):
        tracer.patch(owner, "hamming_pairs", "operators.blocking.hamming_pairs")

    for fn in (
        "exact_dup_groups", "lsh_near_dup_pairs", "lsh_near_dup_edges",
        "rep_pairs_from_sigs", "exact_fingerprint_edges", "winnow_pairs",
        "containment_pairs_lsh", "simhash_near_dup_pairs",
    ):
        tracer.patch(dedupe, fn, f"operators.dedupe.{fn}")
    for owner in (dedupe, run):
        tracer.patch(owner, "minhash_signatures", "operators.dedupe.minhash_signatures")

    for fn in ("build_jaccard_mapside_bvar", "build_containment_mapside_bvar",
               "build_winnow_mapside_bvar"):
        tracer.patch(verify, fn, f"operators.verify.build.{fn}")
    tracer.patch(dedupe, "verify_jaccard", "operators.verify.verify_jaccard")
    for owner in (verify, run):
        tracer.patch(owner, "verify_psnr", "operators.verify.verify_psnr")

    tracer.patch(fimages, "phash_combo_bands", "functions.images.phash_combo_bands")
    tracer.patch(vectors, "ann_lsh_pairs", "functions.vectors.ann_lsh_pairs")


# --- AppStatusStore readers (driver metadata calls; zero Spark jobs) -------

def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _ms(o) -> float | None:
    return o.get().getTime() / 1000.0 if o.isDefined() else None


def latest_job_id(sc) -> int:
    """Id of the newest job the store retains, -1 when none.  jobsList
    returns the newest job first."""
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return -1 if jobs.isEmpty() else jobs.head().jobId()


def read_jobs(sc, since_id: int) -> list[dict]:
    """Jobs with id > since_id: group, submit/end epoch seconds, tasks and
    the ids of the stages they list."""
    store = sc._jsc.sc().statusStore()
    out = []
    it = store.jobsList(sc._jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= since_id:
            break  # newest first
        if not j.submissionTime().isDefined():
            continue
        stages = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            stages.append(int(sit.next()))
        out.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup(), ""),
            "submit": _ms(j.submissionTime()),
            "end": _ms(j.completionTime()),
            "tasks": j.numTasks(),
            "stages": stages,
        })
    out.reverse()
    return out


def read_stages(sc) -> dict[int, dict]:
    """Per stage id (attempts summed): executor run time, shuffle write,
    spill and output bytes."""
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        sc._jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), sc._jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        d = out.setdefault(s.stageId(), {"run_s": 0.0, "shuffle_write": 0, "spill": 0, "output": 0})
        d["run_s"] += s.executorRunTime() / 1000.0
        d["shuffle_write"] += s.shuffleWriteBytes()
        d["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        d["output"] += s.outputBytes()
    return out


def jvm_gc_seconds(sc) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


# --- span arithmetic ---------------------------------------------------------

def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanIndex:
    """Spans plus the jobs they launched, with the questions the per-layer
    metrics ask of them."""

    def __init__(self, spans: list[dict], jobs: list[dict], stages: dict[int, dict]):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_span: dict[int, list[dict]] = {}
        self.unattributed: list[dict] = []
        for j in jobs:
            g = j["group"]
            sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
            if sid in self.spans:
                self.jobs_by_span.setdefault(sid, []).append(j)
            else:
                self.unattributed.append(j)
        # each stage counts once, for the first job that lists it
        self.stage_owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["id"]):
            for st in j["stages"]:
                self.stage_owner.setdefault(st, j["id"])
        self.stages = stages

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, ()))
        return out

    def jobs_under(self, sid: int) -> list[dict]:
        return [j for d in self.descendants(sid) for j in self.jobs_by_span.get(d, ())]

    def stage_sum(self, jobs: list[dict], key: str) -> float:
        total = 0.0
        for j in jobs:
            for st in j["stages"]:
                if self.stage_owner.get(st) == j["id"] and st in self.stages:
                    total += self.stages[st][key]
        return total

    def named(self, name: str, within: int | None = None, prefix: bool = False) -> list[dict]:
        """Outermost spans called `name` (starting with it when `prefix`),
        optionally only under span `within`."""
        pool = self.descendants(within) if within is not None else list(self.spans)
        match = (lambda n: n.startswith(name)) if prefix else (lambda n: n == name)
        out = []
        for sid in pool:
            s = self.spans[sid]
            if not match(s["name"]):
                continue
            p = s["parent"]
            while p is not None and p in self.spans and not match(self.spans[p]["name"]):
                p = self.spans[p]["parent"]
            if p is None or p not in self.spans:
                out.append(s)
        return out

    @staticmethod
    def seconds(spans: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in spans)
