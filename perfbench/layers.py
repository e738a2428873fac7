"""Per-layer metrics of the traced run, computed from its spans and jobs.

Each metric is a median over the measured passes of a per-pass value.
A layer a workload does not reach reports 0 (the stage metrics on
text_queries, the per-query metrics on images_small).
"""

from __future__ import annotations

from perfbench.spans import SpanIndex, union_seconds
from perfbench.workloads import QUERIES, STAGES, median

MB = 1e6
BLOCKING = ("candidate_pairs", "hamming_pairs", "with_surrogate_ids")


def names() -> dict[str, str]:
    """Every per-layer metric with its unit, in output order."""
    out = {
        "pipeline.run.s": "s", "pipeline.run.stage_s": "s", "pipeline.run.self_s": "s",
        "pipeline.run.jobs": "count", "pipeline.run.unattributed_jobs": "count",
    }
    for st in STAGES:
        out.update({f"stage.{st}.s": "s", f"stage.{st}.jobs": "count",
                    f"stage.{st}.task_s": "s", f"stage.{st}.shuffle_mb": "MB"})
    out.update({"pipeline.spill_mb": "MB", "pipeline.write_mb": "MB", "resume.jobs": "count"})
    out.update({"operators.connected_components.s": "s",
                "operators.connected_components.jobs": "count",
                "operators.connected_components.calls": "count"})
    for fn in BLOCKING:
        out.update({f"operators.blocking.{fn}.s": "s", f"operators.blocking.{fn}.calls": "count"})
    out.update({
        "operators.dedupe.s": "s", "operators.dedupe.calls": "count",
        "operators.verify.build.s": "s", "operators.verify.build.calls": "count",
        "operators.verify.s": "s", "operators.verify.calls": "count",
        "functions.vectors.s": "s", "functions.vectors.calls": "count",
        "blocking.band_rows": "count", "blocking.max_bucket": "count",
        "verify.pairs": "count", "verify.yield": "ratio",
    })
    for q in QUERIES:
        out.update({f"q.{q}.plan_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.jobs": "count",
                    f"q.{q}.tasks": "count", f"q.{q}.shuffle_mb": "MB", f"q.{q}.gap_s": "s"})
    out.update({"session.gc_s": "s", "trace.overhead_s": "s", "trace.pass_s": "s"})
    return out


def _in(j: dict, spans: list[dict]) -> bool:
    return any(s["start"] <= j["submit"] <= s["end"] for s in spans)


def _pass_metrics(ix: SpanIndex, jobs: list[dict], p: dict) -> dict[str, float]:
    pid = p["span"]
    m: dict[str, float] = {}

    def outer(name, prefix=False):
        return ix.named(name, pid, prefix)

    def span_stats(key, spans, with_jobs=False):
        m[f"{key}.s"] = ix.seconds(spans)
        m[f"{key}.calls"] = len(spans)
        if with_jobs:
            m[f"{key}.jobs"] = sum(len(ix.jobs_under(s["id"])) for s in spans)

    runs = outer("pipeline.run")
    if runs:
        stage_s = sum(
            union_seconds((c["start"], c["end"]) for c in ix.named("stage.", r["id"], True))
            for r in runs
        )
        run_jobs = [j for j in jobs if _in(j, runs)]
        m["pipeline.run.s"] = ix.seconds(runs)
        m["pipeline.run.stage_s"] = stage_s
        m["pipeline.run.self_s"] = m["pipeline.run.s"] - stage_s
        m["pipeline.run.jobs"] = len(run_jobs)
        m["pipeline.run.unattributed_jobs"] = sum(j in ix.unattributed for j in run_jobs)
        m["pipeline.spill_mb"] = ix.stage_sum(run_jobs, "spill") / MB
        m["pipeline.write_mb"] = ix.stage_sum(run_jobs, "output") / MB
        resume = [r for r in runs if r.get("call") == "resume"]
        m["resume.jobs"] = sum(_in(j, resume) for j in jobs)
    for st in STAGES:
        spans = outer(f"stage.{st}")
        sj = [j for s in spans for j in ix.jobs_under(s["id"])]
        m[f"stage.{st}.s"] = ix.seconds(spans)
        m[f"stage.{st}.jobs"] = len(sj)
        m[f"stage.{st}.task_s"] = ix.stage_sum(sj, "run_s")
        m[f"stage.{st}.shuffle_mb"] = ix.stage_sum(sj, "shuffle_write") / MB

    span_stats("operators.connected_components",
               outer("operators.connected_components"), with_jobs=True)
    for fn in BLOCKING:
        span_stats(f"operators.blocking.{fn}", outer(f"operators.blocking.{fn}"))
    span_stats("operators.dedupe", outer("operators.dedupe.", True))
    span_stats("operators.verify.build", outer("operators.verify.build.", True))
    span_stats("operators.verify", outer("operators.verify.verify_", True))
    span_stats("functions.vectors", outer("functions.vectors.", True))

    d = p["detail"]
    if "band_rows" in d:
        m["blocking.band_rows"] = d["band_rows"]
        m["blocking.max_bucket"] = d["max_bucket"]
        m["verify.pairs"] = d["verified_pairs"]
        m["verify.yield"] = d["verified_pairs"] / max(d["band_rows"], 1)

    for q in QUERIES:
        spans = outer(f"q.{q}")
        if not spans:
            continue
        qj = [j for s in spans for j in ix.jobs_under(s["id"])]
        covered = sum(
            union_seconds(
                (max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"]))
                for j in jobs if j["submit"] <= s["end"] and (j["end"] or s["end"]) >= s["start"]
            )
            for s in spans
        )
        m[f"q.{q}.plan_s"] = ix.seconds(outer(f"q.{q}.plan"))
        m[f"q.{q}.exec_s"] = ix.seconds(outer(f"q.{q}.exec"))
        m[f"q.{q}.jobs"] = len(qj)
        m[f"q.{q}.tasks"] = sum(j["tasks"] for j in qj)
        m[f"q.{q}.shuffle_mb"] = ix.stage_sum(qj, "shuffle_write") / MB
        m[f"q.{q}.gap_s"] = ix.seconds(spans) - covered

    m["session.gc_s"] = p["gc_s"]
    m["trace.overhead_s"] = p["overhead_s"]
    m["trace.pass_s"] = p["pass_s"]
    return m


def compute(spans: list[dict], jobs: list[dict], stages: dict, passes: list[dict]) -> dict:
    ix = SpanIndex(spans, jobs, stages)
    per_pass = [_pass_metrics(ix, jobs, p) for p in passes]
    return {k: median([m.get(k, 0.0) for m in per_pass]) for k in names()}
