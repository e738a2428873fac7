"""Job-level profiler (guide §1/§7.1 with the UI disabled): runs declared
queries with the noop sink and dumps EVERY Spark job's wall time from the
JVM AppStatusStore — submission->completion, task count, and the job
description active when it was submitted.  At bench scale most query time
hides in the *gaps between* and *fixed costs of* many small jobs (eager
localCheckpoints, census collects, toPandas feature collects), which
stage-level thinking cannot see; this prints the full job timeline so a
query's seconds decompose into named barriers.

Usage:
  python tools/profile_jobs.py <query> [query ...]   # per-query job dump

Output per query: total sec, the driver JVM's JIT-compile and GC seconds
spent during the query, then one line per job
  jobId  start_off_ms  dur_ms  numTasks  description
and a gap analysis (time not covered by any running job = driver-side
planning/scheduling/python time).  JIT and GC seconds are deltas of the
JVM's Compilation and GarbageCollector MXBeans, read over py4j: reading
them launches no Spark job.  JIT time is summed over the compiler
threads, so it can exceed the query's wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _jobs(spark):
    """All jobs from the status store: (jobId, submMs, complMs, nTasks, desc)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    it = store.jobsList(sc._jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        j = it.next()
        subm = j.submissionTime()
        compl = j.completionTime()
        desc = j.description().get() if j.description().isDefined() else ""
        out.append(
            (
                j.jobId(),
                subm.get().getTime() if subm.isDefined() else None,
                compl.get().getTime() if compl.isDefined() else None,
                j.numTasks(),
                (desc + " | " + j.name())[:150],
            )
        )
    out.sort(key=lambda t: t[0])
    return out


def _jit_gc_seconds(spark) -> tuple[float, float]:
    """Cumulative (JIT compile, GC) seconds of the driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000, gc_ms / 1000


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]

    import __spark_entry__ as entry_mod
    from bench import materialize
    from who_owns_mass_processing_spark.session import get_spark

    spark = get_spark(app_name="profile_jobs")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    # warm-up mirrors bench.py
    materialize(qs["text_metrics"](spark, sf_dir))
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    materialize(qs["minhash_lsh_pairs"](spark, warm_dir if os.path.isdir(warm_dir) else sf_dir))

    for name in names:
        before_ids = {j[0] for j in _jobs(spark)}
        spark.sparkContext.setJobDescription(f"Q:{name}")
        jit0, gc0 = _jit_gc_seconds(spark)
        t0 = time.time()
        materialize(qs[name](spark, sf_dir))
        wall = time.time() - t0
        jit1, gc1 = _jit_gc_seconds(spark)
        spark.sparkContext.setJobDescription(None)
        jobs = [j for j in _jobs(spark) if j[0] not in before_ids]
        t_origin = min(j[1] for j in jobs if j[1]) if jobs else 0
        print(
            f"\n=== {name}: {wall:.3f} s, {len(jobs)} jobs,"
            f" jit {jit1 - jit0:.3f} s, gc {gc1 - gc0:.3f} s ==="
        )
        covered = 0
        last_end = None
        for jid, subm, compl, ntasks, desc in jobs:
            if subm is None:
                continue
            dur = (compl - subm) if compl else -1
            gap = (subm - last_end) if last_end is not None else subm - t_origin
            last_end = max(last_end or compl, compl) if compl else last_end
            covered += max(dur, 0)
            print(
                f"  job {jid:>5}  +{subm - t_origin:>7} ms  dur {dur:>7} ms"
                f"  gap {gap:>6} ms  tasks {ntasks:>4}  {desc}"
            )
        print(
            f"  -- job-covered {covered / 1000:.3f} s of {wall:.3f} s wall"
            f" (uncovered = driver planning/python/gaps)"
        )
        sys.stdout.flush()

    print(json.dumps({"done": names}))


if __name__ == "__main__":
    main()
