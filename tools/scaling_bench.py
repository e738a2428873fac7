#!/usr/bin/env python
"""Two-parallelism scaling bench -> BENCH.md.

The north_rule's >=0.8 scaling-efficiency criterion targets N vs 4N
executors; no real cluster exists in this sandbox, so (per driver
instruction) we run the SAME job on the SAME input at local[8] and
local[32] and report images/sec at both plus the efficiency ratio.

Protocol (round 2 — round 1 measured a single cold run and got numbers
dominated by one-time costs that a real cluster amortizes over hours):

  * each parallelism level is a fresh subprocess (fresh JVM);
  * inside it, the FULL measured job runs once as a discarded warm-up
    (JIT + codegen compile + python-worker spawn + shuffle-service
    warm-up), then `SCALING_REPS` (default 3) measured repetitions;
  * the reported figure is the MEDIAN of the measured reps — steady-
    state throughput, which is what 10^12-scale wall-clock is made of;
  * cold-run numbers are reported alongside for transparency;
  * shuffle partitions = 2x cores (candidate/pair stages need more
    splits than cores; round 1 used 1x and under-split the hot stage);
  * the iterative CC tail is reported separately (latency- not
    throughput-bound: driver-synced fixpoint rounds).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import gc, json, os, sys, time
sys.path.insert(0, %(repo)r)
cores = int(sys.argv[1]); n_base = int(sys.argv[2]); reps = int(sys.argv[3])
from pyspark.sql import functions as F
from bench import ensure_bench_images_parallel
from who_owns_mass_processing_spark.session import get_spark, shuffle_write_bytes
from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.functions.images import image_meta_udf, phash_combo_bands
from who_owns_mass_processing_spark.operators.blocking import decode_pair_ids, hamming_pairs
from who_owns_mass_processing_spark.operators.connected_components import connected_components
from who_owns_mass_processing_spark.operators.dedupe import (
    exact_fingerprint_edges, lsh_near_dup_edges, minhash_signatures, representatives)
from who_owns_mass_processing_spark.operators.verify import verify_psnr

cfg = DedupeConfig()
spark = get_spark(cores=cores, shuffle_partitions=2 * cores)
spark.sparkContext.setLogLevel("ERROR")
path = ensure_bench_images_parallel(n_base)
# scan the multi-file parquet directly — the 100-TB contract is that the
# payload is READ once per pass, never cached/shuffled; caching ~20 GB of
# bytes in the block manager would both be unrealistic and contend with
# execution memory
images = spark.read.parquet(path)
n = images.count()

def one_run():
    t = {}
    t0 = time.time()
    # signature stage: decode->pHash recompute (pandas UDF over bytes) +
    # MinHash over captions + byte/caption fingerprints — the payload pass
    meta = image_meta_udf()
    ingested = images.select(
        "image_id", "fmt", "caption",
        meta(F.col("bytes")).alias("m"),
        F.sha2(F.col("bytes"), 256).alias("byte_fp"),
    ).select("image_id", "fmt", "caption", F.col("m.phash").alias("phash"), "byte_fp")
    # materialize between the two Arrow UDF stages (ingest checkpoint in
    # the real pipeline; also avoids chaining two ArrowEvalPython nodes
    # over 100KB binary rows in one task)
    ingested = ingested.localCheckpoint(eager=True)
    sigs = minhash_signatures(ingested, "image_id", "caption", cfg)
    sigs = sigs.join(ingested.select("image_id", "phash", "byte_fp"), "image_id")
    sigs = sigs.localCheckpoint(eager=True)
    t["sig"] = time.time() - t0

    t0 = time.time()
    sw0 = shuffle_write_bytes(spark)
    stop = cfg.stop_band_threshold(n)
    # the pipeline's operators: caption edges, and one surrogate-id'd
    # representative per byte hash for pHash blocking
    cap_edges, _ = lsh_near_dup_edges(sigs, "image_id", cfg, corpus_rows=n)
    reps_df = representatives(sigs.select("image_id", "byte_fp", "phash"), "image_id", "byte_fp")
    img_bands = phash_combo_bands(reps_df, "phash", "_sid",
                                  cfg.phash_bands, cfg.hamming_radius)
    # Hamming gate FUSED into pair generation (pipeline/run.py parity):
    # failing combo-band candidates are never materialized — without the
    # fusion a hot 14k-row bucket family shuffles ~cap^2-per-cell unfiltered
    # pair rows into the dedup groupBy
    img_sid_pairs, _ = hamming_pairs(img_bands, "_sid", "phash",
                                     cfg.hamming_radius, cfg.band_bucket_cap, stop)
    img_pairs = decode_pair_ids(img_sid_pairs.select("a", "b"),
                                reps_df.select("_sid", "image_id"), "image_id")
    img_ok = verify_psnr(img_pairs, images.select("image_id", "bytes", "fmt"),
                         "image_id", "bytes", "fmt", cfg.psnr_min_db)
    byte_star = exact_fingerprint_edges(sigs, "image_id", "byte_fp").select("a", "b")
    edges = (cap_edges.select("a", "b").unionByName(img_ok.select("a", "b"))
             .unionByName(byte_star).distinct().localCheckpoint(eager=True))
    t["edges"] = edges.count()
    t["block"] = time.time() - t0
    # shuffle-WRITE bytes attributed to the block+verify phase (VERDICT
    # r4 #1 evidence: surrogate ids shrink block-phase shuffle volume)
    t["block_shuffle_mb"] = (shuffle_write_bytes(spark) - sw0) / 1e6

    t0 = time.time()
    cc = connected_components(edges)
    cc.write.format("noop").mode("overwrite").save()
    t["cc"] = time.time() - t0
    return t

def cleanup():
    # drop refs to the previous rep's localCheckpoint blocks and force the
    # block manager to release them before the next measured rep — without
    # this, checkpoint blocks accumulate across reps and later reps measure
    # GC pressure, not the job (observed: rep-over-rep degradation)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)

cold = one_run()
print("cold " + json.dumps({k: round(v, 2) for k, v in cold.items()}), flush=True)
cleanup()
runs = []
for r in range(reps):
    res = one_run()
    runs.append(res)
    cleanup()
    print(f"rep{r} " + json.dumps({k: round(v, 2) for k, v in res.items()}), flush=True)

med = lambda key: sorted(r[key] for r in runs)[len(runs) // 2]
core_sec = med("sig") + med("block")
print(json.dumps({
    "cores": cores, "n_images": n, "edges": runs[0]["edges"],
    "cold_sec": round(cold["sig"] + cold["block"], 2),
    "sig_sec": round(med("sig"), 2), "block_sec": round(med("block"), 2),
    "cc_sec": round(med("cc"), 2),
    "block_shuffle_mb": round(med("block_shuffle_mb"), 1),
    "images_per_sec": round(n / core_sec, 2),
    "reps": [{k: round(v, 2) for k, v in r.items()} for r in runs],
}))
"""


SUBSTR_WORKER = r"""
import gc, json, sys, time
sys.path.insert(0, %(repo)r)
cores = int(sys.argv[1]); n_docs = int(sys.argv[2]); reps = int(sys.argv[3])
from pyspark.sql import functions as F
from who_owns_mass_processing_spark.session import get_spark
from who_owns_mass_processing_spark.operators.substrings import (
    substring_dup_spans, substring_dup_pairs_blocked)

spark = get_spark(cores=cores, shuffle_partitions=2 * cores)
spark.sparkContext.setLogLevel("ERROR")

# deterministic synthetic corpus generated IN SPARK (no disk, no python):
# ~40 words/doc (~230 chars) from a 5000-word vocab; docs (100k, 100k+1)
# share their first 30 words (~210 chars) — n_docs/100 planted near-copy
# pairs.  Accidental cross-doc 25-char window collisions are birthday-
# bounded at ~(n_docs*40)^2/2 * 5000^-4 ~ 2.5 pairs at 1M docs (measured:
# exactly 1), so the kernel's work is the planted signal, not noise.
base_expr = F.when(F.pmod(F.col("id"), F.lit(100)) == 1, F.col("id") - 1).otherwise(F.col("id"))
ws = F.transform(F.sequence(F.lit(0), F.lit(29)),
                 lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(base_expr, i), F.lit(5000))))
wo = F.transform(F.sequence(F.lit(30), F.lit(39)),
                 lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(5000))))
docs = spark.range(n_docs, numPartitions=2 * cores).select(
    F.col("id").alias("doc_id"), F.concat_ws(" ", F.concat(ws, wo)).alias("text"))
docs = docs.localCheckpoint(eager=True)  # generation excluded from timing
n = docs.count()

def one_run():
    t = {}
    t0 = time.time()
    spans = substring_dup_spans(docs, "doc_id", "text", min_len=25)
    spans.write.format("noop").mode("overwrite").save()
    t["spans"] = time.time() - t0
    t0 = time.time()
    pairs, _ = substring_dup_pairs_blocked(docs, "doc_id", "text", min_len=25)
    t["n_pairs"] = pairs.count()
    t["pairs"] = time.time() - t0
    return t

def cleanup():
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)

cold = one_run()
print("cold " + json.dumps({k: round(v, 2) for k, v in cold.items()}), flush=True)
cleanup()
runs = []
for r in range(reps):
    res = one_run()
    runs.append(res)
    cleanup()
    print(f"rep{r} " + json.dumps({k: round(v, 2) for k, v in res.items()}), flush=True)

med = lambda key: sorted(r[key] for r in runs)[len(runs) // 2]
total = med("spans") + med("pairs")
print(json.dumps({
    "cores": cores, "n_docs": n, "n_pairs": runs[0]["n_pairs"],
    "cold_sec": round(cold["spans"] + cold["pairs"], 2),
    "spans_sec": round(med("spans"), 2), "pairs_sec": round(med("pairs"), 2),
    "docs_per_sec": round(n / total, 2),
    "reps": [{k: round(v, 2) for k, v in r.items()} for r in runs],
}))
"""


def run_alternating(n_base: int, reps: int) -> tuple[dict, dict]:
    """Round-4 protocol (SCALING_INTERLEAVE=1): the two parallelism
    levels run as ALTERNATING, fresh, one-at-a-time JVMs — unit order
    8,32,8,32,... where each unit is its own worker subprocess running
    one full discarded warm-up plus ONE measured rep, then exiting.

    Rationale (both r3 and the first two r4 attempts informed this):

    * Temporal adjacency: round 3 measured the two levels ~20 minutes
      apart on a host whose pure-CPU ceiling drifted +/-15% between
      windows; its 0.44 median normalized efficiency tracked that
      drift, not the job.  Alternating units put every local[8] rep
      next to a local[32] rep in time.
    * One JVM at a time, fresh per unit: the first r4 design kept both
      levels' JVMs alive and ping-ponged reps between them via file
      tokens.  On the post-reset host that configuration collapsed
      (8-thread signature phase 1938s vs 140s in r3 — kernel-time
      storms in pread64/filemap_read with near-zero user time).
      Controlled single-JVM probes on the same host isolated the big
      COMMITTED heap as the trigger, not dual residency per se:
      sig-phase over the full 1.4M corpus at local[8] took 168s at
      8g heap + 8g off-heap but did not finish in 600s at 48g + 24g
      (spark sets -Xms=-Xmx for local drivers, so driver.memory is
      committed up front).  Fresh default-memory JVMs per unit avoid
      both failure modes and cost only JIT/codegen warm-up, which the
      in-unit warm-up run pays explicitly for BOTH levels alike.
      The complementary fix lives in synth.py: the corpus is written
      with 1024-row (~15 MB) parquet row groups, because a scan task
      buffers one whole row-group column chunk on heap — pyarrow's
      default ~150 MB groups put ~5 GB of transient chunk buffers on
      32 concurrent tasks and OOMed the local[32] level at 8-16 g.
    * Measurement semantics are unchanged: per level the reported
      figure is still the median of `reps` measured repetitions, each
      preceded by a warm-up in its own JVM; cold_sec is the median
      warm-up wall time (one-time costs a real cluster amortizes).

    Memory: SCALING_DRIVER_MEM / SCALING_OFFHEAP, default 8g/8g (the
    session defaults — measured fast on this host; see above)."""
    mem = (
        os.environ.get("SCALING_DRIVER_MEM", "8g"),
        os.environ.get("SCALING_OFFHEAP", "8g"),
    )
    units: dict[int, list[dict]] = {8: [], 32: []}
    for r in range(reps):
        for c in (8, 32):
            print(f"  unit rep{r} local[{c}] ...", flush=True)
            t0 = __import__("time").time()
            u = run_worker(WORKER, c, n_base, 1, mem=mem)
            units[c].append(u)
            print(
                f"  unit rep{r} local[{c}]: sig={u['sig_sec']} block={u['block_sec']} "
                f"cold={u['cold_sec']} wall={__import__('time').time() - t0:.0f}s",
                flush=True,
            )

    def agg(us: list[dict]) -> dict:
        med = lambda key: sorted(u[key] for u in us)[len(us) // 2]
        all_reps = [u["reps"][0] for u in us]
        core_sec = med("sig_sec") + med("block_sec")
        return {
            "cores": us[0]["cores"], "n_images": us[0]["n_images"],
            "edges": us[0]["edges"],
            "cold_sec": med("cold_sec"),
            "sig_sec": med("sig_sec"), "block_sec": med("block_sec"),
            "cc_sec": med("cc_sec"),
            "images_per_sec": round(us[0]["n_images"] / core_sec, 2),
            "reps": all_reps,
        }

    return agg(units[8]), agg(units[32])


def _burn(n: int) -> float:
    import time

    t0 = time.time()
    x = 0
    for i in range(n):
        x += i * i
    return time.time() - t0


def machine_ceiling(lo: int = 8, hi: int = 32, work: int = 20_000_000) -> dict:
    """Hardware scaling ceiling: the same embarrassingly-parallel pure-CPU
    kernel (no Spark, no coordination, no shuffle) at `lo` and `hi`
    processes.  On this sandbox the hypervisor does not deliver 4x
    single-core throughput from 8->32 vCPUs (all-core clock/steal), so the
    job's measured efficiency is reported both raw and normalized by this
    ceiling — a real N->4N executor cluster adds 4x of *machines*, which
    is the regime the north rule targets."""
    import multiprocessing as mp
    import time as _t

    out = {}
    for procs in (lo, hi):
        t0 = _t.time()
        with mp.Pool(procs) as p:
            p.map(_burn, [work] * procs)
        wall = _t.time() - t0
        out[f"agg_{procs}"] = round(procs / wall, 3)  # work-units/sec
    out["ceiling"] = round(out[f"agg_{hi}"] / out[f"agg_{lo}"] / (hi / lo), 3)
    return out


def run_worker(
    script: str, cores: int, size: int, reps: int,
    mem: tuple[str, str] | None = None,
) -> dict:
    """mem = (driver_mem, offheap).  Default 8g/8g: spark sets
    -Xms=-Xmx for local drivers, and on this host a large COMMITTED
    heap collapses the payload scan (measured: full-corpus sig phase
    168s at 8g vs >600s at 48g — see run_alternating docstring)."""
    if mem is None:
        mem = (
            os.environ.get("SCALING_DRIVER_MEM", "8g"),
            os.environ.get("SCALING_OFFHEAP", "8g"),
        )
    env = dict(
        os.environ,
        SPARK_DRIVER_MEM=mem[0],
        SPARK_GRAFT_OFFHEAP=mem[1],
    )
    out = subprocess.run(
        [sys.executable, "-c", script % {"repo": REPO}, str(cores), str(size), str(reps)],
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=REPO, timeout=7200, env=env,
    )
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker cores={cores} produced no result")
    return json.loads(lines[-1])


STATE_PATH = os.environ.get(
    "SCALING_STATE", "/tmp/spark_graft_scaling_state_r3.json"
)


def _load_state() -> dict:
    if os.path.exists(STATE_PATH):
        with open(STATE_PATH) as f:
            return json.load(f)
    return {"runs": [], "substr": {}}


def _save_state(state: dict) -> None:
    tmp = STATE_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, indent=2)
    os.replace(tmp, STATE_PATH)


def _run_block(run: dict) -> tuple[float, float, float | None]:
    """(speedup, raw_eff, norm_eff) for one full execution; norm_eff is
    None when the ceiling probe came back falsy (guard restored per
    ADVICE r3 — a zero ceiling must render as n/a, not crash the
    campaign after the expensive runs completed)."""
    speedup = run["r32"]["images_per_sec"] / run["r8"]["images_per_sec"]
    eff = speedup / 4.0
    ceil = run["ceiling"].get("ceiling")
    norm = eff / ceil if ceil else None
    return speedup, eff, norm


def write_bench_md(state: dict, reps: int) -> None:
    runs = state["runs"]
    if not runs:
        return
    n_images = runs[0]["r8"]["n_images"]
    effs = sorted(e for e in (_run_block(r)[2] for r in runs) if e is not None)
    med_norm = effs[len(effs) // 2] if effs else None
    n_ok = sum(1 for e in effs if e >= 0.8)

    md = f"""# BENCH — two-parallelism scaling evidence ({len(runs)} full runs)

north_rule criterion: >=0.8 throughput scaling efficiency from N to 4N
executors.  No real cluster exists in this sandbox, so (per driver
instruction) the SAME job ran on the SAME {n_images}-image input at
`local[8]` and `local[32]` (cores as executor proxy), fresh JVM per
level.  Measured section: signature (MinHash + decode->pHash pandas
UDFs) + LSH banding + salted candidates + exact Jaccard/Hamming/PSNR
verify — the throughput-dominant path at 10^12 scale.  Figures are the
MEDIAN of {reps} steady-state repetitions after one discarded warm-up
run per JVM (JIT/codegen/python-worker spawn are one-time costs a real
cluster amortizes over hours), with checkpoint blocks explicitly freed
between reps so later reps measure the job, not accumulated GC
pressure.  Connected components is reported separately (its
per-iteration driver sync is latency-bound, not throughput-bound).

Round 4 runs the ALTERNATING protocol (SCALING_INTERLEAVE=1): units
run 8,32,8,32,... where each unit is a FRESH one-at-a-time JVM doing
one discarded warm-up plus one measured rep, so the two levels sample
ADJACENT host windows.  This removes the round-3 confound (sequential
levels measured ~20 minutes apart on a host whose pure-CPU ceiling
itself drifted ±15% between windows; round-3 forensics attributed its
0.44 median to exactly this).  Workers run at the session-default
8g heap + 8g off-heap — identical TOTAL memory at both levels, which
if anything penalizes the 4N level (a real 4N-executor cluster carries
4x the memory).  Two host findings shaped this (SCALE.md "Round-4
addendum"): a large committed heap collapses the payload scan on this
VM (sig phase 168s at 8g vs >600s at 48g, same job), and the corpus is
written with 1024-row (~15 MB) parquet row groups so 32 concurrent
scan tasks hold ~1 GB of chunk buffers instead of ~5 GB (pyarrow
default groups OOMed the 32-thread level at any sane heap).  Same
measured section, same warm-up/GC discipline as round 3; only rep
SCHEDULING, worker memory, and corpus row-group layout changed.

## Hardware ceiling (what "4x cores" actually delivers here)

The same embarrassingly-parallel pure-CPU kernel (no Spark, no shuffle,
no coordination — `machine_ceiling()` in tools/scaling_bench.py) run at
8 and 32 processes, MEASURED FRESH INSIDE EACH RUN, reports what the
hypervisor delivers when 4x the vCPUs go active (all-core clock/steal —
32 vCPUs do not carry 4x the compute of 8 on this host, and the ceiling
itself drifts run to run).  A real N->4N *executor* scale-up adds 4x
machines, the regime the north rule's >=0.8 targets; each run's ceiling
is the efficiency a perfectly-scaling job would measure in that run, so
each run is normalized by its OWN same-run ceiling.

## Summary

| run | ceiling | speedup 8->32 | raw eff | normalized eff |
|---|---|---|---|---|
"""
    for i, r in enumerate(runs):
        sp, eff, norm = _run_block(r)
        ceil_s = f"{r['ceiling']['ceiling']:.3f}" if r["ceiling"].get("ceiling") else "n/a"
        norm_s = f"**{norm:.2f}**" if norm is not None else "n/a"
        md += f"| {i + 1} | {ceil_s} | {sp:.2f}x | {eff:.2f} | {norm_s} |\n"
    med_s = f"{med_norm:.2f}" if med_norm is not None else "n/a"
    md += f"""
- **median normalized efficiency: {med_s}** (target >= 0.8);
  {n_ok}/{len(runs)} runs at >= 0.8 normalized
- verified edges: {runs[0]["r8"]["edges"]} — identical at every level of
  every run ({all(r["r8"]["edges"] == r["r32"]["edges"] == runs[0]["r8"]["edges"] for r in runs)}):
  the plan is deterministic; only the host varies.

## Per-run detail

"""
    for i, r in enumerate(runs):
        r8, r32, ceil = r["r8"], r["r32"], r["ceiling"]
        sp, eff, norm = _run_block(r)
        ceil_s = f"{ceil['ceiling']:.3f}" if ceil.get("ceiling") else "n/a"
        norm_s = f"**{norm:.2f}**" if norm is not None else "n/a"
        md += f"""### Run {i + 1} (ceiling {ceil_s})

| parallelism | images | signature s | block+verify s | images/sec | cold-run s | CC s (separate) |
|---|---|---|---|---|---|---|
| local[8]  (N)  | {r8["n_images"]} | {r8["sig_sec"]} | {r8["block_sec"]} | {r8["images_per_sec"]} | {r8["cold_sec"]} | {r8["cc_sec"]} |
| local[32] (4N) | {r32["n_images"]} | {r32["sig_sec"]} | {r32["block_sec"]} | {r32["images_per_sec"]} | {r32["cold_sec"]} | {r32["cc_sec"]} |

- speedup **{sp:.2f}x**, raw {eff:.2f}, normalized {norm_s}
- per-rep block spread: local[8] {[x["block"] for x in r8["reps"]]} s,
  local[32] {[x["block"] for x in r32["reps"]]} s
- raw: `{json.dumps({k: v for k, v in r8.items() if k != "reps"})}` /
  `{json.dumps({k: v for k, v in r32.items() if k != "reps"})}` /
  ceiling `{json.dumps(ceil)}`

"""
    if state["substr"]:
        md += """## Exact-substring tier (spans + blocked LCS-verified pairs)

Same two-parallelism protocol over a deterministic Spark-generated text
corpus (~230 chars/doc, 1 in 100 docs a planted near-copy sharing a ~210-char
prefix; `SUBSTR_WORKER` in tools/scaling_bench.py).  `spans` is the
linear Lee-et-al. L-gram path (explode -> groupBy -> join -> per-doc
window, 128-bit gram keys); `pairs` is the blocked path (gram blocking
through the salted/capped census -> suffix-automaton LCS verify on
candidates only).

| parallelism | docs | spans s | pairs s | docs/sec | cold s | pairs found |
|---|---|---|---|---|---|---|
"""
        for cores in sorted(state["substr"], key=int):
            s = state["substr"][cores]
            md += (
                f"| local[{cores}] | {s['n_docs']} | {s['spans_sec']} | {s['pairs_sec']} "
                f"| {s['docs_per_sec']} | {s['cold_sec']} | {s['n_pairs']} |\n"
            )
        if len(state["substr"]) == 2:
            lo, hi = (state["substr"][k] for k in sorted(state["substr"], key=int))
            sp = hi["docs_per_sec"] / lo["docs_per_sec"]
            last_ceil = runs[-1]["ceiling"].get("ceiling")
            norm_sub = f"~{sp / 4 / last_ceil:.2f}" if last_ceil else "n/a"
            ceil_sub = f"{last_ceil:.3f}" if last_ceil else "n/a"
            md += f"""
- speedup 8->32: **{sp:.2f}x**, raw efficiency {sp / 4:.2f}, normalized
  {norm_sub} against the nearest-in-time run ceiling
  ({ceil_sub})
- pair counts identical at both levels: {lo["n_pairs"] == hi["n_pairs"]}
- per-rep spread: local[8] spans {[x["spans"] for x in lo["reps"]]} s /
  pairs {[x["pairs"] for x in lo["reps"]]} s; local[32] spans
  {[x["spans"] for x in hi["reps"]]} s / pairs {[x["pairs"] for x in hi["reps"]]} s
"""
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write(md)


def main() -> None:
    n_base = int(os.environ.get("SCALING_IMAGES_BASE", "1000000"))
    n_docs = int(os.environ.get("SCALING_DOCS_BASE", "1000000"))
    reps = int(os.environ.get("SCALING_REPS", "3"))
    n_runs = int(os.environ.get("SCALING_RUNS", "3"))
    state = _load_state()

    # warm the image cache once (generation excluded from all runs)
    subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path.insert(0, {REPO!r}); "
         f"from bench import ensure_bench_images_parallel; "
         f"ensure_bench_images_parallel({n_base})"],
        cwd=REPO, check=True, timeout=7200,
    )
    # full protocol n_runs times; state file makes a crash resumable and
    # BENCH.md is rewritten after every completed unit of work
    interleave = os.environ.get("SCALING_INTERLEAVE", "0") == "1"
    while len(state["runs"]) < n_runs:
        i = len(state["runs"]) + 1
        print(f"=== full run {i}/{n_runs} (interleave={interleave})", flush=True)
        ceil = machine_ceiling()
        if interleave:
            r8, r32 = run_alternating(n_base, reps)
        else:
            r8 = run_worker(WORKER, 8, n_base, reps)
            r32 = run_worker(WORKER, 32, n_base, reps)
        state["runs"].append({"ceiling": ceil, "r8": r8, "r32": r32})
        _save_state(state)
        write_bench_md(state, reps)
        norm = _run_block(state["runs"][-1])[2]
        print(
            f"run {i} done: norm_eff="
            + (f"{norm:.2f}" if norm is not None else "n/a"),
            flush=True,
        )

    for cores in (8, 32):
        if str(cores) not in state["substr"]:
            print(f"=== substring bench local[{cores}]", flush=True)
            state["substr"][str(cores)] = run_worker(SUBSTR_WORKER, cores, n_docs, reps)
            _save_state(state)
            write_bench_md(state, reps)

    write_bench_md(state, reps)
    print(open(os.path.join(REPO, "BENCH.md")).read())


if __name__ == "__main__":
    main()
