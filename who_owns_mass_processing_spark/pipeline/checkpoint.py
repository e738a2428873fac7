"""Stage-table checkpoint catalog (read-or-compute + resume).

Reference analog: `load_read_write` (R/loaders.R:373-438) + the
skip-completed-stages planner (R/runner.R:24-41, R/utilities.R:233-336):
if a stage's table exists (and matches the run fingerprint), read it;
else compute and write it.  That is the reference's entire "optimizer",
and it is the backbone of our resumability contract (north_rule:
"resumable from Iceberg snapshot checkpoints with per-partition lineage
and metrics tables").

Implementation: the only backend is a parquet stage directory per
stage plus `_MANIFEST.json`, which carries the snapshot contract an
Iceberg table would: config fingerprint, stage name, row count, schema,
and a monotonically increasing snapshot counter.  A killed run
re-executes only stages whose manifest entry is missing or whose
fingerprint differs — byte-identical outputs are guaranteed because every
stage is deterministic (seeded hashes, stable orderings).
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession

# Driver threads that run ready stages: the widest level of the images
# pipeline's DAG (the two tiers, the exact-image edges and the partition
# metrics scan), so independent stages' jobs overlap and back-fill each
# other's tails.
_STAGE_THREADS = 4


def _parquet_dir_rows(path: str) -> int:
    """Exact row count of a written parquet directory from file footers —
    driver-side metadata reads, ZERO Spark jobs (replaces the per-stage
    `out.count()` job: at ~13 stages per pipeline run those count jobs
    alone were ~2 s of pure barrier overhead)."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


class StageCatalog:
    def __init__(self, spark: SparkSession, root: str, run_fingerprint: str):
        self.spark = spark
        self.root = root
        self.fingerprint = run_fingerprint
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_MANIFEST.json")
        self._manifest = self._load_manifest()
        # serializes manifest mutation + the swap section of write():
        # independent stages are computed concurrently on run()'s pool
        # of driver threads, and snapshot ids must stay strictly monotonic
        self._lock = threading.RLock()

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"fingerprint": self.fingerprint, "snapshot_seq": 0, "stages": {}}

    def _save_manifest(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_complete(self, stage: str) -> bool:
        entry = self._manifest["stages"].get(stage)
        return bool(entry and entry.get("fingerprint") == self.fingerprint)

    def read(self, stage: str) -> DataFrame:
        """Resume read.  The schema recorded at write time is passed to
        the reader, so a resumed stage opens with ZERO Spark jobs (no
        footer-read schema-inference job per stage)."""
        entry = self._manifest["stages"].get(stage)
        if entry and entry.get("schema_json"):
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(entry["schema_json"]))
            return self.spark.read.schema(schema).parquet(self._stage_path(stage))
        return self.spark.read.parquet(self._stage_path(stage))

    def write(self, stage: str, df: DataFrame) -> DataFrame:
        """Atomic stage overwrite: compute into a temp dir, mark the stage
        incomplete, then swap directories and re-add the manifest entry.
        A kill at ANY point leaves either (old data + old manifest entry)
        or (no manifest entry -> stage recomputes on resume) — never a
        manifest entry pointing at partial data (the killed-run resume
        contract; an Iceberg table would give this via snapshot commit,
        the parquet stage catalog gives it via rename)."""
        import shutil

        path = self._stage_path(stage)
        tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        # rows from the just-written footers (driver metadata, no job);
        # schema from the DataFrame we just wrote — the read-back below
        # reuses it, so the footer-inference job disappears too
        n_rows = _parquet_dir_rows(tmp)
        schema = df.schema
        with self._lock:
            # point of no return for the OLD data: invalidate first so a
            # kill mid-swap reads as "stage missing", not "stage complete"
            self.invalidate(stage)
            shutil.rmtree(path, ignore_errors=True)
            os.replace(tmp, path)
            out = self.spark.read.schema(schema).parquet(path)
            self._manifest["snapshot_seq"] += 1
            self._manifest["stages"][stage] = {
                "fingerprint": self.fingerprint,
                "snapshot_id": self._manifest["snapshot_seq"],
                "rows": n_rows,
                "schema": schema.simpleString(),
                # full schema for job-free resume reads (simpleString is
                # for the human-facing lineage table; it is not
                # round-trippable)
                "schema_json": json.dumps(schema.jsonValue()),
                "path": path,
            }
            self._save_manifest()
        return out

    def append(self, stage: str, df: DataFrame) -> DataFrame:
        """Truncate-and-append sink, append leg (S8; reference analog:
        the DBI::dbAppendTable path of load_read_write, R/loaders.R:373-438).
        Each append is a new snapshot: rows accumulate, the manifest
        records the running count and bumps the snapshot id, and readers
        of an existing complete stage see old+new rows.  First append on
        a missing stage creates it."""
        path = self._stage_path(stage)
        if self.is_complete(stage):
            df.write.mode("append").parquet(path)
            out = self.spark.read.parquet(path)
            self._manifest["snapshot_seq"] += 1
            entry = self._manifest["stages"][stage]
            entry["snapshot_id"] = self._manifest["snapshot_seq"]
            entry["rows"] = out.count()
            self._save_manifest()
            return out
        return self.write(stage, df)

    def rows(self, stage: str) -> int:
        """Row count from the stage manifest — zero Spark jobs.  Every
        write() records the count, so any completed stage answers from
        metadata; a full resume therefore never re-counts inputs."""
        return int(self._manifest["stages"][stage]["rows"])

    def read_or_compute(
        self,
        stage: str,
        compute: Callable[[], DataFrame],
        refresh: bool = False,
        upstream: tuple[str, ...] = (),
    ) -> DataFrame:
        """The reference's load_read_write semantics (R/loaders.R:373-438).

        `upstream` lists the stage names this stage consumes: if any of
        them is newer than this stage, the cached copy of THIS stage is
        stale (it was derived from different input data) and is
        recomputed too — the stale-downstream hazard the config
        fingerprint cannot catch.

        "Newer" is the manifest's snapshot_id, so staleness is DURABLE:
        snapshot ids are monotonic, so an upstream rewritten in this run
        outranks every dependant written before it, and a refresh run
        killed after an upstream's write but before this stage's write
        leaves the upstream with a higher id — a later plain resume then
        recomputes this stage instead of silently serving output derived
        from the OLD upstream data (ADVICE r3)."""
        if not refresh and self.is_complete(stage):
            stages = self._manifest["stages"]
            my_snap = stages[stage]["snapshot_id"]
            if all(u in stages and stages[u]["snapshot_id"] <= my_snap for u in upstream):
                return self.read(stage)
        return self.write(stage, compute())

    def run(
        self, stages: list[Callable[..., DataFrame]], refresh: bool = False
    ) -> dict[str, DataFrame]:
        """Run a declared stage list: each stage is a function named after
        its table whose parameters name the earlier stages it reads.  The
        parameters are the stage's `upstream`, so the staleness cascade is
        exactly what the compute reads.  Stages whose inputs are ready run
        concurrently on one pool of driver threads; a failed stage's
        exception surfaces here and its dependants never start."""
        inputs: dict[str, tuple[str, ...]] = {}
        for fn in stages:
            params = tuple(inspect.signature(fn).parameters)
            unknown = [p for p in params if p not in inputs]
            if unknown:
                raise ValueError(f"stage {fn.__name__} reads {unknown}: not an earlier stage")
            inputs[fn.__name__] = params
        out: dict[str, DataFrame] = {}
        todo, running = list(stages), {}
        with ThreadPoolExecutor(max_workers=_STAGE_THREADS) as pool:
            while todo or running:
                for fn in [f for f in todo if all(p in out for p in inputs[f.__name__])]:
                    todo.remove(fn)
                    name, params = fn.__name__, inputs[fn.__name__]
                    compute = functools.partial(fn, *(out[p] for p in params))
                    future = pool.submit(
                        self.read_or_compute, name, compute, refresh=refresh, upstream=params
                    )
                    running[future] = name
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for future in done:
                    out[running.pop(future)] = future.result()
        return out

    def invalidate(self, stage: str) -> None:
        self._manifest["stages"].pop(stage, None)
        self._save_manifest()

    def supersede(self, stage: str) -> None:
        """Retire a stage name the pipeline no longer produces (e.g. a
        schema-versioned rename left `<stage>` behind when `<stage>_v2`
        took over): drop the manifest entry AND the data directory, so
        lineage() never emits the stale row alongside the successor's
        on a pre-existing workdir."""
        import shutil

        if stage in self._manifest["stages"]:
            self.invalidate(stage)
        shutil.rmtree(self._stage_path(stage), ignore_errors=True)

    def lineage(self) -> list[dict]:
        """Stage lineage rows (stage, snapshot_id, rows, schema) — written
        to the `lineage` output table by the pipeline."""
        return [
            {"stage": s, **{k: v for k, v in e.items() if k not in ("path", "schema_json")}}
            for s, e in sorted(
                self._manifest["stages"].items(), key=lambda kv: kv[1]["snapshot_id"]
            )
        ]
