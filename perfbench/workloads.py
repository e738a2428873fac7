"""The benchmark's workloads and the checks that gate every pass.

Each workload is a closed loop with one client: one driver process on
local[nproc] runs a pass of operations through the engine's public entry
points, checks the outputs, and starts the next pass only when the
previous one has finished.

images_small  one pass = ``run_pipeline`` fresh, then ``second_round=True``,
              then a full resume, over ``synth`` images (n_base=1000).
text_queries  one pass = four ``__spark_entry__`` queries over a seeded
              sf0.1-shaped documents/embeddings corpus plus the caption
              leaf ``containment_pairs_lsh`` (bench.py's caption
              parameters), in a fixed order.

A run measures the first pass of a fresh session, as a batch job sees it:
one-time JVM and Python-worker start-up lands in the first operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
from contextlib import nullcontext

import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.host import Stopwatch

STAGES = (
    "ingest", "signatures", "caption_pairs", "image_pairs", "image_exact_edges",
    "partition_metrics_v2", "edges", "assignments", "clusters",
    "cluster_diagnostics", "networks",
)
# in pass order: the first query also carries the session's start-up cost
DOC_QUERIES = ("exact_dedup", "simhash_pairs", "minhash_lsh_pairs", "embedding_ann_lsh")
CAPTION_QUERIES = ("caption_containment_pairs",)
QUERIES = DOC_QUERIES + CAPTION_QUERIES
RECALL_MIN = 0.99


class NoTracer:
    """Stands in for spans.Tracer in the untraced run."""

    overhead_s = 0.0

    def span(self, name, **attrs):
        return nullcontext({})


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (tools/oracle_check.py semantics):
    sorted columns, floats rounded to 6 places, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype in ("float64", "float32"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def table_hash(df: pd.DataFrame) -> str:
    df = normalize(df)
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def read_dir(path: str) -> pd.DataFrame:
    """A Spark parquet output directory, read on the driver (no job)."""
    return pq.read_table(path).to_pandas()


class HashBook:
    """Output hashes per (workload, seed): every pass must reproduce the
    first, and a later run with the same seed must reproduce the run
    that recorded them."""

    def __init__(self, path: str):
        self.path = path
        self.known: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as f:
                self.known = json.load(f)
        self.dirty = False

    def check(self, key: str, digest: str) -> bool:
        if key not in self.known:
            self.known[key] = digest
            self.dirty = True
        return self.known[key] == digest

    def save(self) -> None:
        if self.dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.known, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)


class Workload:
    """Base: subclasses build inputs, load them, and run one pass.

    A pass returns {"ops": [(name, wall_s, cpu_s, ok)], "detail": {...}}."""

    def __init__(self, name: str, cfg: dict, seed: int, work: str, cache: str):
        self.name, self.cfg, self.seed = name, cfg, seed
        self.work, self.cache = work, cache
        tag = hashlib.sha256(json.dumps(cfg, sort_keys=True).encode()).hexdigest()[:8]
        self.hashes = HashBook(os.path.join(cache, f"hashes-{name}-{tag}-s{seed}.json"))
        self.tracer = NoTracer()
        self.problems: list[str] = []

    def fail(self, msg: str) -> bool:
        self.problems.append(msg)
        return False


class ImagesWorkload(Workload):
    OPS = 3  # fresh, second round, resume

    def prepare(self) -> None:
        from who_owns_mass_processing_spark.config import DedupeConfig

        self.dcfg = DedupeConfig()
        self.corpus = inputs.images_corpus(self.cache, self.cfg["n_base"], self.seed)
        self.ids = set(pq.read_table(self.corpus["images"], columns=["image_id"])
                       .column(0).to_pylist())
        golden = pd.read_parquet(self.corpus["golden_pairs"])
        self.dup = golden[golden.is_dup][["a", "b"]]
        # a hard negative may still be a dup (caption Jaccard drawn above
        # the threshold) or join one transitively: only pairs the golden
        # clustering keeps apart must stay apart
        gc = pd.read_parquet(self.corpus["golden_assignments"]).set_index("image_id").cluster_id
        neg = golden[golden.kind == "hardneg"]
        self.hardneg = neg[gc.reindex(neg.a).values != gc.reindex(neg.b).values][["a", "b"]]
        self.meta = pq.read_table(
            self.corpus["images"], columns=["image_id", "bytes", "fmt", "caption", "phash"]
        ).to_pandas().set_index("image_id")

    def _edge_ok(self, a: str, b: str, tier: str) -> bool:
        """Re-verify one engine edge exactly, from the input rows."""
        from who_owns_mass_processing_spark import codecs
        from who_owns_mass_processing_spark.synth import jaccard, shingle_set

        cfg, m = self.dcfg, self.meta
        if tier == "image_exact":
            return m.bytes[a] == m.bytes[b]
        if tier == "caption":
            k = cfg.shingle_k
            return jaccard(shingle_set(m.caption[a], k), shingle_set(m.caption[b], k)) >= (
                cfg.jaccard_threshold - 1e-12)
        if codecs.hamming64(int(m.phash[a]), int(m.phash[b])) > cfg.hamming_radius:
            return False
        if m.fmt[a] not in ("jpeg", "qjp") and m.fmt[b] not in ("jpeg", "qjp"):
            return True  # lossless pixels: the Hamming check decides
        pa, pb = (codecs.decode_image(m.bytes[x], m.fmt[x]) for x in (a, b))
        return codecs.psnr(pa, pb) >= cfg.psnr_min_db

    def _false_merges(self, merged: pd.DataFrame, wd: str) -> int:
        """Merged hard negatives that no chain of exactly re-verified
        engine edges connects.  The golden clustering misses chains through
        captions the generator did not pair on purpose (a stop caption,
        its byte-identical copy, a paraphrase at Jaccard 0.8), so a merge
        is false only when no such chain exists."""
        if merged.empty:
            return 0
        adj: dict[str, list[tuple[str, str]]] = {}
        for a, b, tier in read_dir(os.path.join(wd, "edges"))[["a", "b", "tier"]].itertuples(
                index=False):
            adj.setdefault(a, []).append((b, tier))
            adj.setdefault(b, []).append((a, tier))
        false = 0
        for a, b in merged.itertuples(index=False):
            seen, todo = {a}, [a]
            while todo and b not in seen:
                x = todo.pop()
                for y, tier in adj.get(x, ()):
                    if y not in seen and self._edge_ok(x, y, tier):
                        seen.add(y)
                        todo.append(y)
            false += b not in seen
        return false

    def load(self, spark) -> None:
        self.spark = spark
        self.images = spark.read.parquet(self.corpus["images"])
        self.rows = self.images.count()

    def _check_assignments(self, wd: str) -> tuple[bool, float]:
        a = read_dir(os.path.join(wd, "assignments"))
        ok = True
        if len(a) != len(self.ids) or not a.image_id.is_unique or set(a.image_id) != self.ids:
            ok = self.fail("assignments: not every image assigned exactly once")
        cl = a.set_index("image_id").cluster_id
        same = (cl.reindex(self.dup.a).values == cl.reindex(self.dup.b).values)
        recall = float(same.mean()) if len(self.dup) else 1.0
        if recall < RECALL_MIN:
            ok = self.fail(f"assignments: dup-pair recall {recall:.4f} < {RECALL_MIN}")
        hn = self.hardneg
        merged = self._false_merges(
            hn[cl.reindex(hn.a).values == cl.reindex(hn.b).values], wd)
        if merged:
            ok = self.fail(f"assignments: {merged} hard-negative pairs falsely merged")
        if not self.hashes.check("assignments", table_hash(a)):
            ok = self.fail("assignments: hash differs from the first pass")
        return ok, recall

    def run_pass(self, i: int) -> dict:
        from who_owns_mass_processing_spark.pipeline.run import run_pipeline
        from perfbench.spans import latest_job_id

        sc = self.spark.sparkContext
        wd = os.path.join(self.work, "stages")
        shutil.rmtree(wd, ignore_errors=True)
        tr = self.tracer
        ops = []

        with Stopwatch() as sw, tr.span("pipeline.run", call="fresh"):
            run_pipeline(self.spark, self.images, wd, self.dcfg)
        ok, recall = self._check_assignments(wd)
        ops.append(("pipeline", sw.wall, sw.cpu, ok))

        with Stopwatch() as sw, tr.span("pipeline.run", call="second_round"):
            run_pipeline(self.spark, self.images, wd, self.dcfg, second_round=True)
        ok = self.hashes.check("networks", table_hash(read_dir(os.path.join(wd, "networks"))))
        ops.append(("second_round", sw.wall, sw.cpu, ok or self.fail("networks: hash differs")))

        with open(os.path.join(wd, "_MANIFEST.json")) as f:
            before = f.read()
        j0 = latest_job_id(sc)
        with Stopwatch() as sw, tr.span("pipeline.run", call="resume"):
            run_pipeline(self.spark, self.images, wd, self.dcfg, second_round=True)
        jobs = latest_job_id(sc) - j0
        with open(os.path.join(wd, "_MANIFEST.json")) as f:
            same = f.read() == before
        ok = jobs == 0 and same
        if not ok:
            self.fail(f"resume: {jobs} Spark jobs, manifest unchanged={same}")
        ops.append(("resume", sw.wall, sw.cpu, ok))
        return {"ops": ops, "detail": {"recall": recall, **self._work_counts(wd)}}

    @staticmethod
    def _work_counts(wd: str) -> dict:
        """Band rows, largest bucket and verified pairs of the fresh run,
        from the stage tables it wrote."""
        band_rows, max_bucket = 0, 0
        for t in ("caption_band_skew", "image_band_skew"):
            skew = read_dir(os.path.join(wd, t))
            band_rows += int(skew["rows"].sum())
            max_bucket = max(max_bucket, int(skew["max_bucket"].max()))
        with open(os.path.join(wd, "_MANIFEST.json")) as f:
            stages = json.load(f)["stages"]
        pairs = stages["caption_pairs"]["rows"] + stages["image_pairs"]["rows"]
        return {"band_rows": band_rows, "max_bucket": max_bucket, "verified_pairs": pairs}


class TextWorkload(Workload):
    OPS = len(QUERIES)

    def prepare(self) -> None:
        c = self.cfg
        self.docs = inputs.docs_corpus(self.cache, c["n_docs"], c["n_vecs"], self.seed)
        self.captions_path = inputs.images_corpus(
            self.cache, c["caption_base"], self.seed)["images"]

    def load(self, spark) -> None:
        import __spark_entry__
        from who_owns_mass_processing_spark.config import DedupeConfig
        from who_owns_mass_processing_spark.operators import dedupe

        self.spark = spark
        self.entry = __spark_entry__.queries()
        self.dedupe = dedupe
        self.dcfg = DedupeConfig()
        self.rows = sum(pq.ParquetFile(p).metadata.num_rows for p in (
            os.path.join(self.docs, "documents.parquet"),
            os.path.join(self.docs, "embeddings.parquet"),
            self.captions_path,
        ))
        g = pd.read_parquet(os.path.join(self.docs, "golden_pairs.parquet"))
        self.golden = set(zip(g.a, g.b))

    def build(self, name: str):
        if name in DOC_QUERIES:
            return self.entry[name](self.spark, self.docs)
        caps = self.spark.read.parquet(self.captions_path).select("image_id", "caption")
        pairs, _ = self.dedupe.containment_pairs_lsh(
            caps, "image_id", "caption", self.dcfg, threshold=0.9, max_size_ratio=1.5)
        return pairs

    def _check(self, name: str, out: pd.DataFrame, detail: dict) -> bool:
        ok = self.hashes.check(f"q.{name}", table_hash(out)) or self.fail(
            f"{name}: hash differs")
        if name == "minhash_lsh_pairs":
            found = set(zip(out.a, out.b))
            recall = len(self.golden & found) / len(self.golden) if self.golden else 1.0
            detail["recall"] = recall
            if recall < RECALL_MIN:
                ok = self.fail(f"{name}: golden-pair recall {recall:.4f} < {RECALL_MIN}")
        return ok

    def run_pass(self, i: int) -> dict:
        tr = self.tracer
        ops, detail = [], {}
        for name in QUERIES:
            out = os.path.join(self.work, "out", name)
            with Stopwatch() as sw, tr.span(f"q.{name}"):
                with tr.span(f"q.{name}.plan"):
                    df = self.build(name)
                with tr.span(f"q.{name}.exec"):
                    df.write.mode("overwrite").parquet(out)
            ops.append((name, sw.wall, sw.cpu, self._check(name, read_dir(out), detail)))
        return {"ops": ops, "detail": detail}


WORKLOADS = {
    "images_small": (ImagesWorkload, {"n_base": 1000}),
    "text_queries": (TextWorkload, {"n_docs": 500, "n_vecs": 500, "caption_base": 500}),
    # tiny variants for the self-test (test_selftest.py), not benchmarked
    "images_tiny": (ImagesWorkload, {"n_base": 60}),
    "text_tiny": (TextWorkload, {"n_docs": 80, "n_vecs": 80, "caption_base": 60}),
}


def median(xs):
    return statistics.median(xs) if xs else 0.0
