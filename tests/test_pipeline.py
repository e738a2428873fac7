"""End-to-end images pipeline: golden recall gate, per-row invariants,
resume/checkpoint protocol."""
import pandas as pd
import pytest

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.pipeline.checkpoint import StageCatalog
from who_owns_mass_processing_spark.pipeline.run import run_pipeline


@pytest.fixture(scope="module")
def pipeline_out(spark, synth_small, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("stages"))
    images = spark.read.parquet(synth_small["images"])
    out = run_pipeline(spark, images, workdir, DedupeConfig())
    return out, workdir, synth_small


def test_recall_gate(pipeline_out):
    """north_rule acceptance: dup-pair recall >= 0.99 vs golden pairs."""
    out, _, synth = pipeline_out
    assigns = out["assignments"].toPandas().set_index("image_id").cluster_id
    golden = pd.read_parquet(synth["golden_pairs"])
    dup = golden[golden.is_dup]
    hits = sum(assigns[r.a] == assigns[r.b] for r in dup.itertuples())
    assert hits / max(len(dup), 1) >= 0.99, f"recall {hits}/{len(dup)}"


def test_no_hard_negative_merges(pipeline_out):
    out, _, synth = pipeline_out
    assigns = out["assignments"].toPandas().set_index("image_id").cluster_id
    golden = pd.read_parquet(synth["golden_pairs"])
    neg = golden[golden.kind == "hardneg"]
    merged = sum(assigns[r.a] == assigns[r.b] for r in neg.itertuples())
    assert merged == 0


def test_every_image_assigned_exactly_once(pipeline_out):
    out, _, synth = pipeline_out
    assigns = out["assignments"].toPandas()
    images = pd.read_parquet(synth["images"])
    assert sorted(assigns.image_id) == sorted(images.image_id)
    assert assigns.image_id.is_unique


def test_cluster_table_consistent(pipeline_out):
    out, _, _ = pipeline_out
    clusters = out["clusters"].toPandas()
    assigns = out["assignments"].toPandas()
    sizes = assigns.groupby("cluster_id").size()
    got = clusters.set_index("cluster_id")["size"]
    assert (got.sort_index() == sizes.sort_index()).all()
    # exemplar is the minimum member id (deterministic canonical pick)
    min_member = assigns.groupby("cluster_id").image_id.min()
    assert (clusters.set_index("cluster_id").exemplar_id.sort_index() == min_member.sort_index()).all()


def test_cluster_diagnostics_consistent(pipeline_out):
    """Over-merge audit table (R/summarizers.R:57-92 analog): every
    cluster appears once, sizes agree with assignments, tier counts sum
    to n_edges, singletons carry 0 edges / NULL min sim, and every
    min_intra_sim is a valid [0,1] weakest-link value."""
    out, _, _ = pipeline_out
    diag = out["cluster_diagnostics"].toPandas()
    assigns = out["assignments"].toPandas()

    sizes = assigns.groupby("cluster_id").size()
    got = diag.set_index("cluster_id")["size"].sort_index()
    assert (got == sizes.sort_index()).all()
    assert diag.cluster_id.is_unique

    tier_sum = diag[["n_edges_caption", "n_edges_image", "n_edges_image_exact"]].sum(axis=1)
    assert (tier_sum == diag.n_edges).all()

    singles = diag[diag["size"] == 1]
    assert (singles.n_edges == 0).all()
    assert singles.min_intra_sim.isna().all()
    assert singles.edge_density.isna().all()

    multi = diag[diag["size"] > 1]
    assert (multi.n_edges > 0).all()  # CC clusters exist only via edges
    assert multi.min_intra_sim.between(0.0, 1.0).all()
    assert (multi.n_distinct_images <= multi["size"]).all()
    assert (multi.edge_density > 0).all()


def test_resume_is_byte_identical_and_fast(spark, pipeline_out):
    out, workdir, synth = pipeline_out
    images = spark.read.parquet(synth["images"])
    out2 = run_pipeline(spark, images, workdir, DedupeConfig())
    a1 = out["assignments"].toPandas().sort_values("image_id").reset_index(drop=True)
    a2 = out2["assignments"].toPandas().sort_values("image_id").reset_index(drop=True)
    assert a1.equals(a2)


def test_resume_after_stage_kill(spark, pipeline_out):
    """Invalidate a mid-pipeline stage (simulating a kill between stages);
    rerun recomputes only from there and reproduces identical output."""
    out, workdir, synth = pipeline_out
    # materialize BEFORE the rerun: the overwrite invalidates lazy handles
    # (an inherent property of overwrite-in-place parquet; Iceberg snapshots
    # would keep the old snapshot readable)
    a1 = out["assignments"].toPandas().sort_values("image_id").reset_index(drop=True)
    cfg = DedupeConfig()
    cat = StageCatalog(spark, workdir, cfg.fingerprint())
    for stage in ("image_pairs", "edges", "assignments", "clusters", "metrics"):
        cat.invalidate(stage)
    images = spark.read.parquet(synth["images"])
    out2 = run_pipeline(spark, images, workdir, cfg)
    a2 = out2["assignments"].toPandas().sort_values("image_id").reset_index(drop=True)
    assert a1.equals(a2)


def test_refresh_cascade_follows_stage_inputs(spark, pipeline_out):
    """The staleness cascade is derived from each stage's parameters:
    recomputing `signatures` re-runs exactly the stages that read it,
    directly or transitively, plus the caption tier's skew side output,
    and leaves the image tier's tables alone."""
    import json
    import os

    _, workdir, synth = pipeline_out
    cfg = DedupeConfig()

    def assignments():
        a = pd.read_parquet(os.path.join(workdir, "assignments"))
        return a.sort_values("image_id").reset_index(drop=True)

    def snapshot_ids():
        with open(os.path.join(workdir, "_MANIFEST.json")) as f:
            return {s: e["snapshot_id"] for s, e in json.load(f)["stages"].items()}

    before, a1 = snapshot_ids(), assignments()
    StageCatalog(spark, workdir, cfg.fingerprint()).invalidate("signatures")
    run_pipeline(spark, spark.read.parquet(synth["images"]), workdir, cfg)
    after = snapshot_ids()
    changed = {s for s in after if after[s] != before.get(s)}
    assert changed == {
        "signatures", "caption_pairs", "caption_band_skew", "edges",
        "assignments", "clusters", "cluster_diagnostics", "metrics",
    }
    for kept in ("ingest", "image_pairs", "image_exact_edges", "image_band_skew",
                 "partition_metrics_v2"):
        assert after[kept] == before[kept]
    assert a1.equals(assignments())


def test_full_resume_runs_zero_jobs(spark, pipeline_out):
    """A fully-resumed run must not launch a single Spark job: row
    counts come from the stage manifest, tables are opened lazily (the
    round-2 defect was one unconditional ingest count per resume)."""
    out, workdir, synth = pipeline_out
    images = spark.read.parquet(synth["images"])
    sc = spark.sparkContext
    sc.setJobGroup("resume_zero_jobs", "full-resume job audit")
    try:
        run_pipeline(spark, images, workdir, DedupeConfig())
        jobs = sc.statusTracker().getJobIdsForGroup("resume_zero_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 0, f"resume launched {len(jobs)} jobs"


def test_refresh_recomputes_mutated_input(spark, tmp_path):
    """--refresh contract (dead-flag fix): same workdir, input data
    mutated underneath.  Without refresh the run must resume (stale by
    design — the fingerprint covers config, not data); with refresh
    every stage recomputes and the output reflects the new input, and
    downstream stages are not served from stale checkpoints."""
    from who_owns_mass_processing_spark.synth import write_images_parquet

    d1 = str(tmp_path / "in1")
    d2 = str(tmp_path / "in2")
    workdir = str(tmp_path / "stages")
    ip1, _, _ = write_images_parquet(d1, n_base=40, seed=3)
    ip2, _, _ = write_images_parquet(d2, n_base=55, seed=4)

    out1 = run_pipeline(spark, spark.read.parquet(ip1), workdir, DedupeConfig())
    n1 = out1["assignments"].count()

    # input "mutates": the same logical source now holds different data
    out_stale = run_pipeline(spark, spark.read.parquet(ip2), workdir, DedupeConfig())
    assert out_stale["assignments"].count() == n1  # resumed, documented hazard

    out2 = run_pipeline(
        spark, spark.read.parquet(ip2), workdir, DedupeConfig(), refresh=True
    )
    n2 = out2["assignments"].count()
    assert n2 != n1
    assert sorted(
        r.image_id for r in out2["assignments"].select("image_id").collect()
    ) == sorted(r.image_id for r in spark.read.parquet(ip2).select("image_id").collect())


def test_upstream_recompute_cascades_downstream(spark, tmp_path):
    """Stale-downstream hazard: if an upstream stage recomputes (here:
    its manifest entry is missing) while downstream entries are green,
    downstream must recompute too — its cached data was derived from
    different input."""
    from who_owns_mass_processing_spark.synth import write_images_parquet

    d1 = str(tmp_path / "in1")
    d2 = str(tmp_path / "in2")
    workdir = str(tmp_path / "stages")
    ip1, _, _ = write_images_parquet(d1, n_base=40, seed=5)
    ip2, _, _ = write_images_parquet(d2, n_base=55, seed=6)
    cfg = DedupeConfig()
    run_pipeline(spark, spark.read.parquet(ip1), workdir, cfg)

    # simulate: only the ROOT stage is invalidated, downstream all green
    cat = StageCatalog(spark, workdir, cfg.fingerprint())
    cat.invalidate("ingest")
    out = run_pipeline(spark, spark.read.parquet(ip2), workdir, cfg)
    got = sorted(r.image_id for r in out["assignments"].select("image_id").collect())
    want = sorted(r.image_id for r in spark.read.parquet(ip2).select("image_id").collect())
    assert got == want  # downstream did NOT serve the stale 40-base clusters


def test_refresh_killed_mid_cascade_then_plain_resume(spark, tmp_path):
    """Durable staleness (ADVICE r3): a refresh run crashes after an
    UPSTREAM stage's write but before downstream writes.  The in-process
    computed_this_run set dies with the crashed process; the manifest
    snapshot ids must carry the cascade, so a later PLAIN resume still
    recomputes downstream instead of serving checkpoints derived from
    the old upstream data."""
    from who_owns_mass_processing_spark.synth import write_images_parquet

    d1 = str(tmp_path / "in1")
    d2 = str(tmp_path / "in2")
    workdir = str(tmp_path / "stages")
    ip1, _, _ = write_images_parquet(d1, n_base=40, seed=7)
    ip2, _, _ = write_images_parquet(d2, n_base=55, seed=8)
    cfg = DedupeConfig()
    run_pipeline(spark, spark.read.parquet(ip1), workdir, cfg)

    # simulate the killed refresh: a FRESH catalog (new process) rewrites
    # only the root stage from the new input, then "crashes"
    from pyspark.sql import functions as F

    cat = StageCatalog(spark, workdir, cfg.fingerprint())
    new_images = spark.read.parquet(ip2)
    cat.write(
        "ingest",
        new_images.select(
            "image_id", "fmt", "caption", "phash",
            F.sha2(F.col("bytes"), 256).alias("byte_fp"),
        ),
    )

    # plain resume (refresh=False) in yet another fresh process
    out = run_pipeline(spark, new_images, workdir, cfg)
    got = sorted(r.image_id for r in out["assignments"].select("image_id").collect())
    want = sorted(r.image_id for r in new_images.select("image_id").collect())
    assert got == want  # downstream recomputed from the refreshed ingest


def test_skew_metrics_do_not_recompute_census(spark):
    """VERDICT r3 #4: materializing the skew-metrics table must not
    re-run the banding aggregation over the raw band table — metrics
    derive from the checkpointed dup census plus one shuffle-free
    count.  Pinned on the optimized plan: no Aggregate keyed on
    (band_id, band_hash) may appear in the metrics query."""
    import pandas as pd

    from who_owns_mass_processing_spark.operators.blocking import candidate_pairs

    rows = [(f"h{i}", 0, 7777) for i in range(30)]
    rows += [(f"c{i}", 1, 1000 + i // 2) for i in range(6)]
    rows += [(f"s{i}", 2, 5000 + i) for i in range(4)]  # singletons
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "band_id", "band_hash"]))
    _pairs, metrics = candidate_pairs(df, "id", cap=5, hard_cap=10**6)

    plan = metrics._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate [band_id" not in plan, plan
    m = {r.bucket_class: r for r in metrics.collect()}
    # singleton buckets still counted as "kept" (parity with the old
    # full-census rollup): 3 dup-cold buckets + 4 singletons
    assert m["kept"].buckets == 3 + 4 and m["kept"].rows == 6 + 4
    assert m["salted"].buckets == 1 and m["salted"].rows == 30


def test_config_change_invalidates_checkpoints(spark, pipeline_out):
    out, workdir, synth = pipeline_out
    cat = StageCatalog(spark, workdir, DedupeConfig(jaccard_threshold=0.9).fingerprint())
    assert not cat.is_complete("assignments")


def test_lineage_records_all_stages(pipeline_out):
    out, _, _ = pipeline_out
    lineage = out["lineage"].toPandas()
    for stage in ("ingest", "signatures", "caption_pairs", "image_pairs",
                  "edges", "assignments", "clusters"):
        assert stage in set(lineage.stage)
    assert lineage.snapshot_id.is_unique


def test_phash_input_column_matches_recomputed(spark, synth_small):
    """Per-row invariant: generator-provided phash == UDF-recomputed phash
    from decoded bytes (input_hint parity check)."""
    from pyspark.sql import functions as F

    from who_owns_mass_processing_spark.functions.images import image_meta_udf

    images = spark.read.parquet(synth_small["images"])
    meta = image_meta_udf()
    bad = (
        images.withColumn("m", meta(F.col("bytes")))
        .where(
            (F.col("m.phash") != F.col("phash"))
            | (F.col("m.w") != F.col("w"))
            | (F.col("m.h") != F.col("h"))
        )
        .count()
    )
    assert bad == 0


# the networks label is the min typed group id, so it must hold under
# ids whose byte order differs from their case-folded or code-unit order
_ID_PREFIXES = ("Ä", "a", "Z", "é", "b_", "ß")


@pytest.mark.parametrize("ids", ["ascii", "mixed_utf8"])
def test_second_round_networks_agree_with_tier_union(
    spark, synth_small, tmp_path_factory, monkeypatch, ids
):
    """C7: the second round's `networks` table equals the reference-shaped
    network_round over (caption_cluster, image_cluster) group ids
    (dedupe_network, R/deduplicaters.R:860-930) row for row, and so
    induces the tier-union partition of `assignments`.  It is read off
    `assignments`, so a second-round run calls CC twice (assignments,
    tier_clusters).  Each tier's clusters match the union-find oracle
    over that tier's edges."""
    from pyspark.sql import functions as F

    from who_owns_mass_processing_spark.operators import network
    from who_owns_mass_processing_spark.operators.connected_components import (
        connected_components,
    )
    from tests.oracles import components_py
    from who_owns_mass_processing_spark.operators.network import network_round
    from who_owns_mass_processing_spark.pipeline import run

    calls = []

    def recording_cc(*args, **kwargs):
        calls.append(args)
        return connected_components(*args, **kwargs)

    monkeypatch.setattr(run, "connected_components", recording_cc)
    monkeypatch.setattr(network, "connected_components", recording_cc)
    workdir = str(tmp_path_factory.mktemp("stages_c7"))
    images = spark.read.parquet(synth_small["images"])
    if ids == "mixed_utf8":
        prefix = F.element_at(
            F.array(*map(F.lit, _ID_PREFIXES)),
            (F.pmod(F.xxhash64("image_id"), F.lit(len(_ID_PREFIXES))) + 1).cast("int"),
        )
        images = images.withColumn("image_id", F.concat(prefix, F.upper("image_id")))
    out = run_pipeline(spark, images, workdir, DedupeConfig(), second_round=True)
    assert len(calls) == 2  # assignments, tier_clusters

    want = network_round(out["tier_clusters"], ["caption_cluster", "image_cluster"])
    assert out["networks"].columns == want.columns
    assert sorted(map(tuple, out["networks"].collect())) == sorted(
        map(tuple, want.collect())
    )

    rows = out["networks"].toPandas().set_index("image_id")
    image_ids = list(rows.index)

    def oracle(*tables):
        pairs = [(r.a, r.b) for t in tables for r in out[t].select("a", "b").collect()]
        return components_py(pairs, image_ids)

    assert rows.caption_cluster.to_dict() == oracle("caption_pairs")
    assert rows.image_cluster.to_dict() == oracle("image_pairs", "image_exact_edges")

    assigns = out["assignments"].toPandas().set_index("image_id").cluster_id
    nets = rows.network_id

    def parts(s):
        inv = {}
        for k, v in s.items():
            inv.setdefault(v, set()).add(k)
        return {frozenset(g) for g in inv.values()}

    assert parts(assigns) == parts(nets)
