"""The flagship end-to-end pipeline over the `images` table.

Stage DAG (each stage a checkpointed table — SURVEY.md §3 target
lifecycle; reference analog: the load -> proc -> dedupe staged run with
materialization barriers, R/runner.R:1-41).  Each stage is a function
named after its table whose parameters name the stages it reads;
`StageCatalog.run` schedules the list and derives the refresh cascade
from those parameters.

  ingest          project (image_id, fmt, caption, phash, byte_fp =
                  sha256(bytes)); `bytes` itself is NOT
                  carried forward (scale rule: payload never shuffles)
  signatures      caption fingerprint + shingle codes + MinHash (one
                  Arrow pass)
  caption_pairs   `lsh_near_dup_edges`: one representative per caption
                  fingerprint -> LSH bands -> salted candidates -> exact
                  Jaccard >= tau, plus star edges within a fingerprint
  image_exact_edges  star edges within a byte hash (`exact_fingerprint_edges`)
  image_pairs     one representative per byte hash -> pHash byte-bands ->
                  candidates -> bit_count Hamming <= r -> PSNR >= 40 dB
                  decoded-pixel verify for lossy pairs (re-joins `bytes`
                  for only that pair subset)
  edges           caption tier UNION image tiers (dedupe_network analog,
                  R/deduplicaters.R:248-288: two similarity keys fused)
  assignments     connected components + singleton fallback
  clusters        exemplar = min image_id, modal caption, size
  metrics         band-skew classes + per-stage row counts (lineage)

With `second_round`:

  tier_clusters   (image_id, caption_cluster, image_cluster): each tier's
                  components, from one CC over prefix-tagged tier edges
  networks        tier_clusters + network_id = "caption_cluster=" +
                  assignments.cluster_id: the label a CC over the typed
                  (caption_cluster, image_cluster) group ids would give
                  (`operators.network.network_round`, the test oracle),
                  read off `assignments` instead of computed again
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.operators import dedupe
from who_owns_mass_processing_spark.operators.blocking import hamming_pairs
from who_owns_mass_processing_spark.operators.canonical import cluster_exemplars, with_singletons
from who_owns_mass_processing_spark.operators.connected_components import connected_components
from who_owns_mass_processing_spark.operators.dedupe import minhash_signatures
from who_owns_mass_processing_spark.operators.verify import verify_psnr
from who_owns_mass_processing_spark.pipeline.checkpoint import StageCatalog


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    workdir: str,
    cfg: DedupeConfig | None = None,
    refresh: bool = False,
    second_round: bool = False,
) -> dict[str, DataFrame]:
    cfg = cfg or DedupeConfig()
    cat = StageCatalog(spark, workdir, cfg.fingerprint())

    # --- ingest: strip payload immediately; byte fingerprint for the
    # exact-image tier rides along (32 B vs 100 KB payload) -----------------
    def ingest() -> DataFrame:
        return images.select(
            "image_id", "fmt", "caption", "phash",
            F.sha2(F.col("bytes"), 256).alias("byte_fp"),
        )

    def signatures(ingest) -> DataFrame:
        return minhash_signatures(ingest, "image_id", "caption", cfg)

    # --- caption tier ---------------------------------------------------------
    # `lsh_near_dup_edges`, the edge list the `dedup_cc_assignments`
    # query clusters: LSH over distinct-fingerprint representatives only
    # (identical captions never enter banding — their mega-buckets are
    # pure fan-out), plus linear star edges for the exact-dup families.
    # The row count comes from the stage manifest: zero jobs.
    def caption_pairs(ingest, signatures) -> DataFrame:
        edges, skew = dedupe.lsh_near_dup_edges(
            signatures, "image_id", cfg, corpus_rows=cat.rows("ingest")
        )
        cat.write("caption_band_skew", skew)
        return edges.withColumn("tier", F.lit("caption"))

    # --- image tier -----------------------------------------------------------
    # The caption tier's two operators keyed on sha256(bytes): byte-
    # identical images (exact web dups, the dominant dup class) are
    # connected by LINEAR star edges, and only one representative per
    # byte group enters pHash blocking + PSNR.  Byte identity implies
    # pixel identity, so rep-level Hamming/PSNR verdicts are exact for
    # every member (same components, ~0 payload decode for dup families).
    def image_exact_edges(ingest) -> DataFrame:
        return (
            dedupe.exact_fingerprint_edges(ingest, "image_id", "byte_fp")
            .select("a", "b")
            .withColumn("tier", F.lit("image_exact"))
        )

    def image_pairs(ingest) -> DataFrame:
        from who_owns_mass_processing_spark.functions.images import phash_combo_bands
        from who_owns_mass_processing_spark.operators.blocking import decode_pair_ids

        # banding + Hamming verify ride the representatives' 8-byte
        # surrogate id (VERDICT r4 #1: band/cell/pair rows carried the
        # string image_id — the block phase's dominant shuffle bytes)
        reps = dedupe.representatives(
            ingest.select("image_id", "byte_fp", "phash"), "image_id", "byte_fp"
        )
        bands = phash_combo_bands(
            reps, "phash", "_sid",
            n_bands=cfg.phash_bands, radius=cfg.hamming_radius,
        )
        # Hamming check fused into pair generation: failing candidates are
        # never materialized (the multi-index background-collision volume
        # otherwise dwarfs the true-pair count)
        cands, skew = hamming_pairs(
            bands, "_sid", "phash", cfg.hamming_radius,
            cap=cfg.band_bucket_cap, hard_cap=cfg.stop_band_threshold(cat.rows("ingest")),
        )
        cat.write("image_band_skew", skew)
        # cands carries the fused Hamming distance — no feature
        # re-joins (guide §2.4; value emitted by hamming_pairs)
        ham = decode_pair_ids(cands, reps.select("_sid", "image_id"), "image_id")
        # pin the verified pair list: verify_psnr references it for the
        # lossy tagging, the blob-id set, AND the passthrough branch, and
        # the final output joins it again — without a lineage cut each
        # reference re-ran the whole banding+pair-gen chain inside the
        # stage write (the plan ends in a projection, so ReuseExchange
        # never dedups it).  Bounded: verified pairs only.
        ham = ham.localCheckpoint(eager=True)
        # lossy pairs additionally need the decoded-pixel PSNR gate; the
        # bytes join touches only candidate pairs that already passed Hamming
        psnr_ok = verify_psnr(
            ham.select("a", "b"), images.select("image_id", "bytes", "fmt"),
            "image_id", "bytes", "fmt", cfg.psnr_min_db,
        )
        return (
            ham.join(psnr_ok.select("a", "b", "psnr"), ["a", "b"])
            .withColumn("tier", F.lit("image"))
        )

    # The stage name is VERSIONED: the output schema changed in round 2
    # (partition_id int -> src_file string); an unversioned name would
    # silently resume the old-schema checkpoint.
    def partition_metrics_v2() -> DataFrame:
        """Per-partition input metrics (north_rule: per-partition lineage
        + metrics): rows + payload bytes per input unit — builtins only;
        decode-failure accounting lives in functions.images.
        decode_stats_map for the audit path.

        For file-backed inputs the unit is the SOURCE FILE
        (`_metadata.file_path` — durable lineage that survives re-reads);
        for non-file inputs it falls back to the scan partition id."""
        try:
            src = images.select(F.col("_metadata.file_path").alias("src_file"), "bytes")
        except Exception:  # non-file source: no _metadata column
            src = images.select(
                F.spark_partition_id().cast("string").alias("src_file"), "bytes"
            )
        return src.groupBy("src_file").agg(
            F.count("*").alias("rows"), F.sum(F.length("bytes")).alias("payload_bytes")
        )

    # --- edges + clustering ---------------------------------------------------
    def edges(caption_pairs, image_pairs, image_exact_edges) -> DataFrame:
        return (
            caption_pairs.select("a", "b", "tier")
            .unionByName(image_pairs.select("a", "b", "tier"))
            .unionByName(image_exact_edges.select("a", "b", "tier"))
        )

    def assignments(ingest, edges) -> DataFrame:
        cc = connected_components(edges.select("a", "b").distinct())
        return with_singletons(ingest, "image_id", cc).withColumnRenamed(
            "node", "image_id"
        ).withColumnRenamed("component", "cluster_id")

    def clusters(ingest, assignments) -> DataFrame:
        return cluster_exemplars(
            assignments.withColumnRenamed("image_id", "node").withColumnRenamed(
                "cluster_id", "component"
            ),
            ingest,
            "image_id",
            "caption",
        )

    # --- per-cluster over-merge diagnostics -----------------------------------
    # Reference analog: the over-inclusion audit summarizers
    # (R/summarizers.R:57-92, README.md:117, DICTIONARY.md:88-118).
    # Tier similarities are mapped onto one [0,1] scale so min_intra_sim
    # is comparable across tiers: caption = exact Jaccard, image =
    # 1 - hamming/64, image_exact = 1.0 (byte identity).
    def cluster_diagnostics(
        ingest, caption_pairs, image_pairs, image_exact_edges, assignments
    ) -> DataFrame:
        from who_owns_mass_processing_spark.operators import diagnostics

        sim_edges = (
            caption_pairs.select("a", "b", "tier", F.col("jaccard").alias("sim"))
            .unionByName(
                image_pairs.select(
                    "a", "b", "tier",
                    (F.lit(1.0) - F.col("hamming") / F.lit(64.0)).alias("sim"),
                )
            )
            .unionByName(
                image_exact_edges.select("a", "b", "tier", F.lit(1.0).alias("sim"))
            )
        )
        return diagnostics.cluster_diagnostics(
            assignments,
            ingest,
            sim_edges,
            id_col="image_id",
            cluster_col="cluster_id",
            distinct_counts={"n_formats": "fmt", "n_distinct_images": "byte_fp"},
            sim_col="sim",
            tier_values=("caption", "image", "image_exact"),
        )

    # counts come from the stage manifests (recorded at write time) —
    # zero extra jobs whether resumed or fresh.  Built as a pure JVM
    # VALUES relation: createDataFrame of driver-local rows parallelizes
    # into defaultParallelism python-arrow slices, and evaluating/writing
    # that plan costs seconds of per-slice python round-trips for a 4-row
    # table (measured 2.6 s of the pipeline bench); the VALUES form is a
    # LocalTableScan, ~0.2 s.
    def metrics(caption_pairs, image_pairs, edges, clusters) -> DataFrame:
        vals = ", ".join(
            f"('{s}', {cat.rows(s)}L)"
            for s in ("caption_pairs", "image_pairs", "edges", "clusters")
        )
        return spark.sql(f"SELECT stage, rows FROM VALUES {vals} AS t(stage, rows)")

    # --- optional C7 second network round --------------------------------------
    # Reference analog: community detection over GROUP ids rather than row
    # ids (dedupe_network over (company_group, officer group),
    # R/deduplicaters.R:860-930).  There the two group columns come from
    # two different entity dedups; here both tiers cluster the same
    # images over the edges `assignments` already clustered, so the
    # networks are the tier-union components.  Their label needs no third
    # CC: `network_round` labels a row with its component's min typed id,
    #   * every image has a non-null caption_cluster,
    #   * "caption_cluster=" sorts before "image_cluster=", and
    #   * a shared prefix keeps the byte order of the ids behind it,
    # so the min typed id is "caption_cluster=" + the component's min
    # image_id, which is `assignments.cluster_id`.
    def tier_clusters(ingest, caption_pairs, image_pairs, image_exact_edges) -> DataFrame:
        # Both tiers' components come from ONE CC call: each tier's edges
        # carry a one-character prefix ("c" caption, "i" image), so the
        # two graphs stay disjoint.  A shared prefix keeps the byte order
        # of the ids behind it, so a component's min label is the prefix
        # plus the tier component's min image_id.
        def tagged(pairs: DataFrame, prefix: str) -> DataFrame:
            return pairs.select(
                *(F.concat(F.lit(prefix), c).alias(c) for c in ("a", "b"))
            )

        image_edges = image_pairs.select("a", "b").unionByName(
            image_exact_edges.select("a", "b")
        )
        cc = connected_components(
            tagged(caption_pairs, "c").unionByName(tagged(image_edges, "i")).distinct()
        )
        tier = F.substring("node", 1, 1)

        def label(prefix: str):
            return F.max(F.when(tier == prefix, F.expr("substring(component, 2)")))

        by_image = cc.groupBy(F.expr("substring(node, 2)").alias("image_id")).agg(
            label("c").alias("caption_cluster"), label("i").alias("image_cluster")
        )
        # images without an edge in a tier are that tier's singletons
        return ingest.select("image_id").join(by_image, "image_id", "left").select(
            "image_id",
            *(F.coalesce(c, "image_id").alias(c) for c in ("caption_cluster", "image_cluster")),
        )

    def networks(tier_clusters, assignments) -> DataFrame:
        return tier_clusters.join(assignments, "image_id").select(
            *tier_clusters.columns,
            F.concat(F.lit("caption_cluster="), "cluster_id").alias("network_id"),
        )

    stages = [
        ingest, signatures, caption_pairs, image_exact_edges, image_pairs,
        partition_metrics_v2, edges, assignments, clusters, cluster_diagnostics, metrics,
    ]
    if second_round:
        stages += [tier_clusters, networks]
    cat.supersede("partition_metrics")
    out = cat.run(stages, refresh=refresh)
    out["partition_metrics"] = out.pop("partition_metrics_v2")
    out["lineage"] = spark.createDataFrame(cat.lineage())
    return out
