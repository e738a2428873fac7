"""Reference-parity entity dedup: two-tier thresholds + bounding key.

Mirrors the reference's owner-dedup core semantics exactly
(R/deduplicaters.R:446-539 `dedupe_cosine_bounded`, config.R:28-29):

  * institutional/trust entities merge on name similarity alone at the
    LOOSE threshold (reference: cosine >= 0.85);
  * individuals merge ONLY when they also share the bounding key
    (reference: same addr_id) and clear the STRICT threshold
    (reference: cosine >= 0.95) — even exact-identical individual names
    stay separate across addresses;
  * exact-identical normalized names count as similarity 1.0
    (dedupe_naive, R/deduplicaters.R:208-223), subject to the same
    tier rules;
  * clusters = connected components over the surviving pairs
    (igraph analog, :225-246); canonical name = group mode (:290-311).

Similarity here is exact shingle-Jaccard verified after MinHash-LSH
blocking (north_rule's replacement for TF-IDF cosine); thresholds are
parameters so the strict/loose *structure* — not the metric — is what
carries over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.operators.canonical import group_mode, with_singletons
from who_owns_mass_processing_spark.operators.connected_components import connected_components
from who_owns_mass_processing_spark.operators.dedupe import lsh_near_dup_pairs


def dedupe_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    inst_col: str,
    bound_col: str,
    cfg: DedupeConfig | None = None,
    tau_inst: float = 0.70,
    tau_indiv: float = 0.90,
    lsh_min_recall: float = 0.95,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (assignments(id, cluster_id), clusters(cluster_id, size,
    canonical_name), skew_metrics).

    skew_metrics is the blocking layer's band-skew table (bucket-size
    classes + stop-band drop counts).  Stop-band drops are
    RECALL-RELEVANT events — a dropped mega-bucket means pairs sharing
    only that band were never candidates — so callers must be able to
    audit them (the images pipeline checkpoints the same table,
    pipeline/run.py: caption_band_skew).

    tau_indiv must be >= tau_inst (strict tier for unbounded individuals
    is the whole point — reference config.R:28-29).

    The LSH banding is DERIVED from tau_inst via solve_bands so candidate
    recall at the loose verify threshold clears `lsh_min_recall` — round 1
    ran the engine-default (16, 8) here, which at tau=0.70 yields only
    ~0.61 candidate recall (P = 1-(1-0.7^8)^16); the solver picks (32, 4)
    at the default floor.  Pass lsh_min_recall≈1-1e-9 for oracle-exact
    runs.
    """
    from who_owns_mass_processing_spark.functions.lsh_params import solve_bands

    cfg = cfg or DedupeConfig()
    if tau_indiv < tau_inst:
        raise ValueError("individual tier must be at least as strict as inst tier")

    bands, _rows = solve_bands(cfg.num_perm, tau_inst, lsh_min_recall)
    # candidate pairs at the loose tier: one LSH pass serves both tiers
    loose_cfg = DedupeConfig(
        **{
            **{f: getattr(cfg, f) for f in cfg.__dataclass_fields__},
            "jaccard_threshold": tau_inst,
            "bands": bands,
        }
    )
    pairs, skew = lsh_near_dup_pairs(df, id_col, name_col, loose_cfg)

    attrs = df.select(
        F.col(id_col).alias("_eid"),
        F.col(inst_col).alias("_inst"),
        F.col(bound_col).alias("_bound"),
    )
    pa = attrs.select(
        F.col("_eid").alias("a"), F.col("_inst").alias("inst_a"), F.col("_bound").alias("bound_a")
    )
    pb = attrs.select(
        F.col("_eid").alias("b"), F.col("_inst").alias("inst_b"), F.col("_bound").alias("bound_b")
    )
    tiered = (
        pairs.join(pa, "a")
        .join(pb, "b")
        .where(
            (F.col("inst_a") & F.col("inst_b") & (F.col("jaccard") >= tau_inst))
            | (
                (F.col("bound_a") == F.col("bound_b"))  # NULL bound never matches
                & (F.col("jaccard") >= tau_indiv)
            )
        )
        .select("a", "b")
    )

    cc = connected_components(tiered)
    assignments = with_singletons(df.select(id_col), id_col, cc).select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    named = assignments.join(
        df.select(F.col(id_col), F.col(name_col).alias("_name")), id_col
    )
    clusters = (
        named.groupBy("cluster_id")
        .agg(F.count("*").alias("size"))
        .join(group_mode(named, "cluster_id", "_name", "canonical_name"), "cluster_id")
    )
    return assignments, clusters, skew
