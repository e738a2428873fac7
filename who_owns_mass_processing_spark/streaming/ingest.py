"""Incremental signature ingest via Structured Streaming.

readStream (file source, parquet) -> signature projection (the same
pandas UDFs as the batch path — stateless, so they stream trivially)
-> writeStream append to the signatures stage directory with a streaming
checkpoint.  Clustering stays batch (label propagation is iterative;
running it per-microbatch would re-cluster the world every trigger —
instead the batch pipeline consumes the continuously-maintained
signature table, which is where ~all the CPU goes at 10^12 scale).

The stateful extra is cross-batch first-seen dedup
(applyInPandasWithState).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.functions.images import image_meta_udf
from who_owns_mass_processing_spark.functions.minhash import signature_udf
from who_owns_mass_processing_spark.functions.text import fingerprint_md5
from who_owns_mass_processing_spark.sources.images import IMAGES_SCHEMA


def stream_signatures(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: DedupeConfig | None = None,
    max_files_per_trigger: int = 16,
):
    """Continuous images -> signatures. Returns the StreamingQuery.

    `input_dir` must be a DIRECTORY (Spark file-stream source contract);
    new parquet files dropped into it are picked up per trigger."""
    cfg = cfg or DedupeConfig()
    sig = signature_udf(cfg.shingle_k, cfg.num_perm, cfg.minhash_seed)
    meta = image_meta_udf()
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    signed = stream.select(
        "image_id",
        "fmt",
        fingerprint_md5(F.col("caption")).alias("fingerprint"),
        sig(F.col("caption")).alias("sig"),
        meta(F.col("bytes")).alias("meta"),
    ).select(
        "image_id",
        "fmt",
        "fingerprint",
        F.col("sig.codes").alias("codes"),
        F.col("sig.minhash").alias("minhash"),
        F.col("meta.phash").alias("phash"),
    )
    return (
        signed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_first_seen(
    stream: DataFrame,
    key_col: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Stateful cross-microbatch exact dedup: emit only the FIRST row seen
    per key (e.g. caption fingerprint or byte sha) across the life of the
    stream — the streaming twin of the exact-fingerprint tier.

    Custom stateful operator via applyInPandasWithState (the engine's
    only per-key streaming state): state = one boolean per key, so state
    size is O(distinct keys), the same cardinality the batch exact tier
    shuffles.  Downstream LSH/clustering stays batch over the deduped
    signature table (see module docstring).

    Returns a streaming DataFrame (key, first_row_json) — kept to two
    fixed-width-ish columns so the state store never holds payloads.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    out_schema = "key string, payload string"
    state_schema = "seen boolean"
    assert isinstance(stream.schema, StructType)

    def fn(key, pdfs, state: GroupState):
        import json as _json

        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if len(pdf):
                row = pdf.iloc[0]
                first = _json.dumps({c: str(row[c]) for c in pdf.columns})
                break
        if first is None:
            return
        state.update((True,))
        import pandas as _pd

        yield _pd.DataFrame({"key": [key[0]], "payload": [first]})

    # streaming groupBy re-resolves grouping expressions against the child
    # plan, so an inline alias doesn't survive — materialize the key column
    keyed = stream.withColumn("_fs_key", F.col(key_col).cast("string")).groupBy("_fs_key")
    return keyed.applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        getattr(GroupStateTimeout, timeout),
    )
