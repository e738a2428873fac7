"""The `images` input source (BASELINE.json input_hint authoritative shape)
and result sinks.

Reference analogs: typed CSV/GDB scans with explicit column schemas and
scan-time predicates (S1-S4, R/loaders.R:646-749, 1325-1364) and the
PK'd table sink (S6, R/loaders.R:236-329).  Our engine NEVER infers
schemas (SURVEY.md §1.3): readers validate against the declared
StructType and fail fast on drift.

Scale notes:
* the canonical ingest layout is an Iceberg table bucketed by image_id
  (`bucket(N, image_id)`), giving balanced scans and co-located joins on
  image_id; in the parquet fallback we mirror that with repartition on a
  hash of image_id at write time.
* readers push projection/filter to the scan (Catalyst handles this when
  the plan stays declarative — verified in tests via PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("fmt", StringType(), True),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
    ]
)

class SchemaMismatch(ValueError):
    pass


def _check(df: DataFrame, expected: StructType, source: str) -> DataFrame:
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in expected.fields}
    missing = [c for c in want if c not in got]
    wrong = [c for c in want if c in got and got[c] != want[c]]
    if missing or wrong:
        raise SchemaMismatch(
            f"{source}: missing={missing} wrong_type="
            f"{[(c, got[c], want[c]) for c in wrong]}"
        )
    return df.select(*want.keys())


def read_images(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    where=None,
    limit: int | None = None,
) -> DataFrame:
    """Schema-validated images scan with projection/filter pushdown.

    `limit` mirrors the reference's dev-subset slice_head(n=test_count)
    (R/loaders.R:1352)."""
    df = _check(spark.read.parquet(path), IMAGES_SCHEMA, path)
    if where is not None:
        df = df.where(where)
    if columns:
        df = df.select(*columns)
    if limit:
        df = df.limit(limit)
    return df


def read_images_table(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg catalog path (active when an Iceberg runtime is present)."""
    return _check(spark.table(table), IMAGES_SCHEMA, table)
