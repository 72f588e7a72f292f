"""Table I/O indirection: Iceberg in production, parquet in this sandbox.

The north rule's storage layer is partitioned Iceberg tables (snapshot
overwrite / MERGE INTO replaces the reference's Postgres ON CONFLICT upsert,
SURVEY.md §2.1 S5). The sandbox has no Iceberg runtime jar, so the writer
resolves the format at runtime:

  * APERAG_SPARK_TABLE_FORMAT=iceberg (+ a configured `spark_catalog` /
    `local` Iceberg catalog) → `df.writeTo(table).createOrReplace()` with
    snapshot isolation; stage identity = Iceberg snapshot id.
  * default → parquet directory per stage; stage identity = the manifest's
    input fingerprint (plans/pipeline).

Everything above this module (stages, manifests, resume) is format-agnostic.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def table_format() -> str:
    return os.environ.get("APERAG_SPARK_TABLE_FORMAT", "parquet").lower()


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _default_ident(location: str) -> str:
    """Catalog identifier for a stage directory. The stage NAME alone is not
    unique — multiple pipelines (different out_dirs: per-SF stage caches,
    per-tenant workspaces) run in one session, and `local.db.minhash` for
    one out_dir must not replace another's. Qualify with a short hash of
    the full location path."""
    import hashlib

    loc = os.path.abspath(location.rstrip("/"))
    tag = hashlib.md5(os.path.dirname(loc).encode()).hexdigest()[:8]
    return f"local.db.{os.path.basename(loc)}_{tag}"


def write_table(df: DataFrame, location: str, table_name: str | None = None) -> DataFrame:
    """Write a stage output and return it read back (parquet: with the frame's
    schema, so no inference job). `location` is a directory (parquet mode)
    and `table_name` a catalog identifier (iceberg mode)."""
    if table_format() == "iceberg":
        spark = df.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                "APERAG_SPARK_TABLE_FORMAT=iceberg but no Iceberg runtime jar "
                "on the classpath (spark.jars.packages="
                "org.apache.iceberg:iceberg-spark-runtime-...)"
            )
        df.writeTo(table_name or _default_ident(location)).using(
            "iceberg"
        ).createOrReplace()
        return read_table(spark, location, table_name)
    df.write.mode("overwrite").parquet(location)
    return df.sparkSession.read.schema(df.schema).parquet(location)


def read_table(spark: SparkSession, location: str, table_name: str | None = None) -> DataFrame:
    if table_format() == "iceberg":
        return spark.read.table(table_name or _default_ident(location))
    return spark.read.parquet(location)


def partition_rows(spark: SparkSession, location: str) -> dict[str, int]:
    """Rows per written partition from file metadata, not a scan: parquet
    footers or Iceberg's `files` table, keyed by the partition number that
    starts each data file's name (`part-00003-…`, Iceberg `00003-…`)."""
    if table_format() == "iceberg":
        files = spark.read.table(f"{_default_ident(location)}.files")
        entries = [tuple(r) for r in files.select("file_path", "record_count").collect()]
    else:
        import pyarrow.parquet as pq

        entries = [
            (f, pq.read_metadata(os.path.join(location, f)).num_rows)
            for f in os.listdir(location)
            if f.startswith("part-")
        ]
    out: dict[str, int] = {}
    for f, n in entries:
        part = str(int(re.match(r"(?:part-)?(\d+)", os.path.basename(f)).group(1)))
        out[part] = out.get(part, 0) + n
    return out
