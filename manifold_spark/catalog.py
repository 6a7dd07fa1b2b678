"""Path-based warehouse catalog (reference D1-D3, D7, D8, S5).

The reference's `staging` / `presentation` schemas live in Redshift; ours
are directories of Parquet tables. `TRUNCATE` + `COPY` collapses to an
overwrite write (reference S5/D8).

The DDL is declared, not inferred: every table has its schema in
`schema.WAREHOUSE_SCHEMAS` (reference D2/D3, `sql_queries_staging.py`,
`sql_queries_presentation.py`). `read` hands that schema to the Parquet
reader, so a read plans without the footer-inference job Spark would
otherwise run per call; both writes compare the frame's column names,
order and types (nullability aside) with the declaration and raise
before touching the table dir. An undeclared table is an error on read
and write, as a table without a `CREATE TABLE` would be; there is no
inference fallback.

Two write modes, one per table kind the weekly job writes:

- `overwrite` replaces a whole table: the staging tables and the SCD2
  dimensions. Spark cannot overwrite a path that feeds the running
  plan, so it stages the new data in a sibling tmp dir and swaps it in,
  which is exactly what the SCD2 rebuild needs (read dim, rebuild,
  replace).
- `overwrite_partitions` replaces only the partitions present in the
  frame: the fact table's week partition, so a re-run of a week
  replaces it in place.

A Delta-backed store can slot in later behind the same two calls
without touching callers (SURVEY §7 risk 1).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from manifold_spark.schema import warehouse_schema


def _check_schema(df: DataFrame, database: str, table: str) -> None:
    """Raise unless ``df`` has the declared column names, order and types
    of ``database.table`` (nullability is not compared)."""
    got = df.schema.simpleString()
    want = warehouse_schema(database, table).simpleString()
    if got != want:
        raise ValueError(
            f"frame {got} does not match the declared schema of "
            f"{database}.{table}, {want}"
        )


class TableStore:
    """A tiny two-level catalog: ``{root}/{database}/{table}`` Parquet dirs."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, database: str, table: str) -> str:
        return f"{self.root}/{database}/{table}"

    def exists(self, database: str, table: str) -> bool:
        p = self.path(database, table)
        if not os.path.isdir(p):
            return False
        # Partitioned tables nest part-files under key=value subdirs.
        return any(
            f.endswith(".parquet") for _, _, files in os.walk(p) for f in files
        )

    def read(self, spark: SparkSession, database: str, table: str) -> DataFrame:
        return spark.read.schema(warehouse_schema(database, table)).parquet(
            self.path(database, table)
        )

    def overwrite(
        self,
        df: DataFrame,
        database: str,
        table: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Truncate-and-load (reference D8+S5). Stage-to-tmp + swap so the
        source of a rebuild can also be its destination."""
        _check_schema(df, database, table)
        final = self.path(database, table)
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

    def overwrite_partitions(
        self,
        df: DataFrame,
        database: str,
        table: str,
        partition_by: list[str],
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions present
        in ``df``, leaving every other partition's files untouched. The
        weekly fact load writes one `date_id` partition this way — cost is
        O(week), not O(table history). Safe without the tmp-swap dance
        because the written partitions' data derives from staging, never
        from the table being written."""
        _check_schema(df, database, table)
        writer = (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
        )
        writer.parquet(self.path(database, table))
