"""SQL facade: query lake tables with plain ``spark.sql``.

The reference's consumers spoke SQL to the warehouse
(/root/reference/etl/clickhouse_schema/kpi_views.sql; ad-hoc queries in
README examples). A user switching to this engine attaches lake tables
as temp views and keeps writing SQL::

    from spark_cdc.catalog import attach, attach_all

    attach(spark, "transcripts", "/lake/transcripts")
    attach(spark, "transcripts_y", "/lake/transcripts", snapshot_id=12)  # time travel
    spark.sql("SELECT role, count(*) FROM transcripts GROUP BY role")

Views are plain DataFrame registrations over :meth:`LakeTable.read`.
Over single-version buckets Catalyst sees the real scan (predicate
pushdown, column pruning and whole-stage codegen all apply). A view
whose buckets carry MoR deltas resolves them in Python workers
(``mapInArrow`` into the bucket kernel): predicates and column pruning
apply after resolution there, not in the file read.
A view is a SNAPSHOT: it pins the manifest read at attach time —
re-attach (or use :func:`refresh`) to see later commits. That is
exactly Iceberg/Delta view semantics over a table version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_cdc.lake.table import LakeTable


def attach(
    spark: SparkSession,
    name: str,
    path: str,
    snapshot_id: int | None = None,
) -> LakeTable:
    """Register the table at ``path`` as temp view ``name`` (optionally
    pinned to ``snapshot_id`` for time travel). Returns the handle."""
    table = LakeTable.load(spark, path)
    table.read(snapshot_id=snapshot_id).createOrReplaceTempView(name)
    return table


def attach_all(spark: SparkSession, tables: dict[str, str]) -> dict[str, LakeTable]:
    """Attach several ``{view_name: table_path}`` at once."""
    return {name: attach(spark, name, path) for name, path in tables.items()}


def refresh(spark: SparkSession, name: str, table: LakeTable) -> DataFrame:
    """Re-pin view ``name`` to the table's CURRENT snapshot."""
    table.refresh()
    df = table.read()
    df.createOrReplaceTempView(name)
    return df
