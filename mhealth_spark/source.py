"""Table IO abstraction: Iceberg when the runtime is present, parquet otherwise.

The north rule targets Iceberg tables of pre-tokenized sequences. The
sandbox has no Iceberg jar, so every read/write goes through this seam:

- ``read_table(spark, ref)`` — ``ref`` may be ``iceberg:db.table`` (uses
  ``spark.read.format("iceberg")``), a parquet path, or a bare testdata
  table name resolved against a scale-factor directory.
- ``write_table(df, ref, ...)`` — ``writeTo`` for Iceberg (partitioned by
  entity bucket + days(ts), giving partition pruning + min/max file
  skipping at 100 TB), ``write.parquet`` fallback.

Physical layout contract (the engine's core scale discipline, SURVEY §4):
``layout_events`` range-partitions by entity and sorts each partition by
timestamp. Every downstream as-of join / sessionization / window op then
runs without a further shuffle — one exchange amortized across the whole
feature pipeline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_table(spark: SparkSession, ref: str, sf_dir: str | None = None) -> DataFrame:
    """Read a table by reference.

    ``iceberg:<name>`` → Iceberg catalog table; ``*.parquet`` / directory
    → parquet; bare name → ``{sf_dir}/{name}.parquet``.
    """
    if ref.startswith("iceberg:"):
        return spark.read.format("iceberg").load(ref[len("iceberg:") :])
    if ref.endswith(".parquet") or os.path.isdir(ref):
        return spark.read.parquet(ref)
    base = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    return spark.read.parquet(os.path.join(base, f"{ref}.parquet"))


def write_table(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write a DataFrame to Iceberg (``iceberg:`` ref) or parquet path."""
    if ref.startswith("iceberg:"):
        name = ref[len("iceberg:") :]
        writer = df.writeTo(name)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(ref)


def write_bucketed_layout(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    tiebreak_col: str = "doc_id",
    single_file_buckets: bool = True,
) -> None:
    """Materialize the PERSISTED entity layout: a bucketed table clustered
    by entity, sorted by (entity, ts, tiebreak).

    This is the durable version of ``layout_events``: instead of paying
    one exchange per job, the exchange is paid ONCE at write time and
    every later window / as-of / sessionize op over the table runs with
    **no Exchange at all** — the scan's ``HashPartitioning(entity)``
    already satisfies the window's required distribution, so Spark elides
    the shuffle (asserted by ``tests/test_layout.py`` on the physical
    plan). At 10^12 rows this removes the dominant cost of every
    feature-engineering pass over the corpus.

    Two co-bucketed tables also SMJ-join with no shuffle when the join
    keys EQUAL the bucket columns (a strict superset makes the planner
    drop the bucketed scan — tests/test_layout.py demonstrates both).

    With ``single_file_buckets`` (one file per bucket via a pre-write
    repartition) the ``SORTED BY`` metadata also elides the window's
    local sort when ``sorted_bucket_scan(spark)`` is on. At 100 TB a
    bucket spans many files, so only the EXCHANGE elision transfers —
    the per-partition sort remains, but it is a spill-free merge of
    sorted runs, not a full sort. The Iceberg equivalent is a
    ``bucket(N, entity)`` partition spec + sorted data files
    (``write_table`` is the seam when that runtime is present).
    """
    sort_cols = list(dict.fromkeys([entity_col, ts_col, tiebreak_col]))
    w = df.write.mode("overwrite")
    if single_file_buckets:
        w = df.repartition(buckets, F.col(entity_col)).write.mode("overwrite")
    w.bucketBy(buckets, entity_col).sortBy(*sort_cols).saveAsTable(table)


def register_bucketed_layout(
    spark: SparkSession,
    table: str,
    location: str,
    schema_ddl: str,
    buckets: int = 64,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    tiebreak_col: str = "doc_id",
) -> None:
    """Register an EXISTING bucketed-layout directory in this session's
    catalog (the in-memory catalog does not persist across processes; on
    a real cluster the Hive/Glue/Iceberg catalog makes this a no-op).

    ``location`` must hold files written by ``write_bucketed_layout``
    (bucket ids are encoded in the file names; Spark trusts the declared
    CLUSTERED BY spec). ``schema_ddl`` is the column list, e.g.
    ``"doc_id BIGINT, writer_id STRING, ts TIMESTAMP_NTZ, n_tok INT"``.
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
        f"CLUSTERED BY ({entity_col}) "
        f"SORTED BY ({entity_col}, {ts_col}, {tiebreak_col}) "
        f"INTO {buckets} BUCKETS LOCATION '{location}'"
    )


def sorted_bucket_scan(spark: SparkSession, enabled: bool = True) -> None:
    """Advertise bucket sort order from the scan (elides the window's
    local sort). Safe only while each bucket is ONE file — Spark checks
    this and quietly keeps the sort otherwise, so enabling it is never
    incorrect, just ineffective on multi-file buckets."""
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true" if enabled else "false",
    )


def layout_events(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    num_partitions: int | None = None,
) -> DataFrame:
    """Apply the engine's physical layout: range-partition by entity,
    sort each partition by (entity, ts).

    This replaces the reference's per-call ``sort_values("local_start")``
    (``simple_features.py:257,663,740``) with ONE exchange whose ordering
    every later window/as-of/sessionize op reuses. A global sort is never
    needed — ordering only matters within an entity.
    """
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return df.repartitionByRange(int(parts), F.col(entity_col)).sortWithinPartitions(
        entity_col, ts_col
    )
