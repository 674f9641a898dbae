"""Ingest (SURVEY §2.1 S1-S6): suffix-dispatched load → normalized event
table, reimplementing ``/root/reference/mhealth_feature_generation/
dataloader.py`` as native Spark readers + expressions.

The reference's slowest path — per-row ``apply`` timezone conversion
(dataloader.py:216-227) — becomes a vectorized ``from_utc_timestamp``
with the per-day dominant timezone attached by a nearest as-of fill (J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mhealth_spark.asof import nearest_fill_daily
from mhealth_spark.schema import validate_hk_schema

TYPE_PREFIXES = [
    "HKQuantityTypeIdentifier",
    "HKCategoryTypeIdentifier",
    "HKDataType",
]


def load_data(spark: SparkSession, path: str, default_tz: str = "UTC") -> DataFrame:
    """S1: dispatch on suffix → normalized HK event table
    (dataloader.py:18-88)."""
    if path.endswith(".csv"):
        df = load_csv(spark, path)
    elif path.endswith(".xml"):
        df = add_local_time(
            load_healthkit_xml(spark, path),
            ts_col="utc_start",
            end_col="utc_end",
            default_tz=default_tz,
        )
    else:
        df = spark.read.parquet(path)
    return normalize_events(df, default_tz=default_tz)


_XML_RECORD_FIELDS = [
    ("type", "string"),
    ("value", "string"),
    ("unit", "string"),
    ("sourceName", "string"),
    ("device", "string"),
    ("startDate", "string"),
    ("endDate", "string"),
    ("creationDate", "string"),
    ("metadata", "map<string,string>"),
]


# Flush parsed Records to an Arrow batch every this many rows: peak
# Python-side memory per task is O(chunk + iterparse window), independent
# of export size — real exports open at 2 GB+ (tracemalloc-verified in
# tests/test_scale.py::test_healthkit_xml_streaming_memory_bound).
_XML_CHUNK_ROWS = 65536


def _parse_healthkit_export(content: bytes, chunk_rows: int = _XML_CHUNK_ROWS):
    """Stream one HealthKit export: yield pandas DataFrames of at most
    ``chunk_rows`` Record rows. iterparse + ``elem.clear()`` keeps the
    element tree window-sized; the row buffer flushes per chunk, so
    neither the DOM nor the full record list is ever resident."""
    import io
    import xml.etree.ElementTree as ET

    import pandas as pd

    names = [n for n, _ in _XML_RECORD_FIELDS]
    rows: list[tuple] = []
    for _, elem in ET.iterparse(io.BytesIO(content)):
        if elem.tag != "Record":
            continue
        a = elem.attrib
        md = {
            m.attrib.get("key"): m.attrib.get("value")
            for m in elem.iter("MetadataEntry")
        }
        rows.append(
            (
                a.get("type"),
                a.get("value"),
                a.get("unit"),
                a.get("sourceName"),
                a.get("device"),
                a.get("startDate"),
                a.get("endDate"),
                a.get("creationDate"),
                md or None,
            )
        )
        elem.clear()
        if len(rows) >= chunk_rows:
            yield pd.DataFrame(rows, columns=names)
            rows = []
    yield pd.DataFrame(rows, columns=names)


def load_healthkit_xml(
    spark: SparkSession, path: str, user_id: str = "anon"
) -> DataFrame:
    """S3: HealthKit XML export ingest (dataloader.py:126-168
    ``loadHealthKitXML``) without any spark-xml jar: ``binaryFile`` scan →
    Arrow-batched ``mapInPandas`` running a streaming ElementTree
    ``iterparse`` (elements cleared as consumed, so memory stays bounded
    per file, not per export). Parallelism is per FILE — one export per
    user is the natural sharding at scale; a single multi-GB export is
    one task, exactly like the reference's single-process parse but
    without pinning the whole record list in RAM.

    Parity with the reference parse: Record attributes + flattened
    MetadataEntry children (kept as a map instead of dynamic columns),
    HK type-prefix strip + SleepAnalysis value-prefix strip, constant
    ``quantity_count=1``, device name extraction, injected ``user_id``.
    Timestamps like ``2023-10-01 08:30:00 -0700`` are parsed JVM-side to
    true instants (``utc_start``/``utc_end``) and the export's own UTC
    offset is kept as ``timezone`` (e.g. ``-07:00``) for add_local_time.
    """
    schema = ", ".join(f"`{n}` {t}" for n, t in _XML_RECORD_FIELDS)

    def parse(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield from _parse_healthkit_export(bytes(content))

    raw = (
        spark.read.format("binaryFile")
        .load(path)
        .select("content")
        .mapInPandas(parse, schema=schema)
    )

    def ts(col: str):
        # '2023-10-01 08:30:00 -0700' → instant → UTC wall time (ntz)
        return F.to_utc_timestamp(
            F.to_timestamp(F.col(col), "yyyy-MM-dd HH:mm:ss XX"),
            spark.conf.get("spark.sql.session.timeZone"),
        ).cast("timestamp_ntz")

    sleep_val = F.when(
        F.col("type") == "HKCategoryTypeIdentifierSleepAnalysis",
        F.regexp_replace("value", "HKCategoryValueSleepAnalysis", ""),
    ).otherwise(F.col("value"))
    offset = F.regexp_extract("startDate", r"([+-]\d{2})(\d{2})$", 1)
    minutes = F.regexp_extract("startDate", r"([+-]\d{2})(\d{2})$", 2)
    return raw.select(
        F.lit(user_id).alias("user_id"),
        F.col("type"),
        sleep_val.alias("value"),
        "unit",
        F.col("sourceName").alias("source_name"),
        parse_device_name(F.col("device")).alias("device_name"),
        F.lit(1).alias("quantity_count"),
        ts("startDate").alias("utc_start"),
        ts("endDate").alias("utc_end"),
        ts("creationDate").alias("utc_creation"),
        F.when(
            offset != "", F.concat(offset, F.lit(":"), minutes)
        ).alias("timezone"),
        "metadata",
    )


def load_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: CSV with header + ISO8601 timestamp parse (dataloader.py:101-125)."""
    df = spark.read.csv(path, header=True, inferSchema=False)
    for c in ("local_start", "local_end"):
        if c in df.columns:
            df = df.withColumn(c, F.to_timestamp(c).cast("timestamp_ntz"))
    return df


def parse_device_name(col) -> F.Column:
    """S4 (dataloader.py:170-176): extract name from
    '<<HKDevice...>, name:Apple Watch, ...' strings."""
    return F.regexp_replace(F.split(col, ", ")[1], "name:", "")


def normalize_events(df: DataFrame, default_tz: str = "UTC") -> DataFrame:
    """S1 body: coalesce quantity/category values, strip HK prefixes,
    snake→camel types, validate schema (dataloader.py:47-87)."""
    cols = df.columns
    # value coalesce: body.quantity.value | body.category.value → value
    if "value" not in cols:
        candidates = [c for c in ["body.quantity.value", "body.category.value"]
                      if c in cols]
        if candidates:
            # stringly-typed polymorphic value column (reference semantics);
            # casting both sides avoids ANSI double-coercion on categories
            df = df.withColumn(
                "value",
                F.coalesce(*[F.col(f"`{c}`").cast("string") for c in candidates]),
            )
    if "device.name" in cols and "device_name" not in cols:
        df = df.withColumn("device_name", F.col("`device.name`"))
    if "body.quantity.count" in cols and "quantity_count" not in cols:
        df = df.withColumn(
            "quantity_count", F.col("`body.quantity.count`").cast("int")
        )
    # strip HK prefixes from type and snake→camel
    t = F.col("type")
    for p in TYPE_PREFIXES:
        t = F.regexp_replace(t, p, "")
    # snake_case → CamelCase only when there IS a snake: initcap lowercases
    # the tail of each word, so applying it to an already-CamelCase type
    # (the XML path after prefix strip) would mangle it (HeartRate →
    # Heartrate)
    camel = F.concat_ws("", F.transform(F.split(t, "_"), lambda w: F.initcap(w)))
    df = df.withColumn("type", F.when(t.contains("_"), camel).otherwise(t))
    if "value" in df.columns:
        df = df.withColumn("value", F.col("value").cast("string")).withColumn(
            "value_num", F.expr("try_cast(value AS double)")
        )
    if "timezone" not in df.columns:
        df = df.withColumn("timezone", F.lit(default_tz))
    validate_hk_schema(df)
    return df


def add_local_time(
    df: DataFrame,
    ts_col: str = "utc_start",
    default_tz: str = "UTC",
    end_col: str | None = None,
) -> DataFrame:
    """S5/J4 (dataloader.py:178-229): per-day dominant timezone,
    nearest-filled across days, then vectorized UTC→local conversion.

    One window pass for the dominant tz (mode per user-day), the J4
    nearest as-of fill for gap days, then ``from_utc_timestamp`` — no
    per-row Python anywhere. ``end_col`` additionally emits ``local_end``
    converted with the SAME per-day timezone as the start (the reference
    converts startDate and endDate with one tz per row,
    dataloader.py:216-227), so intervals can't straddle two zones.

    Known deliberate divergence: the reference picks the FIRST distinct
    tz string observed in a day (dataloader.py:197, order-dependent on
    input row order); this engine picks the day's MODE (count-desc,
    name-asc tie-break) — deterministic under any partitioning, which
    first-observed is not in a distributed read. Same value whenever a
    day has a single tz (the overwhelmingly common case).
    """
    with_day = df.withColumn("_d", F.to_date(ts_col))
    mode_tz = (
        with_day.filter(F.col("timezone").isNotNull())
        .groupBy("user_id", "_d", "timezone")
        .count()
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id", "_d").orderBy(
                    F.col("count").desc(), F.col("timezone")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "_d", F.col("timezone").alias("_tz"))
    )
    filled = nearest_fill_daily(
        mode_tz, entity_col="user_id", date_col="_d", value_col="_tz"
    )
    out = (
        with_day.drop("timezone")
        .join(filled, ["user_id", "_d"], "left")
        .withColumn("timezone", F.coalesce("_tz", F.lit(default_tz)))
        .drop("_tz", "_d")
    )
    pairs = [(ts_col, "local_start")]
    if end_col is not None:
        pairs.append((end_col, "local_end"))
    for c_src, c_dst in pairs:
        out = out.withColumn(
            c_dst,
            F.from_utc_timestamp(F.col(c_src).cast("timestamp"), F.col("timezone"))
            .cast("timestamp_ntz"),
        )
    return out
