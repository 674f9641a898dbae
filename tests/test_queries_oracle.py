"""Every driver query vs its DuckDB oracle at sf0.001 (the driver runs the
same comparison at sf0.01 — this is the fast in-repo replica)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from tools.check_oracles import compare, duck_con  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.fixture(scope="module")
def duck():
    return duck_con(SF_DIR)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_oracle_parity(spark, duck, name):
    fn = entry_mod.queries()[name]
    spark_pdf = fn(spark, SF_DIR).toPandas()
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check, like the driver
        return
    duck_pdf = duck.execute(oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


def test_every_registered_query_has_oracle():
    """A registered query with no oracle is a guaranteed red driver row
    whenever the sample rotation lands on it (round-3 sample). The
    xxh/float32 production tiers live as library APIs with pytest
    differentials instead of registry entries; their md5/integer twins
    carry the oracle over the identical plan shape."""
    missing = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))
    assert missing == []
    # the tokens oracles read the synth cache of THIS checkout, so the
    # oracle SQL text depends only on where the tree is checked out
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cached = [
        p
        for sql in entry_mod.oracle_sql().values()
        for p in re.findall(r"read_parquet\('([^']*\.synth_cache[^']*)'\)", sql)
    ]
    assert len(cached) >= 40
    assert {p.rsplit("/", 2)[0] for p in cached} == {f"{root}/.synth_cache"}


def test_no_complex_typed_output_columns(spark):
    """The driver's oracle canonicalizer sorts rows over ALL columns and
    cannot hash list/map/struct cells (round-3 dedup_span_mask and
    round-4 corpus_bpe_merge_apply red rows). Keep the class extinct:
    every registered query must emit only atomic columns — serialize
    arrays with array_join at the registry boundary, keep the array-
    returning faces as library APIs."""
    from pyspark.sql import types as T

    bad = {}
    for name, fn in entry_mod.queries().items():
        schema = fn(spark, SF_DIR).schema
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex-typed output columns: {bad}"


def test_checksum_oracle_empty_text_parity(spark, tmp_path):
    """Empty documents: DuckDB string_split('', '') yields [''] and
    unicode('') is -1, so the naive oracle would score an empty doc as
    checksum -1 while the engine's empty-payload branch emits 0. The
    registered oracle carries an explicit empty-case guard; run BOTH
    engines over an adversarial corpus (empty + 1-char + normal docs)
    and demand the driver-grade comparison stays green."""
    import duckdb
    from pyspark.sql import functions as F

    from mhealth_spark.pipelines import multimodal

    rows = [(1, ""), (2, "a"), (3, "hello world")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    media = multimodal.wrap_as_media(
        docs, "doc_id", F.encode(F.col("text"), "UTF-8")
    )
    spark_pdf = multimodal.decode_checksum(media).toPandas()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") v(doc_id, text)"
    )
    duck_pdf = con.execute(
        entry_mod.oracle_sql()["multimodal_decode_checksum"]
    ).df()
    problems = compare("multimodal_decode_checksum", spark_pdf, duck_pdf)
    assert not problems, problems
    assert (
        spark_pdf.set_index("media_id").loc["1", "checksum"] == 0
    )


def test_checksum_oracle_ascii_assumption(spark):
    """multimodal_decode_checksum's oracle equates per-char code points
    with UTF-8 bytes — valid iff the synth corpus is pure ASCII."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.filter(
        F.octet_length(F.encode("text", "UTF-8")) != F.length("text")
    ).count()
    assert n == 0
