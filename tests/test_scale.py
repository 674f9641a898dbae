"""Scale-discipline features: checkpoint/resume with lineage manifests,
salted skew-safe aggregation, the tokens feature engine, and ingest."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mhealth_spark.checkpoint import (
    checkpointed_write,
    completed_partitions,
    input_fingerprint,
    read_checkpointed,
)
from mhealth_spark.loader import add_local_time, normalize_events
from mhealth_spark.skew import salted_agg
from mhealth_spark.synth import synth_tokens
from mhealth_spark.tokens_engine import (
    backfill_features,
    daily_source_stats,
    hourly_requests,
    row_features,
    sessionized,
)


def test_checkpoint_resume_identical_output(spark, tmp_path):
    df = synth_tokens(spark, 2000, seed=3).select("doc_id", "source", "n_tok")
    out_dir = str(tmp_path / "ckpt")
    fp = input_fingerprint(df, ["doc_id"])

    # first attempt dies after 3 of 8 partitions
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpointed_write(df, out_dir, "doc_id", num_partitions=8, fail_after=3)
    done = completed_partitions(out_dir, fp)
    assert len(done) == 3

    # resume completes only the remaining 5
    stats = checkpointed_write(df, out_dir, "doc_id", num_partitions=8)
    assert stats["skipped"] == 3 and stats["written"] == 5

    got = read_checkpointed(spark, out_dir).toPandas().sort_values("doc_id")
    exp = df.toPandas().sort_values("doc_id")
    assert list(got.doc_id) == list(exp.doc_id)
    assert (got.n_tok.to_numpy() == exp.n_tok.to_numpy()).all()

    # manifests carry rows/bytes + lineage fingerprint
    m = json.load(open(os.path.join(out_dir, "_manifests", "part-0.json")))
    assert m["rows"] > 0 and m["bytes"] > 0 and m["input_fingerprint"] == fp
    # each manifest's row count (an observed metric of the write job)
    # equals the bucket's read-back count
    for part in range(8):
        m = json.load(open(os.path.join(out_dir, "_manifests", f"part-{part}.json")))
        assert m["rows"] == spark.read.parquet(
            os.path.join(out_dir, f"part={part}")
        ).count()
    assert os.path.exists(os.path.join(out_dir, "_lineage.json"))

    # changed input invalidates old manifests
    df2 = synth_tokens(spark, 2100, seed=3).select("doc_id", "source", "n_tok")
    fp2 = input_fingerprint(df2, ["doc_id"])
    assert fp2 != fp
    assert completed_partitions(out_dir, fp2) == set()


def test_salted_agg_matches_plain(spark):
    df = synth_tokens(spark, 3000, seed=4)
    plain = (
        df.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total"),
            F.avg("n_tok").alias("mean_len"),
        )
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    salted = (
        salted_agg(
            df,
            keys=["source"],
            partial_exprs=[
                F.sum("n_tok").alias("s"),
                F.count("*").alias("n"),
            ],
            final_exprs=[
                F.sum("n").alias("n_docs"),
                F.sum("s").alias("total"),
                (F.sum("s") / F.sum("n")).alias("mean_len"),
            ],
            salt_buckets=8,
        )
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        plain[["source", "n_docs", "total"]], salted[["source", "n_docs", "total"]]
    )
    np.testing.assert_allclose(plain["mean_len"], salted["mean_len"], rtol=1e-12)


def test_tokens_engine_row_features_passthrough_and_no_leakage(spark):
    tk = synth_tokens(spark, 1500, seed=8)
    rf = row_features(tk).cache()
    pdf = rf.toPandas()
    assert len(pdf) == 1500
    # pass-through invariant
    src = tk.select("doc_id", "tokens").toPandas().set_index("doc_id")["tokens"]
    for _, r in pdf.sample(50, random_state=0).iterrows():
        assert list(r["tokens"]) == list(src[r["doc_id"]])
    # rolling windows use strictly past rows: first row per entity has none
    firsts = (
        pdf.sort_values(["writer_id", "ts", "doc_id"]).groupby("writer_id").head(1)
    )
    assert firsts["roll_count"].fillna(0).eq(0).all()
    assert firsts["prev_n_tok"].isna().all()


def test_tokens_engine_backfill_and_sessions(spark):
    tk = synth_tokens(spark, 1200, seed=9)
    reqs = hourly_requests(tk)
    bf = backfill_features(tk, reqs, lookback_hours=24.0).toPandas()
    assert len(bf) == reqs.count()
    # brute-force check a few request rows
    tp = tk.select("source", "ts", "n_tok").toPandas()
    for _, r in bf.sample(20, random_state=1).iterrows():
        lo = r.ts - dt.timedelta(hours=24)
        win = tp[(tp.source == r.source) & (tp.ts > lo) & (tp.ts <= r.ts)]
        assert (r.docs_24h or 0) == len(win)
    sess = sessionized(tk, gap_minutes=60.0).toPandas()
    assert (sess.n_docs >= 1).all()
    assert sess.session_tokens.sum() == tp.n_tok.sum()


def test_daily_source_stats_skew_safe(spark):
    tk = synth_tokens(spark, 2000, seed=10)
    out = daily_source_stats(tk).toPandas()
    plain = (
        tk.withColumn("_day", F.to_date("ts"))
        .groupBy("source", "_day")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .toPandas()
    )
    merged = out.merge(plain, on=["source", "_day"], suffixes=("", "_p"))
    assert (merged.n_docs == merged.n_docs_p).all()
    assert (merged.total_tokens == merged.total_tokens_p).all()


def test_loader_normalize_and_local_time(spark):
    pdf = pd.DataFrame(
        {
            "user_id": ["u1", "u1", "u1"],
            "utc_start": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-03 10:00", "2024-01-05 10:00"]
            ),
            "timezone": ["America/New_York", None, "America/Los_Angeles"],
            "type": ["heart_rate", "step_count", "sleep_analysis"],
            "body.quantity.value": [70.0, None, None],
            "body.category.value": [None, "500", "Asleep"],
        }
    )
    df = spark.createDataFrame(pdf)
    with_local = add_local_time(df, ts_col="utc_start")
    norm = normalize_events(
        with_local.withColumn("local_end", F.col("local_start"))
    ).toPandas().sort_values("utc_start")
    assert list(norm["type"]) == ["HeartRate", "StepCount", "SleepAnalysis"]
    # day 2 has no tz → nearest observed day (Jan1 NY vs Jan5 LA, tie→prev)
    assert list(norm["timezone"]) == [
        "America/New_York", "America/New_York", "America/Los_Angeles",
    ]
    # UTC→local conversion vectorized: 10:00 UTC = 05:00 New York (EST)
    assert norm.iloc[0]["local_start"].hour == 5
    assert norm["value"].tolist() == ["70.0", "500", "Asleep"]
    assert norm["value_num"].tolist()[1] == 500.0


XML_EXPORT = """<?xml version="1.0" encoding="UTF-8"?>
<HealthData locale="en_US">
 <ExportDate value="2023-10-03 10:00:00 -0700"/>
 <Record type="HKQuantityTypeIdentifierHeartRate" sourceName="W" unit="count/min"
   value="64" device="&lt;&lt;HKDevice: 0x2822, name:Apple Watch, manufacturer:Apple&gt;"
   creationDate="2023-10-01 08:31:00 -0700" startDate="2023-10-01 08:30:00 -0700"
   endDate="2023-10-01 08:30:00 -0700">
   <MetadataEntry key="HKMetadataKeyHeartRateMotionContext" value="1"/>
 </Record>
 <Record type="HKCategoryTypeIdentifierSleepAnalysis" sourceName="W"
   value="HKCategoryValueSleepAnalysisAsleepCore"
   creationDate="2023-10-02 07:00:00 -0700" startDate="2023-10-01 23:00:00 -0700"
   endDate="2023-10-02 01:00:00 -0700"/>
</HealthData>
"""


def test_healthkit_xml_ingest_golden(spark, tmp_path):
    """S3: binaryFile + mapInPandas iterparse parity with the reference's
    loadHealthKitXML (dataloader.py:126-168): attribute extraction,
    MetadataEntry flattening, HK prefix strips, device-name parse, and
    offset-preserving UTC->local conversion through the S1 dispatch."""
    from mhealth_spark.loader import load_data, load_healthkit_xml

    p = tmp_path / "export.xml"
    p.write_text(XML_EXPORT)

    raw = load_healthkit_xml(spark, str(p)).toPandas().sort_values("type")
    assert len(raw) == 2
    hr = raw[raw.type == "HKQuantityTypeIdentifierHeartRate"].iloc[0]
    assert hr["device_name"] == "Apple Watch"
    assert hr["timezone"] == "-07:00"
    assert str(hr["utc_start"]) == "2023-10-01 15:30:00"  # -0700 -> UTC
    assert hr["metadata"]["HKMetadataKeyHeartRateMotionContext"] == "1"
    assert hr["quantity_count"] == 1
    sl = raw[raw.type.str.contains("Sleep")].iloc[0]
    assert sl["value"] == "AsleepCore"  # sleep value prefix stripped

    norm = load_data(spark, str(p)).toPandas().sort_values("type")
    assert list(norm["type"]) == ["HeartRate", "SleepAnalysis"]
    hr2 = norm[norm.type == "HeartRate"].iloc[0]
    # local time restored from the export's own offset, start AND end
    assert str(hr2["local_start"]) == "2023-10-01 08:30:00"
    assert str(hr2["local_end"]) == "2023-10-01 08:30:00"
    assert hr2["value_num"] == 64.0
    sl2 = norm[norm.type == "SleepAnalysis"].iloc[0]
    assert str(sl2["local_end"]) == "2023-10-02 01:00:00"


def _write_big_export(path, n_records: int, day_offset: int = 0) -> None:
    """Synthesize a multi-MB HealthKit export with n_records HeartRate
    Records, written incrementally (never held in memory)."""
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<HealthData>\n')
        f.write(' <ExportDate value="2023-10-03 10:00:00 -0700"/>\n')
        for i in range(n_records):
            mm, ss = (i // 60) % 60, i % 60
            hh = (i // 3600) % 24
            ts = f"2023-10-{1 + day_offset:02d} {hh:02d}:{mm:02d}:{ss:02d} -0700"
            f.write(
                f' <Record type="HKQuantityTypeIdentifierHeartRate" '
                f'sourceName="W" unit="count/min" value="{60 + i % 40}" '
                f'creationDate="{ts}" startDate="{ts}" endDate="{ts}"/>\n'
            )
        f.write("</HealthData>\n")


def test_healthkit_xml_multi_mb_exports_row_parity(spark, tmp_path):
    """Two multi-MB exports through the real binaryFile + mapInPandas
    path: exact row parity (every Record lands exactly once) and correct
    values, with the chunked flush active (chunk smaller than the file's
    record count)."""
    from mhealth_spark import loader
    from mhealth_spark.loader import load_healthkit_xml

    n1, n2 = 15_000, 12_000
    _write_big_export(tmp_path / "export_a.xml", n1, day_offset=0)
    _write_big_export(tmp_path / "export_b.xml", n2, day_offset=10)
    assert (tmp_path / "export_a.xml").stat().st_size > 2_000_000

    old = loader._XML_CHUNK_ROWS
    loader._XML_CHUNK_ROWS = 4096  # force multiple flushes per file
    try:
        df = load_healthkit_xml(spark, str(tmp_path / "*.xml"))
        agg = df.groupBy().agg(
            F.count("*").alias("n"),
            F.count_distinct("utc_start").alias("n_ts"),
            F.avg(F.col("value").cast("double")).alias("mean_v"),
        ).collect()[0]
    finally:
        loader._XML_CHUNK_ROWS = old
    assert agg["n"] == n1 + n2
    assert agg["n_ts"] == n1 + n2  # distinct timestamps across both days
    assert abs(agg["mean_v"] - (60 + 19.5)) < 0.2


def test_healthkit_xml_streaming_memory_bound(tmp_path):
    """The per-file parse keeps peak Python memory O(chunk), not O(file):
    tracemalloc peak while consuming chunked output stays far below the
    single-chunk (hold-everything) peak on the same 8 MB+ export."""
    import tracemalloc

    from mhealth_spark.loader import _parse_healthkit_export

    p = tmp_path / "big.xml"
    _write_big_export(p, 40_000)
    content = p.read_bytes()
    assert len(content) > 6_000_000

    def peak(chunk_rows: int) -> tuple[int, int]:
        tracemalloc.start()
        total = 0
        for pdf in _parse_healthkit_export(content, chunk_rows=chunk_rows):
            total += len(pdf)
        _, pk = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return pk, total

    pk_chunked, n_chunked = peak(2_000)
    pk_whole, n_whole = peak(10**9)
    assert n_chunked == n_whole == 40_000
    # chunked peak ~ BytesIO copy + one chunk; hold-everything peak adds
    # the full 40k-row materialization on top
    assert pk_chunked < pk_whole * 0.6, (pk_chunked, pk_whole)
    assert pk_chunked < len(content) * 1.6, (pk_chunked, len(content))


def test_pack_sequences_greedy_matches_python_reference(spark):
    """First-fit-sequential greedy packing (applyInPandas kernel) vs an
    independent pure-Python walk, plus invariants: packs never exceed the
    budget unless a single doc alone does; chunked packing agrees on
    offsets."""
    from mhealth_spark.pipelines.corpus import (
        pack_sequences_chunked,
        pack_sequences_greedy,
    )

    tk = synth_tokens(spark, 800, seed=11).select("doc_id", "source", "ts", "n_tok")
    budget = 1500
    got = (
        pack_sequences_greedy(tk, budget=budget)
        .toPandas()
        .sort_values(["entity", "pack_id", "pack_fill"])
    )
    pdf = tk.toPandas().sort_values(["source", "ts", "doc_id"], kind="mergesort")
    for src, grp in pdf.groupby("source"):
        pack, fill, want = 0, 0, {}
        for _, r in grp.iterrows():
            n = int(r.n_tok)
            if fill > 0 and fill + n > budget:
                pack, fill = pack + 1, 0
            want[r.doc_id] = (pack, fill)
            fill += n
        sub = got[got.entity == src].set_index("doc_id")
        for doc_id, (p, f) in want.items():
            assert (sub.loc[doc_id, "pack_id"], sub.loc[doc_id, "pack_fill"]) == (p, f)
    # budget invariant
    sums = got.groupby(["entity", "pack_id"])["n_tok"].agg(["sum", "count", "max"])
    over = sums[sums["sum"] > budget]
    assert (over["count"] == 1).all()  # only single oversized docs overflow
    # chunked variant: offsets are the exclusive prefix sums
    ch = pack_sequences_chunked(tk, budget=budget).toPandas()
    ch = ch.sort_values(["source", "ts", "doc_id"], kind="mergesort")
    for src, grp in ch.groupby("source"):
        cum = 0
        for _, r in grp.iterrows():
            assert r.pack_offset_tokens == cum
            assert r.pack_id == cum // budget
            cum += int(r.n_tok)
