"""tokens_pipeline: the north-rule feature path over ``synth_tokens(seed)``.

Set-up writes a narrow table (doc_id, writer_id, source, ts, n_tok) and a
payload table with token arrays, plus a seeded request set, as parquet.
One operation of the closed loop is one pipeline iteration:

- read phase: feature_vectors, sessionized, training_set_grid, the generic
  point-in-time join (backfill_features), row_features (token pass-through)
  and daily_source_stats, each forced with the noop sink;
- write phase: input fingerprint, a full ``checkpointed_write``, a write
  with a failure injected at half the buckets, its resume, and a read-back.

Off the clock it checks that pass-through token arrays equal the input per
doc_id, that output row counts (recorded in the warm-up iteration) match
DuckDB, that a seeded sample of
feature rows is allclose to a DuckDB recomputation from past events only,
and that the resumed checkpoint reads back equal to the uninterrupted one.
A traced run also measures feature_vectors on a local[1] context over the
same table for the 1→4 scaling efficiency.
"""

from __future__ import annotations

import math
import os
import shutil
import time

N_NARROW = 120_000
N_PAYLOAD = 4_000
PAYLOAD_MEAN_LEN = 256
N_REQUESTS = 1_200
BUCKETS = 4
FAIL_AFTER = BUCKETS // 2
SAMPLE = 200
# timed iterations per run: one per ITERATION_S of --seconds (at least one),
# a fixed amount of work so parent and child commits measure the same thing
ITERATION_S = 10

STAGES = [
    "tokens_engine.feature_vectors",
    "tokens_engine.sessionized",
    "tokens_engine.training_set_grid",
    "asof.backfill_features",
    "tokens_engine.row_features",
    "tokens_engine.daily_source_stats",
]


def _stage_frames(te, inp: dict) -> dict:
    narrow, payload, requests = inp["narrow"], inp["payload"], inp["requests"]
    return {
        "tokens_engine.feature_vectors": lambda: te.feature_vectors(narrow),
        "tokens_engine.sessionized": lambda: te.sessionized(narrow),
        "tokens_engine.training_set_grid": lambda: te.training_set_grid(narrow),
        "asof.backfill_features": lambda: te.backfill_features(
            narrow, requests, entity_col="writer_id"
        ),
        "tokens_engine.row_features": lambda: te.row_features(payload),
        "tokens_engine.daily_source_stats": lambda: te.daily_source_stats(narrow),
    }


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from mhealth_spark import checkpoint as ck
    from mhealth_spark import tokens_engine as te
    from mhealth_spark.synth import synth_tokens

    from perfbench import harness as h

    tr = ctx.tracer
    data = os.path.join(ctx.run_dir, "data")
    paths = {k: os.path.join(data, k) for k in ("narrow", "payload", "requests")}

    def make_inputs(spark, _round):
        shutil.rmtree(data, ignore_errors=True)
        with tr.span("synth.gen"):
            synth_tokens(spark, N_NARROW, seed=ctx.seed).select(
                "doc_id", "writer_id", "source", "ts", "n_tok"
            ).write.parquet(paths["narrow"])
            synth_tokens(
                spark, N_PAYLOAD, seed=ctx.seed + 7919, mean_len=PAYLOAD_MEAN_LEN
            ).write.parquet(paths["payload"])
            # requests: seeded sample of (writer, ts + 1h) points
            spark.read.parquet(paths["narrow"]).sample(
                fraction=N_REQUESTS / N_NARROW, seed=ctx.seed
            ).select(
                "writer_id", (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts")
            ).dropDuplicates().write.parquet(paths["requests"])
        return {k: spark.read.parquet(p) for k, p in paths.items()}

    setup = h.Setup(tr)
    spark, inp = setup.run(make_inputs)

    # ---- closed loop -----------------------------------------------------
    frames = _stage_frames(te, inp)
    payload = inp["payload"]
    payload_bytes = h.dir_bytes(paths["payload"])
    ck_root = os.path.join(ctx.run_dir, "ckpt")

    def iteration(tag: str, counts: dict | None = None) -> dict:
        """One pipeline iteration: read phase, then write phase. With
        ``counts``, each read stage also records its output row count
        through an observed metric, in the same pass."""
        shutil.rmtree(ck_root, ignore_errors=True)
        full_dir = os.path.join(ck_root, f"full-{tag}")
        res_dir = os.path.join(ck_root, f"resume-{tag}")
        it: dict = {"spans": {}, "full_dir": full_dir, "res_dir": res_dir}

        def step(name, fn):
            with tr.span(name, spark_counts=True) as s:
                out = fn()
            it["spans"][name] = s
            return out

        with tr.span("pipeline.iteration", iteration=tag) as it_span:
            with tr.span("pipeline.read_phase") as rp:
                for name in STAGES:
                    step(name, lambda name=name: _force_stage(frames[name](), name, counts))
            with tr.span("pipeline.write_phase"):
                fp = step("checkpoint.fingerprint",
                          lambda: ck.input_fingerprint(payload, ["writer_id"]))
                stats = step("checkpoint.write", lambda: ck.checkpointed_write(
                    payload, full_dir, "writer_id", BUCKETS, fingerprint=fp))
                step("checkpoint.fail_write", lambda: _failed_write(ck, payload, res_dir, fp))
                rstats = step("checkpoint.resume", lambda: ck.checkpointed_write(
                    payload, res_dir, "writer_id", BUCKETS, fingerprint=fp))
                step("checkpoint.read",
                     lambda: h.force(ck.read_checkpointed(spark, full_dir)))
        it.update(
            op_s=it_span["end"] - it_span["start"],
            read_phase_s=rp["end"] - rp["start"],
            ckpt_rows=stats["rows"],
            ckpt_bytes=stats["bytes"],
            redo_ratio=rstats["written"] / (BUCKETS - FAIL_AFTER),
        )
        return it

    # the warm-up iteration also yields the row counts the checks compare
    counts: dict = {}
    setup.warm_up(lambda: iteration("warm", counts))
    ctx.host_mark("setup_end")
    iters: list[dict] = []
    attempted = failed = 0
    errors: list[str] = []
    for i in range(max(1, int(ctx.seconds // ITERATION_S))):
        attempted += 1
        t0 = time.perf_counter()
        try:
            iters.append(iteration(str(i)))
        except Exception as exc:  # noqa: BLE001 - counted and reported
            failed += 1
            errors.append(f"iteration {i}: {type(exc).__name__}: {exc}"[:400])
            iters.append({"op_s": time.perf_counter() - t0, "failed": True})
            break
    ctx.host_mark("loop_end")

    # ---- correctness, off the clock --------------------------------------
    checks = _check(spark, ctx, inp, paths, frames, iters, counts)
    n_checks_failed = len(checks["failures"])
    errors += checks["failures"]
    good = [it for it in iters if not it.get("failed")]

    read_phase = h.median(it["read_phase_s"] for it in good)
    e2e = {
        "setup_s": setup.setup_s,
        "items_per_s": checks["feature_rows"] / read_phase if read_phase else 0.0,
        # one kind of operation, so the geometric mean over kinds is its median
        "op_gmean_s": h.median(it["op_s"] for it in iters),
    }
    named = {
        "feature_rows_per_s": (e2e["items_per_s"], "rows/s"),
        "ckpt_rows_per_s": (h.median(
            it["ckpt_rows"] / _dur(it, "checkpoint.write") for it in good), "rows/s"),
        "resume_s": (h.median(_dur(it, "checkpoint.resume") for it in good), "s"),
    }
    ctx.inputs.update(
        narrow_rows=N_NARROW, payload_rows=N_PAYLOAD, requests_rows=checks["requests"],
        narrow_bytes=h.dir_bytes(paths["narrow"]), payload_bytes=payload_bytes,
        requests_bytes=h.dir_bytes(paths["requests"]),
        feature_rows_per_iteration=checks["feature_rows"],
        checkpoint_rows=good[-1]["ckpt_rows"] if good else 0,
    )
    layers: dict = {}
    if ctx.trace:
        with tr.span("source.scan", spark_counts=True):
            h.force(inp["narrow"])
        with tr.span("source.payload_scan", spark_counts=True):
            h.force(inp["payload"])
        tr.collect_spark_counts()
        layers = _layers(tr, setup, good, checks, payload_bytes)
        layers["synth.rows"] = N_NARROW + N_PAYLOAD + checks["requests"]
        layers["synth.bytes"] = sum(ctx.inputs[f"{k}_bytes"] for k in paths)
        layers.update(_scaling(ctx, setup, paths, good))
    ctx.timings.update(
        iteration_s=[it["op_s"] for it in iters],
        read_phase_s=[it["read_phase_s"] for it in good],
    )
    ctx.spark = setup.spark
    return {
        "attempted": attempted + len(checks["names"]),
        "failed": failed + n_checks_failed,
        "errors": errors,
        "e2e": e2e,
        "named": named,
        "layers": layers,
    }


def _dur(it: dict, name: str) -> float:
    s = it["spans"][name]
    return s["end"] - s["start"]


def _force_stage(df, name: str, counts: dict | None) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from perfbench.harness import force

    if counts is None:
        force(df)
        return
    obs = Observation(name)
    force(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    counts[name] = obs.get["rows"]


def _failed_write(ck, payload, out_dir, fp) -> None:
    """A checkpointed write that must stop with the injected failure."""
    try:
        ck.checkpointed_write(
            payload, out_dir, "writer_id", BUCKETS, fingerprint=fp,
            fail_after=FAIL_AFTER,
        )
    except RuntimeError as exc:
        if "injected failure" not in str(exc):
            raise
    else:
        raise RuntimeError("injected failure did not raise")


def _check(spark, ctx, inp, paths, frames, iters, counts) -> dict:
    """Correctness checks; each failing check adds one line to failures.
    ``counts`` are the stages' output row counts from the warm-up pass."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from mhealth_spark import checkpoint as ck

    out = {"failures": [], "names": [], "feature_rows": 0, "requests": 0}

    def check(name, ok, detail=""):
        out["names"].append(name)
        if not ok:
            out["failures"].append(f"check {name} failed {detail}"[:400])

    narrow, payload, requests = inp["narrow"], inp["payload"], inp["requests"]
    con = duckdb.connect()
    for k, p in paths.items():
        con.execute(f"CREATE VIEW {k} AS SELECT * FROM read_parquet('{p}/*.parquet')")

    # 1. pass-through token arrays equal the input's, per doc_id
    rf = frames["tokens_engine.row_features"]().select("doc_id", F.col("tokens").alias("t_out"))
    cmp = rf.join(payload.select("doc_id", "tokens"), "doc_id", "full_outer").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("t_out").eqNullSafe(F.col("tokens")), 0).otherwise(1)).alias("bad"),
    ).collect()[0]
    check("token_passthrough", cmp["n"] == N_PAYLOAD and cmp["bad"] == 0,
          f"rows={cmp['n']} mismatched={cmp['bad']}")

    # 2. output row counts match DuckDB
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    expected = {
        "tokens_engine.feature_vectors": N_NARROW,
        "tokens_engine.row_features": N_PAYLOAD,
        "tokens_engine.sessionized": q(
            "SELECT count(*) FROM (SELECT ts, lag(ts) OVER (PARTITION BY writer_id "
            "ORDER BY ts) AS p FROM narrow) WHERE p IS NULL "
            "OR (epoch_us(ts) - epoch_us(p)) / 6e7 > 60"
        ),
        "tokens_engine.training_set_grid": q(
            "SELECT sum(n) FROM (SELECT (epoch(date_trunc('hour', max(ts))) - "
            "epoch(date_trunc('hour', min(ts)))) / 3600 + 1 AS n "
            "FROM narrow GROUP BY source)"
        ),
        "asof.backfill_features": q("SELECT count(*) FROM requests"),
        "tokens_engine.daily_source_stats": q(
            "SELECT count(*) FROM (SELECT DISTINCT source, CAST(ts AS DATE) FROM narrow)"
        ),
    }
    out["requests"] = expected["asof.backfill_features"]
    for name, want in expected.items():
        got = counts.get(name, -1)
        out["feature_rows"] += got
        check(f"rows:{name}", got == want, f"got={got} want={want}")

    # 3. seeded sample of feature rows vs DuckDB from past events only
    rng = np.random.default_rng(ctx.seed)
    ids = [f"doc-{i}" for i in rng.choice(N_NARROW, SAMPLE, replace=False)]
    fv = frames["tokens_engine.feature_vectors"]().filter(F.col("doc_id").isin(ids))
    got = fv.toPandas().set_index("doc_id").sort_index()
    con.execute("CREATE TABLE ids AS SELECT unnest($1) AS doc_id", [ids])
    want = con.execute(
        """
        SELECT * FROM (
          SELECT doc_id,
                 lag(n_tok) OVER w AS prev_n_tok,
                 lead(n_tok) OVER w AS next_n_tok,
                 n_tok - lag(n_tok) OVER w AS delta_n_tok,
                 avg(n_tok) OVER wb AS roll_mean_n_tok,
                 sum(n_tok) OVER wb AS roll_sum_n_tok,
                 count(n_tok) OVER wb AS roll_count,
                 epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
          FROM narrow
          WINDOW w AS (PARTITION BY writer_id ORDER BY ts, doc_id),
                 wb AS (PARTITION BY writer_id ORDER BY ts, doc_id
                        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        WHERE doc_id IN (SELECT doc_id FROM ids)
        """
    ).df().set_index("doc_id").sort_index()
    leaked = _mismatched_rows(got, want)
    # point-in-time join: events in (ts - 24h, ts] of the request only
    req = requests.orderBy("writer_id", "ts").limit(SAMPLE)
    bf = frames["asof.backfill_features"]().join(req, ["writer_id", "ts"], "left_semi")
    got_b = bf.toPandas().set_index(["writer_id", "ts"]).sort_index()
    req_pdf = req.toPandas()
    con.register("req", req_pdf)
    want_b = con.execute(
        """
        SELECT r.writer_id, r.ts,
               count(e.n_tok) AS docs_24h, sum(e.n_tok) AS tokens_24h,
               avg(e.n_tok) AS mean_len_24h, max(e.n_tok) AS max_len_24h
        FROM req r LEFT JOIN narrow e
          ON e.writer_id = r.writer_id
         AND e.ts > r.ts - INTERVAL 24 HOUR AND e.ts <= r.ts
        GROUP BY r.writer_id, r.ts
        """
    ).df().set_index(["writer_id", "ts"]).sort_index()
    leaked += _mismatched_rows(got_b, want_b)
    check("no_leakage", leaked == 0 and len(got) == SAMPLE and len(got_b) == len(req_pdf),
          f"mismatched={leaked} fv_rows={len(got)} bf_rows={len(got_b)}")
    out["leaked_rows"] = leaked

    # 4. resumed checkpoint reads back equal to the uninterrupted one
    good = [it for it in iters if not it.get("failed")]
    if good and not iters[-1].get("failed"):
        a = ck.read_checkpointed(spark, good[-1]["full_dir"])
        b = ck.read_checkpointed(spark, good[-1]["res_dir"])
        na, nb = a.count(), b.count()
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        check("resume_equal", na == nb == N_PAYLOAD and diff == 0,
              f"rows={na}/{nb} differing={diff}")
        check("resume_redo_ratio", all(it["redo_ratio"] == 1.0 for it in good),
              str([it["redo_ratio"] for it in good]))
    con.close()
    return out


def _mismatched_rows(got, want) -> int:
    import numpy as np

    if list(got.index) != list(want.index):
        return max(len(got), len(want))
    bad = np.zeros(len(got), dtype=bool)
    for col in want.columns:
        a = got[col].to_numpy(dtype=float, na_value=np.nan)
        b = want[col].to_numpy(dtype=float, na_value=np.nan)
        bad |= ~np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
    return int(bad.sum())


def _layers(tr, setup, good, checks, payload_bytes) -> dict:
    from perfbench.harness import median

    out = setup.metrics()
    out["synth.gen_s"] = median(tr.durations("synth.gen"))
    out["source.scan_s"] = median(tr.durations("source.scan"))
    out["source.payload_scan_s"] = median(tr.durations("source.payload_scan"))

    def count(name, key):
        return median(it["spans"][name].get(key, 0) for it in good)

    for name in STAGES:
        out[f"{name}_s"] = median(_dur(it, name) for it in good)
        for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            out[f"{name}.{key}"] = count(name, key)
    out["checkpoint.fingerprint_s"] = median(_dur(it, "checkpoint.fingerprint") for it in good)
    out["checkpoint.write_s"] = median(_dur(it, "checkpoint.write") for it in good)
    # job time inside checkpointed_write other than its parquet write and
    # schema reads: today the per-bucket re-read counts
    out["checkpoint.count_s"] = median(
        sum(v for k, v in it["spans"]["checkpoint.write"].get("job_s", {}).items()
            if not k.startswith("parquet at"))
        for it in good
    )
    out["checkpoint.jobs"] = count("checkpoint.write", "jobs")
    out["checkpoint.bytes_written_per_input_byte"] = (
        median(it["ckpt_bytes"] for it in good) / payload_bytes
    )
    out["checkpoint.resume_redo_ratio"] = min(it["redo_ratio"] for it in good)
    out["checkpoint.read_s"] = median(_dur(it, "checkpoint.read") for it in good)
    out["checkpoint.rows_per_s"] = median(
        it["ckpt_rows"] / _dur(it, "checkpoint.write") for it in good
    )
    out["checkpoint.resume_s"] = median(_dur(it, "checkpoint.resume") for it in good)
    out["trace.op_gmean_s"] = median(it["op_s"] for it in good)
    return out


def _scaling(ctx, setup, paths, good) -> dict:
    """feature_vectors on a local[1] context (same JVM, after the local[4]
    context stops) over the same table; the local[4] figure is the loop's
    median. Efficiency = thr4 / (4 * thr1)."""
    from mhealth_spark import tokens_engine as te

    from perfbench import harness as h

    h.stop_session(setup.spark)
    setup.spark = None
    spark1 = h.build_session("local[1]")
    setup.spark = spark1
    ctx.tracer.bind(spark1)
    narrow = spark1.read.parquet(paths["narrow"])
    h.force(narrow)
    times = []
    for _ in range(3):
        with ctx.tracer.span("scaling.feature_vectors_local1") as s:
            h.force(te.feature_vectors(narrow))
        times.append(s["end"] - s["start"])
    thr1 = N_NARROW / h.median(times)
    name = "tokens_engine.feature_vectors"
    thr4 = N_NARROW / h.median(
        it["spans"][name]["end"] - it["spans"][name]["start"] for it in good
    )
    eff = thr4 / (4 * thr1)
    if not math.isfinite(eff):
        eff = 0.0
    return {
        "tokens_engine.scaling_eff_1to4": eff,
        "tokens_engine.fv_local4_rows_per_s": thr4,
        "tokens_engine.fv_local1_rows_per_s": thr1,
    }
