"""registry_sweep: a fixed cross-family slice of the 127-query registry,
then the online ingest faces of ``streaming.py`` (``online_ingest.py``).

Set-up generates the registry's ten input tables (``inputs.
write_registry_tables``, fixed internal seed: the workload seed has no
effect on this input); its warm-up pre-materializes the two synthetic
token caches the tokens and BPE queries read, inside the run directory. One operation
is one query: the registered query function ``fn(spark, sf_dir)`` plus a
``toPandas()`` collect. The collected results of the first pass are
compared with each query's DuckDB oracle off the clock, with the
comparison of ``tools/check_oracles.py``.

Per-query fixed overhead dominates here (driver build, py4j expression
construction, eager checkpoints, planning, job scheduling); data work is
small. ``ann_ivf_probe`` and ``ann_ivfpq_probe`` are left out because they
persist their index under a fixed ``/tmp`` path, outside the run.

The online segment is driver-bound in the same way (per-micro-batch
trigger, planning and commit overhead) and bypasses the batch tokens
engine as the queries do. The timed loop runs the query slice
``PASSES_PER_S`` times per second of ``--seconds``, after one untimed
pass in set-up, then one stream pass over the segment's files, whose
first file is the stream's warm-up; an operation is one query or one
timed stream file. A query's latency is its median over the passes.
"""

from __future__ import annotations

import importlib.util
import inspect
import os
import shutil
import sys

DATA_SEED = 42
# the synthetic token caches the registry's tokens and BPE queries read
SYNTH_DOCS = 3000
# timed query sweeps per run: PASSES_PER_S per second of --seconds (at
# least one), a fixed amount of work so parent and child commits measure
# the same thing; three at the usual 10 s, so a query's median over the
# sweeps drops one disturbed sweep
PASSES_PER_S = 0.3

# ~0.5-1.3 s each at local[4], ~6 s in all: one query from each family of
# the registry, because fixed per-query overhead is what this workload
# measures.
QUERY_SET = [
    "flagship_hourly_daily_stats",
    "tokens_row_features",
    "corpus_source_stats",
    "corpus_bpe_top_pairs",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_winnow_fingerprints",
    "multimodal_frame_sample",
]

FAMILIES = [
    ("corpus_bpe_", "pipelines.bpe_s"),
    ("corpus_", "pipelines.corpus_s"),
    ("dedup_", "pipelines.dedup_s"),
    ("ann_", "pipelines.similarity_s"),
    ("similarity_", "pipelines.similarity_s"),
    ("text_", "pipelines.text_s"),
    ("multimodal_", "pipelines.multimodal_s"),
    ("tokens_", "tokens_engine.registry_s"),
]


def family(name: str) -> str:
    for prefix, fam in FAMILIES:
        if name.startswith(prefix):
            return fam
    return "queries.events_s"


def redirect_synth_cache(cache_dir: str) -> str | None:
    """Point ``materialize_synth_tokens``' default cache directory at the
    run directory, so registry queries neither read nor write a cache
    outside it. Returns the library's own default, which the oracle SQL
    names literally, or None when there is nothing to redirect."""
    from mhealth_spark import synth

    fn = synth.materialize_synth_tokens
    params = list(inspect.signature(fn).parameters.values())
    defaults = list(fn.__defaults__ or ())
    first_default = len(params) - len(defaults)
    names = [p.name for p in params]
    if "cache_dir" not in names or names.index("cache_dir") < first_default:
        return None
    idx = names.index("cache_dir") - first_default
    old = defaults[idx]
    defaults[idx] = cache_dir
    fn.__defaults__ = tuple(defaults)
    return old


def _load_check_oracles():
    """Import ``tools/check_oracles.py`` without letting its module-level
    ``sys.path`` edit outlive the import."""
    from perfbench.harness import ROOT

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_check_oracles", os.path.join(ROOT, "tools", "check_oracles.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def run(ctx) -> dict:
    from mhealth_spark import synth
    from mhealth_spark.queries import ORACLES, QUERIES
    from mhealth_spark.source import TESTDATA_TABLES, read_table

    from perfbench import harness as h
    from perfbench.inputs import write_registry_tables
    from perfbench.online_ingest import TIMED_FILES, OnlineIngest

    tr = ctx.tracer
    data = os.path.join(ctx.run_dir, "data")
    sf_dir = os.path.join(data, "sf")
    cache_dir = os.path.join(data, "synth_cache")
    old_cache = redirect_synth_cache(cache_dir)
    oracles = {
        k: v.replace(old_cache, cache_dir) if old_cache else v
        for k, v in ORACLES.items()
    }
    online = OnlineIngest(ctx, os.path.join(ctx.run_dir, "stream_data"))
    gen: dict = {}

    def make_inputs(spark, _round):
        shutil.rmtree(data, ignore_errors=True)
        with tr.span("synth.gen"):
            gen["rows"] = write_registry_tables(sf_dir, seed=DATA_SEED)
        online.make_inputs()

    setup = h.Setup(tr)
    spark, _ = setup.run(make_inputs)

    def warm():
        # the lazy caches the tokens and BPE queries read, then one pass of
        # every query, then the stream faces' artifacts
        synth.materialize_synth_tokens(spark, SYNTH_DOCS, seed=42)
        synth.materialize_synth_tokens(spark, SYNTH_DOCS, seed=42, vocab=256)
        for name in QUERY_SET:
            QUERIES[name](spark, sf_dir).toPandas()
        online.train(spark)

    setup.warm_up(warm)
    ctx.host_mark("setup_end")

    attempted = failed = 0
    errors: list[str] = []
    passes: list[dict] = []
    results: dict = {}
    for _ in range(max(1, round(ctx.seconds * PASSES_PER_S))):
        ops = []
        for name in QUERY_SET:
            attempted += 1
            op = {"name": name}
            with tr.span("queries.query", query=name) as q:
                try:
                    with tr.span("queries.build", spark_counts=True, query=name) as b:
                        df = QUERIES[name](spark, sf_dir)
                    with tr.span("queries.exec", spark_counts=True, query=name) as e:
                        pdf = df.toPandas()
                    op.update(build_s=b["end"] - b["start"], exec_s=e["end"] - e["start"])
                    if not passes:
                        results[name] = pdf
                except Exception as exc:  # noqa: BLE001 - counted, reported, sweep continues
                    failed += 1
                    errors.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
            op["op_s"] = q["end"] - q["start"]
            ops.append(op)
        passes.append({"ops": ops})
    attempted += TIMED_FILES
    try:
        stream = online.stream_pass(spark)
    except Exception as exc:  # noqa: BLE001 - counted and reported
        failed += TIMED_FILES
        errors.append(f"stream pass: {type(exc).__name__}: {exc}"[:400])
        stream = None
    ctx.host_mark("loop_end")

    # ---- correctness, off the clock: every first-pass result vs its oracle,
    # then the online segment's checks
    co = _load_check_oracles()
    con = co.duck_con(sf_dir)
    n_checked = 0
    for name, pdf in results.items():
        n_checked += 1
        try:
            problems = co.compare(name, pdf, con.execute(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001 - an oracle error is a failed check
            problems = [f"oracle error {type(exc).__name__}: {exc}"]
        if problems:
            failed += 1
            errors.append(f"oracle {name}: {'; '.join(problems)}"[:400])
    con.close()
    checks = online.check(spark, stream) if stream else {"failures": [], "names": []}
    n_checked += len(checks["names"])
    failed += len(checks["failures"])
    errors += checks["failures"]

    # an operation is one query or one timed stream file; a pass is the
    # median query sweep plus the timed stream batches
    sweeps = [sum(op["op_s"] for op in p["ops"]) for p in passes]
    per_query = {
        name: [op["op_s"] for p in passes for op in p["ops"] if op["name"] == name]
        for name in QUERY_SET
    }
    # one latency per query, its median over the passes
    query_times = [h.median(ts) for ts in per_query.values()]
    batch_times = stream["ops_s"] if stream else []
    stream_s = stream["timed_s"] if stream else 0.0
    e2e = {
        "setup_s": setup.setup_s,
        "items_per_s": (len(QUERY_SET) + TIMED_FILES) / (h.median(sweeps) + stream_s),
        # every query and stream file weighs the same in relative terms, so
        # a gain on any one of them moves it (a median would move only with
        # the middle ones)
        "op_gmean_s": h.gmean(query_times + batch_times),
    }
    named = {
        "sweep_s": (h.median(sweeps), "s"),
        "query_p50_s": (h.median(query_times), "s"),
        "ingest_docs_per_s": (
            stream["timed_docs"] / stream_s if stream_s else 0.0, "docs/s"),
        "batch_p50_s": (h.median(batch_times), "s"),
    }
    layers: dict = {}
    if ctx.trace:
        with tr.span("source.scan", spark_counts=True):
            for t in TESTDATA_TABLES:
                h.force(read_table(spark, t, sf_dir))
            h.force(online.inp["docs"])
        if stream:
            layers.update(online.layers(spark, stream, checks))
        tr.collect_spark_counts()
        layers.update(setup.metrics())
        # each input round records two synth.gen spans: tables, then stream corpus
        gen_s = tr.durations("synth.gen")
        layers["synth.gen_s"] = h.median(a + b for a, b in zip(gen_s[::2], gen_s[1::2]))
        layers["source.scan_s"] = h.median(tr.durations("source.scan"))

        def per_pass(fn):
            return h.median(fn(p["ops"]) for p in passes)

        build = per_pass(lambda ops: sum(op.get("build_s", 0.0) for op in ops))
        execs = per_pass(lambda ops: sum(op.get("exec_s", 0.0) for op in ops))
        layers.update({
            "queries.build_s": build,
            "queries.exec_s": execs,
            "queries.build_share": build / (build + execs),
            "queries.sweep_s": h.median(sweeps),
            "queries.jobs": sum(
                s.get("jobs", 0) for s in tr.spans
                if s["name"] in ("queries.build", "queries.exec")
            ) / len(passes),
            "trace.op_gmean_s": e2e["op_gmean_s"],
        })
        for _, fam in FAMILIES + [("", "queries.events_s")]:
            layers[fam] = per_pass(
                lambda ops, fam=fam: sum(op["op_s"] for op in ops if family(op["name"]) == fam)
            )
    ctx.inputs.update(
        tables=gen["rows"], table_rows=sum(gen["rows"].values()),
        table_bytes=h.dir_bytes(sf_dir), synth_cache_rows=2 * SYNTH_DOCS,
        synth_cache_bytes=h.dir_bytes(cache_dir),
        queries=len(QUERY_SET), passes=len(passes), **online.input_sizes(),
    )
    if ctx.trace:
        i = ctx.inputs
        layers["synth.rows"] = i["table_rows"] + i["synth_cache_rows"] + i["stream_docs"]
        layers["synth.bytes"] = (
            i["table_bytes"] + i["synth_cache_bytes"] + i["stream_corpus_bytes"]
        )
    ctx.timings.update(
        query_sweep_s=sweeps,
        query_s=per_query,
        stream_batch_s=batch_times,
        stream_wall_s=stream["wall_s"] if stream else 0.0,
    )
    ctx.spark = setup.spark
    return {
        "attempted": attempted + n_checked,
        "failed": failed,
        "errors": errors,
        "e2e": e2e,
        "named": named,
        "layers": layers,
    }
