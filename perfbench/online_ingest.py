"""The online ingest segment of the ``registry_sweep`` workload: the
Structured Streaming faces of ``streaming.py``.

Set-up writes a seeded multi-line corpus (``inputs.write_online_corpus``:
planted near-duplicates, shared boilerplate lines) as one parquet file
per micro-batch, and trains the frozen artifacts the faces ship with:
the DSIR log-ratio table (``corpus.dsir_lambda_table``) and the
boilerplate line-hash set (``text.line_duplicate_hashes``).

Every file goes through the online path, read with ``readStream``
(``maxFilesPerTrigger=1``, ``availableNow``):

1. score query: ``stream_dsir_score`` → ``stream_line_dedup`` → parquet
   file sink;
2. gate query: the sink's files, again one per trigger, through
   ``stream_minhash_dedup`` on the cleaned text.

The first file warms both queries up and is not timed. One operation is
one later file; its latency is the sum of the two queries'
``triggerExecution`` for it. Off the clock it checks that every document
is emitted exactly once by both queries and that ``dsir_weight`` and
``text_clean`` equal the batch ``corpus.dsir_weights`` and
``text.line_dedup`` outputs.
"""

from __future__ import annotations

import os
import shutil

N_FILES = 3
# the first file is the warm-up batch; the others are timed operations
TIMED_FILES = N_FILES - 1
DOCS_PER_FILE = 200
TARGET_EXPR = "doc_id % 4 = 0"
STREAM_TIMEOUT_S = 120
SCORED_SCHEMA = (
    "doc_id long, text_clean string, dsir_weight double, n_feats long, "
    "n_lines long, n_kept long"
)
DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "latestOffset": "streaming.latest_offset_ms",
}


def _batches(query) -> list[dict]:
    return [
        p["durationMs"] for p in query.recentProgress if p["numInputRows"] > 0
    ]


class OnlineIngest:
    """Inputs, artifacts, the stream pass, checks and per-layer numbers of
    the online segment; the caller owns the session and the tracer."""

    def __init__(self, ctx, data_dir: str):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.data = data_dir
        self.in_dir = os.path.join(data_dir, "corpus")
        self.gen: dict = {}
        self.inp: dict = {}

    def make_inputs(self) -> None:
        from perfbench.inputs import write_online_corpus

        shutil.rmtree(self.data, ignore_errors=True)
        with self.tr.span("synth.gen"):
            self.gen = write_online_corpus(
                self.in_dir, self.ctx.seed, N_FILES, DOCS_PER_FILE
            )

    def train(self, spark) -> None:
        """The faces' frozen artifacts, trained on the whole corpus."""
        from mhealth_spark.pipelines import corpus, text

        docs = spark.read.parquet(self.in_dir)
        with self.tr.span("streaming.train_artifacts", spark_counts=True):
            lam = corpus.dsir_lambda_table(docs, TARGET_EXPR)
            dup_hashes = {
                r["h"] for r in text.line_duplicate_hashes(docs).select("h").collect()
            }
        self.inp = {"docs": docs, "lam": lam, "dup_hashes": dup_hashes}

    def stream_pass(self, spark) -> dict:
        """Both queries over every input file, in fresh state dirs."""
        from mhealth_spark.streaming import (
            stream_dsir_score,
            stream_line_dedup,
            stream_minhash_dedup,
        )

        tr, inp = self.tr, self.inp
        p = os.path.join(self.ctx.run_dir, "stream")
        dirs = {k: os.path.join(p, k) for k in ("scored", "ck1", "index", "out", "ck2")}
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        scored = stream_line_dedup(
            stream_dsir_score(src, inp["lam"]), inp["dup_hashes"]
        ).select(*[c.split()[0] for c in SCORED_SCHEMA.split(", ")])
        with tr.span("streaming.score_query") as s1:
            q1 = (
                scored.writeStream.format("parquet")
                .option("path", dirs["scored"])
                .option("checkpointLocation", dirs["ck1"])
                .trigger(availableNow=True)
                .start()
            )
            _await(q1)
        src2 = (
            spark.readStream.schema(SCORED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(dirs["scored"])
        )
        with tr.span("streaming.gate_query") as s2:
            q2 = (
                stream_minhash_dedup(src2, dirs["index"], dirs["out"], text_col="text_clean")
                .option("checkpointLocation", dirs["ck2"])
                .trigger(availableNow=True)
                .start()
            )
            _await(q2)
        b1, b2 = _batches(q1), _batches(q2)
        if len(b1) != N_FILES or len(b2) != N_FILES:
            raise RuntimeError(
                f"expected {N_FILES} non-empty batches per query, got "
                f"{len(b1)} and {len(b2)}"
            )
        timed = list(zip(b1, b2))[1:]
        ops_s = [(a["triggerExecution"] + b["triggerExecution"]) / 1000.0 for a, b in timed]
        return {
            "dirs": dirs,
            "wall_s": (s1["end"] - s1["start"]) + (s2["end"] - s2["start"]),
            "ops_s": ops_s,
            "timed_s": sum(ops_s),
            "timed_docs": TIMED_FILES * DOCS_PER_FILE,
            "parts_ms": {
                k: [a.get(k, 0) + b.get(k, 0) for a, b in timed] for k in DURATIONS
            },
        }

    def check(self, spark, stream: dict) -> dict:
        """Exactly-once emission and batch equality of the stream pass."""
        import numpy as np
        from pyspark.sql import functions as F

        from mhealth_spark.pipelines import corpus, text

        inp, gen = self.inp, self.gen

        out = {"failures": [], "names": []}

        def check(name, ok, detail=""):
            out["names"].append(name)
            if not ok:
                out["failures"].append(f"check {name} failed {detail}"[:400])

        dirs = stream["dirs"]
        n_docs = gen["docs"]
        ids = inp["docs"].select("doc_id")
        for name in ("scored", "out"):
            got = spark.read.parquet(dirs[name]).select("doc_id")
            row = got.agg(
                F.count("*").alias("n"), F.count_distinct("doc_id").alias("d")
            ).collect()[0]
            missing = ids.join(got, "doc_id", "left_anti").count()
            check(f"exactly_once:{name}", row["n"] == row["d"] == n_docs and missing == 0,
                  f"rows={row['n']} distinct={row['d']} missing={missing}")

        scored = spark.read.parquet(dirs["scored"]).toPandas().set_index("doc_id").sort_index()
        want_w = (
            corpus.dsir_weights(inp["docs"], TARGET_EXPR, lam=inp["lam"])
            .select("doc_id", "dsir_weight").toPandas().set_index("doc_id").sort_index()
        )
        same_ids = list(want_w.index) == list(scored.index)
        close = same_ids and np.allclose(
            scored["dsir_weight"].to_numpy(float), want_w["dsir_weight"].to_numpy(float),
            rtol=1e-9, atol=1e-12,
        )
        check("dsir_weight_equals_batch", bool(close), f"same_ids={same_ids}")
        want_c = (
            text.line_dedup(inp["docs"]).select("doc_id", "text_clean")
            .toPandas().set_index("doc_id").sort_index()
        )
        bad = (
            len(want_c) if list(want_c.index) != list(scored.index)
            else int((want_c["text_clean"] != scored["text_clean"]).sum())
        )
        check("text_clean_equals_batch", bad == 0, f"mismatched={bad}")

        flagged = {
            r["doc_id"]
            for r in spark.read.parquet(dirs["out"]).filter("is_dup").select("doc_id").collect()
        }
        planted = gen["planted_dups"]
        out["dup_recall"] = sum(1 for d in planted if d in flagged) / max(len(planted), 1)
        out["index_rows"] = spark.read.parquet(dirs["index"]).count()
        return out

    def layers(self, spark, stream: dict, checks: dict) -> dict:
        """Per-layer numbers of the streaming layer (traced runs)."""
        from mhealth_spark.streaming import stream_dsir_score, stream_line_dedup

        from perfbench import harness as h

        inp = self.inp
        with self.tr.span("streaming.faces", spark_counts=True) as f:
            h.force(stream_line_dedup(
                stream_dsir_score(inp["docs"], inp["lam"]), inp["dup_hashes"]
            ))
        out = {"streaming.faces_s": f["end"] - f["start"]}
        for key, name in DURATIONS.items():
            out[name] = h.median(stream["parts_ms"][key])
        ops = stream["ops_s"]
        k = max(1, len(ops) // 3)
        out["streaming.tail_over_head"] = (sum(ops[-k:]) / k) / (sum(ops[:k]) / k)
        out["streaming.index_rows"] = checks["index_rows"]
        out["streaming.dup_recall"] = checks["dup_recall"]
        return out

    def input_sizes(self) -> dict:
        return {
            "stream_docs": self.gen["docs"], "stream_files": N_FILES,
            "stream_timed_docs": TIMED_FILES * DOCS_PER_FILE,
            "stream_corpus_bytes": self.gen["bytes"],
            "stream_planted_dups": len(self.gen["planted_dups"]),
        }


def _await(query) -> None:
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"stream did not finish within {STREAM_TIMEOUT_S} s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
