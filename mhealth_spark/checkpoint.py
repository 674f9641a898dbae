"""Resumable per-partition checkpoints with lineage manifests
(north_rule: "resumable from per-partition checkpoints carrying lineage
manifests and row/byte metrics").

Output layout (one directory per run):

    out_dir/
      part=<i>/...parquet        one bucket of the entity hash space
      _manifests/part-<i>.json   {partition, rows, bytes, input_fingerprint,
                                  app_id, finished_at_epoch}
      _lineage.json              {input_fingerprint, num_partitions, conf}

Resume contract: a partition whose manifest exists AND matches the
current input fingerprint is skipped; everything else recomputes. The
fingerprint is a cheap distributed hash over the input keys (xxhash64
xor-fold), so a changed input invalidates stale manifests instead of
silently reusing them.

This is plain application logic over the public API — no Catalyst work —
and the unit of restart is an entity-hash bucket, so a resume never
re-shuffles completed work.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, functions as F


def input_fingerprint(df: DataFrame, key_cols: list[str]) -> str:
    """Order-insensitive 64-bit fingerprint of the input keys (xor-fold of
    xxhash64 + row count) — one cheap aggregate job, ANSI-safe."""
    h = df.select(
        F.xxhash64(*[F.col(c) for c in key_cols]).alias("h")
    ).agg(
        F.bit_xor(F.col("h")).alias("x"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{h['x']}:{h['n']}"


def _manifest_path(out_dir: str, part: int) -> str:
    return os.path.join(out_dir, "_manifests", f"part-{part}.json")


def _write_json_atomic(path: str, obj: dict) -> None:
    """Commit a JSON file by rename, so readers never see a partial one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def completed_partitions(out_dir: str, fingerprint: str) -> set[int]:
    mdir = os.path.join(out_dir, "_manifests")
    done: set[int] = set()
    if not os.path.isdir(mdir):
        return done
    for name in os.listdir(mdir):
        if not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(mdir, name)) as fh:
                m = json.load(fh)
            if m.get("input_fingerprint") == fingerprint:
                done.add(int(m["partition"]))
        except (ValueError, KeyError, json.JSONDecodeError):
            continue
    return done


def checkpointed_write(
    df: DataFrame,
    out_dir: str,
    entity_col: str,
    num_partitions: int = 16,
    fingerprint: str | None = None,
    fail_after: int | None = None,
) -> dict:
    """Write ``df`` bucketed by ``hash(entity) % num_partitions`` with one
    manifest per completed bucket; skip buckets already completed for the
    same input fingerprint.

    ``fail_after`` aborts after N buckets (test hook for resume).
    Returns {written, skipped, rows, bytes}.
    """
    spark = df.sparkSession
    fp = fingerprint or input_fingerprint(df, [entity_col])
    os.makedirs(os.path.join(out_dir, "_manifests"), exist_ok=True)
    done = completed_partitions(out_dir, fp)

    todo = [p for p in range(num_partitions) if p not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    stats = {"written": 0, "skipped": len(done), "rows": 0, "bytes": 0}

    if todo:
        # ONE job writes every missing bucket (dynamic partition dirs);
        # the input is scanned once, shuffled once on the bucket key, and
        # the per-bucket row counts ride along as observed metrics.
        bucket = F.pmod(F.xxhash64(F.col(entity_col)), F.lit(num_partitions))
        obs = Observation("checkpointed_write")
        (
            df.withColumn("_bucket", bucket)
            .filter(F.col("_bucket").isin(todo))
            .observe(
                obs,
                *[F.count_if(F.col("_bucket") == p).alias(str(p)) for p in todo],
            )
            .repartition(len(todo), "_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir + "/_staging")
        )
        counts = obs.get
        for part in todo:
            sdir = os.path.join(out_dir, "_staging", f"_bucket={part}")
            pdir = os.path.join(out_dir, f"part={part}")
            if os.path.isdir(pdir):
                import shutil

                shutil.rmtree(pdir)
            if os.path.isdir(sdir):
                os.replace(sdir, pdir)
            else:
                os.makedirs(pdir, exist_ok=True)  # empty bucket
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            rows = int(counts[str(part)])
            nbytes = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
            manifest = {
                "partition": part,
                "rows": rows,
                "bytes": nbytes,
                "input_fingerprint": fp,
                "app_id": spark.sparkContext.applicationId,
                "finished_at_epoch": int(time.time()),
            }
            _write_json_atomic(_manifest_path(out_dir, part), manifest)
            stats["written"] += 1
            stats["rows"] += rows
            stats["bytes"] += nbytes
    if fail_after is not None and fail_after < num_partitions - len(done):
        raise RuntimeError(f"injected failure after {fail_after} partitions")

    lineage = {
        "input_fingerprint": fp,
        "num_partitions": num_partitions,
        "entity_col": entity_col,
        "app_id": spark.sparkContext.applicationId,
    }
    _write_json_atomic(os.path.join(out_dir, "_lineage.json"), lineage)
    return stats


def read_checkpointed(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "part=*"))
