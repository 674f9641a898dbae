"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads: ``tokens_pipeline`` and
``registry_sweep`` (see ``BENCHMARK.json`` and ``perfbench/README.md``). Each run
builds everything it needs from the checked-out sources and the seed,
inside ``.perfbench/runs/<run>`` in the checkout, and removes it at the
end. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON object with the run's context: host load
and CPU steal at start and end, input sizes, where Python workers
imported the package from, and the paths the library writes outside
the run. A traced run also writes its spans as JSON lines to
``.perfbench/traces/``.

Exits 0 when every operation and every correctness check passed, 1 when
one failed (the result line is still printed), and 2 without a result
when the package or ``BENCHMARK.json`` is missing or a run overruns.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tokens_pipeline", "registry_sweep")
DEADLINE_S = 170


class RunContext:
    """What a workload gets: its seed and time budget, the run directory,
    the tracer, and places to report input sizes and host marks."""

    def __init__(self, args, run_dir: str, tracer):
        from perfbench.harness import host_snapshot

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = tracer
        self.inputs: dict = {}
        self.timings: dict = {}
        self.marks = {"start": host_snapshot()}
        self.spark = None

    def host_mark(self, name: str) -> None:
        from perfbench.harness import host_snapshot

        self.marks[name] = host_snapshot()


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminate(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "mhealth_spark", "__init__.py")):
        return _fail(f"no mhealth_spark package under {ROOT}")
    if not os.path.isfile(spec_path):
        return _fail(f"no BENCHMARK.json under {ROOT}")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True
    from perfbench import harness as h

    run_dir = h.prepare_run_dir(args.workload, args.seed)
    # the JVM and its Python workers start in the run directory, so workers
    # can only import the package through the zip the session ships
    os.chdir(run_dir)
    import mhealth_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(mhealth_spark.__file__))) != ROOT:
        return _fail(f"mhealth_spark imported from {mhealth_spark.__file__}, not {ROOT}")

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    tracer = h.Tracer(enabled=bool(args.trace))
    ctx = RunContext(args, run_dir, tracer)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        res = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
        try:
            worker = h.check_worker_package(ctx.spark)
        except Exception as exc:  # noqa: BLE001 - a stale worker package is a failed check
            worker = {"error": str(exc)[:400]}
            res["failed"] += 1
            res["errors"].append(worker["error"])
        res["attempted"] += 1
        tmp_entries = sorted(os.listdir(os.environ["TMPDIR"]))
    except TimeoutError as exc:
        return _fail(str(exc))
    finally:
        signal.alarm(0)
        try:
            h.stop_session(ctx.spark)
        finally:
            h.shutdown_jvm()
            os.chdir(ROOT)
            if sys.exc_info()[0] is not None:
                shutil.rmtree(run_dir, ignore_errors=True)
    end = h.host_snapshot()

    metrics = res["layers"] if args.trace else res["e2e"]
    unknown = sorted(set(metrics) - set(units))
    if unknown:
        return _fail(f"workload reported metrics missing from BENCHMARK.json: {unknown}")
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "setup": h.host_window(ctx.marks["start"], ctx.marks.get("setup_end", end)),
            "loop": h.host_window(
                ctx.marks.get("setup_end", ctx.marks["start"]),
                ctx.marks.get("loop_end", end),
            ),
            "run": h.host_window(ctx.marks["start"], end),
        },
        "inputs": ctx.inputs,
        # per-workload figures behind the shared end-to-end metrics
        "workload_metrics": {
            name: {"value": float(v), "unit": u} for name, (v, u) in res["named"].items()
        },
        "timings": ctx.timings,
        "worker_package": worker,
        "library_tmp_entries": tmp_entries,
        "library_absolute_paths": h.absolute_path_literals(),
        "errors": res["errors"][:20],
    }
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{tag}.jsonl"), context)
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = res["failed"] == 0
    out = {
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        # a layer the workload bypasses reports 0 (no work done there)
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(context, default=str))
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
