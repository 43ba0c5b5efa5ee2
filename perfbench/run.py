#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
the seed, runs the engine on them for about S seconds, checks every
output without the engine, and prints one JSON object as the last line
of standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything else goes to standard
error; a traced run also writes its spans to
``perfbench/_work/traces/<workload>-seed<N>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

STARTED = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
}

def _unit(quantity: str) -> str:
    if quantity.endswith("_s"):
        return "s"
    if quantity.endswith(("_per_batch_byte", "_per_live_byte")):
        return "ratio"
    if quantity.endswith("_bytes") or quantity == "bytes_written":
        return "bytes"
    return {"native": "flag", "tasks_per_job": "tasks/job"}.get(quantity, "count")


def _per_layer() -> dict[str, str]:
    base = ("busy_s", "self_s", "jobs", "tasks", "stage_s", "driver_gap_s")
    fmts = ("delta", "iceberg", "manifest")
    ops = ("minhash", "bpe", "kmeans")
    q: dict[str, list[str]] = {
        "session.get_spark": ["busy_s"],
        "sources.file": [*base, "input_bytes"],
        "compiler.jq": ["jobs", "native", "compile_s"],
        "compiler.template": ["compile_s"],
        "pipeline.run": [*base, "shuffle_write_bytes", "persisted_bytes"],
        "sinks.file": [*base, "shuffle_write_bytes", "files_written", "bytes_written"],
        "sinks.s3": [*base, "shuffle_write_bytes", "files_written", "bytes_written"],
    }
    for f in fmts:
        q[f"streaming.{f}.merge"] = [
            *base, "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "files_rewritten", "bytes_written_per_batch_byte", "table_bytes_per_live_byte",
        ]
    for f in fmts:
        q[f"sources.{f}.read"] = ["busy_s", "jobs", "tasks", "stage_s", "driver_gap_s",
                                  "input_bytes", "files_scanned"]
    for op in ops:
        q[f"operators.{op}"] = [*base, "shuffle_write_bytes", "shuffle_read_bytes",
                                # BPE over the small corpus never spills; its slot
                                # in BENCHMARK.json's 128 holds trace.overhead_noise_s
                                *(["spill_bytes"] if op != "bpe" else []), "tasks_per_job"]
    out = {f"{span}.{k}": _unit(k) for span, ks in q.items() for k in ks}
    out["process.tree.peak_rss_mb"] = "MB"
    out["trace.unattributed_jobs"] = "count"
    out["trace.overhead_s"] = "s"
    out["trace.overhead_noise_s"] = "s"
    return out


PER_LAYER = _per_layer()


def _set_environment(work: str) -> None:
    """Environment for the engine, in this process and the ones it
    starts: the checkout on the import path, at most four local cores,
    and every temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_GRAFT_CPUS=str(min(4, len(os.sched_getaffinity(0)))),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = None


def _finite(v) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "optimus_any2any_spark", "__init__.py")):
        print(f"perfbench: no optimus_any2any_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    import workloads
    from measure import cpu_times
    from procs import become_subreaper, stop_descendants, stop_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(HERE, "_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _set_environment(work)
    become_subreaper()

    # Spark's JVM inherits our file descriptors: keep standard output for
    # the result line alone by pointing fd 1 at standard error meanwhile.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    ctx = workloads.Ctx(work, args.seed, args.seconds, bool(args.trace), STARTED)
    cpu0 = cpu_times()
    try:
        outcome = workloads.run_workload(ctx, args.workload)
    finally:
        sys.stdout.flush()
        stop_spark()
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    if outcome is None:
        return 1

    steal, total = (b - a for a, b in zip(cpu0, cpu_times()))
    detail = dict(outcome.detail, attempted=ctx.attempted, failed=ctx.failed,
                  error_rate=ctx.failed / max(ctx.attempted, 1),
                  host_steal_pct=100 * steal / max(total, 1))
    print("# detail " + json.dumps({"workload": args.workload, "seed": args.seed,
                                    "trace": args.trace, **detail}), file=sys.stderr)
    if args.trace:
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"layers": outcome.layers, "spans": outcome.spans,
                       "raw": outcome.trace}, f)
        print(f"# spans written to {trace_path}", file=sys.stderr)
        metrics = {k: {"value": float(outcome.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(outcome.metrics[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    correct = ctx.failed == 0 and all(math.isfinite(m["value"]) for m in metrics.values())
    for m in metrics.values():
        m["value"] = _finite(m["value"])
    for k, m in metrics.items():
        print(f"# {args.workload} {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    if not args.trace:
        for k, v in detail.items():
            if k.endswith(("_s", "_mb")) and k not in metrics or k == "error_rate":
                unit = {"_s": "s", "_mb": "MB"}.get(k[k.rfind("_"):], "ratio")
                print(f"# {args.workload} {k} = {v:.6g} {unit}", file=sys.stderr)
    result = {"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
              "metrics": metrics}
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
