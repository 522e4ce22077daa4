"""CDC ingest benchmark for the etl_spark engine.

Usage (from the root of a checkout):

    python3 cdcbench/run.py --workload bulk-backfill --seed 1 --seconds 20 --trace 0

Workloads: ``bulk-backfill``, ``micro-tail``, ``serve-while-ingest``
(``cdcbench/metrics.json`` says why each was chosen and which metrics each
layer should move). ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` runs the same workload with spans and Spark job groups around
every call and reports the per-layer metrics. ``--size tiny`` shrinks every
input, for the self-tests.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it holds the run's fingerprint and details (tail percentiles
and sample counts, workload-specific per-layer metrics, failed share).

Everything the run writes stays under ``.bench_work/`` in the checkout:
feeds (the measured ones cached per seed and size), tables and checkpoints (deleted at exit),
Spark local dirs, temporary files and trace files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the end-to-end metrics BENCHMARK.json gates. epoch_ptail_s,
# lookup_ptail_ms and scan_s are measured too but print in the detail line
# only: a run holds 1-20 samples of each, so the tails are their maximum
E2E = [
    "setup_s",
    "events_per_s",
    "epoch_p50_s",
    "lookup_p50_ms",
    "jvm_peak_rss_mb",
]
PER_LAYER = [
    "session.start_s",
    "session.seed_s",
    "session.warmup_s",
    "operators.merge.jobs_per_epoch",
    "operators.merge.driver_s_per_epoch",
    "operators.merge.executor_run_s",
    "operators.merge.shuffle_write_bytes",
    "operators.merge.shuffle_read_bytes",
    "operators.merge.spill_bytes",
    "operators.merge.files_rewritten",
    "operators.merge.files_added",
    "operators.merge.mor_share",
    "operators.dedup.wall_s",
    "operators.dedup.rows_in",
    "operators.dedup.rows_out",
    "operators.dedup.shuffle_write_bytes",
    "table.table.snapshot_ms",
    "table.table.live_files",
    "table.table.mor_files",
    "table.table.lookup_bytes_read",
    "table.table.lookup_rows_read_per_row_returned",
    "table.table.bytes_written_per_input_byte",
    "table.table.bytes_per_live_row",
    "table.maintenance.compactions",
    "table.maintenance.compact_s",
    "table.maintenance.files_in",
    "table.maintenance.bytes_rewritten",
    "trace.overhead_share",
]


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_sha() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return r.stdout.strip() if r.returncode == 0 else "none"


def _driver_memory() -> str:
    """A driver heap well below physical RAM (the engine's own default is
    16g): a quarter of RAM, at most 3g."""
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(3, int(total_gb // 4)))}g"


def _young(mem: str) -> str:
    """A quarter of the driver heap, for the young generation."""
    return f"{int(mem[:-1]) * 256}m"


def _start_session(work_root: str, cores: int, mem: str):
    from etl_spark.session import build_session

    tmp = os.path.join(work_root, "tmp")
    return build_session(
        app_name="cdcbench",
        master=f"local[{cores}]",
        cores=cores,
        extra_conf={
            "spark.driver.memory": mem,
            # a fixed-size heap with a fixed young generation: the JVM's
            # adaptive sizing grows the heap after slow collections, so its
            # peak RSS would follow how busy the host was, not what the
            # program keeps
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{mem} -Xmn{_young(mem)}",
            "spark.sql.warehouse.dir": os.path.join(work_root, "warehouse"),
            "spark.sql.streaming.stopTimeout": "10s",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_spark", "__init__.py")):
        print("cdcbench: no etl_spark package beside the benchmark; run it from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cdcbench import feeds, workloads
    from cdcbench.trace import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".bench_work")
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(work_root, "runs", run_id)
    cache = os.path.join(work_root, "feeds", args.size)
    for d in (run_dir, cache, os.path.join(work_root, "tmp"), os.path.join(work_root, "traces")):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    mem = _driver_memory()
    os.environ["TMPDIR"] = os.path.join(work_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_root, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = mem

    sz = feeds.SIZES[args.size]
    t_proc = time.perf_counter()
    spark = _start_session(work_root, cores, mem)
    start_s = time.perf_counter() - t_proc
    spark.sparkContext.setLogLevel("ERROR")
    try:
        import pyspark

        fingerprint = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "size": args.size,
            "sizes": sz,
            "nproc": cores,
            "driver_memory": mem,
            "young_generation": _young(mem),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "git_sha": _git_sha(),
            "source_sha256": _source_digest(),
        }
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        ctx = workloads.Ctx(spark, tracer, run_dir, cache, args.seed, args.seconds, sz, jvm_pid)
        ctx.mark("session")
        try:
            out = workloads.WORKLOADS[args.workload](ctx)
        except Exception:
            traceback.print_exc()
            return 1
        prev = t_proc
        out.detail["wall_s"] = {}
        for label, t in ctx.marks:
            out.detail["wall_s"][label] = t - prev
            prev = t
        setup_s = start_s + out.setup["seed_s"] + out.setup["warmup_s"]
        failed = out.attempted if out.errors else 0
        e2e = dict(out.e2e)
        e2e["setup_s"] = (setup_s, "s")
        e2e["jvm_peak_rss_mb"] = (out.rss, "MB")
        layer = dict(out.layer)
        layer["session.start_s"] = (start_s, "s")
        layer["session.seed_s"] = (out.setup["seed_s"], "s")
        layer["session.warmup_s"] = (out.setup["warmup_s"], "s")
        if args.trace:
            wl = next(s for s in tracer.spans if s["name"] == "workload")
            layer["trace.overhead_share"] = (tracer.overhead / (wl["end"] - wl["start"]), "ratio")
            trace_path = os.path.join(work_root, "traces", f"{args.workload}-s{args.seed}-{run_id}.json")
            tracer.dump(trace_path, {"fingerprint": fingerprint, "metrics": {**e2e, **layer}})
        names = PER_LAYER if args.trace else E2E
        missing = [n for n in names if n not in (layer if args.trace else e2e)]
        if missing:
            print(f"cdcbench: metrics not measured: {missing}", file=sys.stderr)
            return 1
        chosen = layer if args.trace else e2e
        extra = {k: v for k, v in layer.items() if k not in PER_LAYER} if args.trace else {}
        print(
            json.dumps(
                {
                    "fingerprint": fingerprint,
                    "errors": out.errors,
                    "detail": out.detail,
                    "e2e": {
                        "failed_share": {"value": failed / max(1, out.attempted), "unit": "ratio"},
                        **{k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()},
                    },
                    "per_layer_extra": {k: {"value": v[0], "unit": v[1]} for k, v in extra.items()},
                }
            )
        )
        print(
            json.dumps(
                {
                    "correct": not out.errors,
                    "attempted": max(1, out.attempted),
                    "failed": failed,
                    "metrics": {n: {"value": chosen[n][0], "unit": chosen[n][1]} for n in names},
                }
            )
        )
        return 0
    finally:
        _stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
