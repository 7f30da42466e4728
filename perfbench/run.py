"""Benchmark entry point: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload query --seed 1 --smoke

Run it from any directory; it finds the package next to ``perfbench/``
and keeps every file it writes under ``.perfbench_work/`` there (Spark
scratch, temp files, warehouse), removing its own run directory at exit.
``--trace 1`` also writes the span file and the Spark event log to
``.perfbench_out/``.

The session is fitted to a four-core host from outside the package:
``SPARK_GRAFT_CPUS=4`` (``local[4]``), ``SPARK_DRIVER_MEMORY=1g`` and
the repository root on the Python workers' ``PYTHONPATH``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones, each ``{"value", "unit"}``. The
exit code is 0 only when every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "target_s3_parquet_spark")
WORKLOADS = ("ingest", "query")
CORES = 4
SESSION_ENV = {
    "SPARK_GRAFT_CPUS": str(CORES),
    "SPARK_DRIVER_MEMORY": "1g",
}


def _process_age_s() -> float:
    """Seconds since this interpreter process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _setup(args, work: str, tracer, process_start: float):
    """Process start -> session built, registry loaded, first trivial
    action. Returns (spark, queries, setup_s, get_spark_s, registry_s);
    ``process_start`` is the process's start on the ``perf_counter``
    clock."""
    from target_s3_parquet_spark import registry
    from target_s3_parquet_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    t_spark = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("registry.get_queries"):
        queries = registry.get_queries()
    t_registry = time.perf_counter() - t
    spark.sparkContext.setJobDescription(f"{args.workload}/setup/trivial")
    spark.range(1).collect()
    setup_s = time.perf_counter() - process_start
    return spark, queries, setup_s, t_spark, t_registry


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def _shutdown() -> None:
    """Stop the session, then the JVM it launched and the workers below
    it, and wait until each has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(workers, timeout=30)


def run_one(args, process_start: float) -> dict:
    from perfbench import ingest, query
    from perfbench.common import Context, EpochListener
    from perfbench.trace import EventLog, Tracer

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    tracer = Tracer(run_id, layers=bool(args.trace))
    try:
        spark, queries, setup_s, t_spark, t_registry = _setup(args, work, tracer, process_start)
        ctx = Context(
            spark=spark, tracer=tracer, work=work, workload=args.workload,
            seed=args.seed, seconds=args.seconds, smoke=args.smoke,
            queries=queries,
            listener=EpochListener(spark),
        )
        module = {"ingest": ingest, "query": query}[args.workload]
        e2e = module.run(ctx)
        e2e["setup_s"] = (setup_s, "s")
        e2e["peak_rss_mb"] = (ctx.peak_rss_mb, "MB")
        metrics = e2e
        if args.trace:
            spark.stop()  # flushes the event log
            log = EventLog.read(os.path.join(work, "eventlog"))
            layers = {
                "session.get_spark_s": (t_spark, "s"),
                "registry.get_queries_s": (t_registry, "s"),
                "trace.cold_pass_s": (e2e["cold_pass_s"][0], "s"),
                "trace.pass_s": (e2e["pass_s"][0], "s"),
            }
            layers.update(ingest.layer_metrics(ctx, log))
            layers.update(query.layer_metrics(ctx, log))
            layers.update(_spark_wide(ctx, log))
            metrics = layers
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
            for name in os.listdir(os.path.join(work, "eventlog")):
                shutil.copy(
                    os.path.join(work, "eventlog", name),
                    os.path.join(out, f"eventlog-{args.workload}-{args.seed}.json"),
                )
        summary = dict(ctx.summary)
        summary["failed_share"] = ctx.failed / max(1, ctx.attempted)
        print(
            f"[perfbench] {args.workload} seed={args.seed}: "
            + ", ".join(f"{k}={v:.4g}" for k, v in summary.items()),
            file=sys.stderr,
        )
        for p in ctx.problems:
            print(f"[perfbench] {p}", file=sys.stderr)
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {
                k: {"value": float(v), "unit": u}
                for k, (v, u) in sorted(metrics.items())
            },
        }
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def _spark_wide(ctx, log) -> dict:
    """Spark-wide figures: busy share over the timed warm passes, GC,
    spill and the worst stage's task skew over the whole run."""
    warm = [s for s in ctx.tracer.spans if s.name == "warm_pass"]
    wall = sum(s.seconds for s in warm)
    busy = sum(log.figures(s.start, s.end).run_s for s in warm)
    whole = log.figures(0.0, float("inf"))
    return {
        "spark.executor_busy_share": (busy / (wall * CORES) if wall else 0.0, "ratio"),
        "spark.gc_s": (whole.gc_s, "s"),
        "spark.spill_bytes": (whole.spill_bytes, "B"),
        "spark.task_skew": (whole.skew, "ratio"),
    }


def _run_all(args) -> int:
    """Each workload in its own fresh process; exit non-zero if any
    run fails or mismatches."""
    status = 0
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if proc.returncode != 0:
            status = 1
        print(json.dumps({"workload": w, "exit": proc.returncode, "result": result}))
    return status


def main(argv=None) -> int:
    process_start = time.perf_counter() - _process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, quick run")
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    os.environ.update(SESSION_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    result = run_one(args, process_start)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
