#!/usr/bin/env python3
"""Run one benchmark workload of the full-text index engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The corpus is generated from ``--seed``
and the queries from ``--query-seed`` (derived from ``--seed`` when not
given). With ``--trace 0`` the last line of standard output is one JSON
object holding every end-to-end metric; with ``--trace 1`` it holds
every per-layer metric instead, taken from spans around the engine's
module entry points, Spark's event log and ``/proc``. Every answer is
checked against the package's oracle; failures and mismatches are
counted in ``failed``.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root; each run leaves one provenance record (and, traced, its
spans) in ``.perfbench_work/records/`` and removes the rest.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "text_indexing_and_retrieval_system_spark"
MASTER = "local[4]"
# kept out of every tuning run: later performance claims re-check on it
HELD_OUT_SEED = 424242
DEFAULT_CONVS = {"ingest": 600, "query_batch": 1000, "update_mix": 600}
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "cold_query_ms": "ms",
    "driver_rss_mb": "MB",
    "index_bytes_per_text_byte": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(DEFAULT_CONVS))
    p.add_argument("--seed", type=int, required=True, help="corpus seed")
    p.add_argument("--query-seed", type=int, default=None, help="query seed (default: from --seed)")
    p.add_argument("--seconds", type=float, required=True, help="length of the timed region")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--convs", type=int, default=None, help="corpus size in conversations")
    return p.parse_args(argv)


# ----------------------------------------------------------------------
# processes
# ----------------------------------------------------------------------


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def other_spark_drivers() -> list[int]:
    from tracing import descendants

    mine = set(descendants()) | {os.getpid()}
    return [
        int(pid) for pid in os.listdir("/proc")
        if pid.isdigit() and int(pid) not in mine
        and "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid)
    ]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait until
    every process this run started has ended."""
    from tracing import descendants

    started = descendants()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ----------------------------------------------------------------------
# provenance
# ----------------------------------------------------------------------


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def provenance() -> dict:
    import pandas
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    return {
        "git_commit": commit,  # None outside a git checkout
        "source_sha256": digest.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG}/ not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    others = other_spark_drivers()
    if others:
        print(f"perfbench: another Spark driver is running (pids {others}); refusing to start",
              file=sys.stderr)
        return 3

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{run_id}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM performance-data files: they go to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    query_seed = args.query_seed if args.query_seed is not None else args.seed * 1_000_003 + 17
    convs = args.convs or DEFAULT_CONVS[args.workload]
    load_before = os.getloadavg()
    steal_before = cpu_steal_s()
    t_start = time.perf_counter()

    from text_indexing_and_retrieval_system_spark.session import get_spark

    import layers
    import tracing
    import workloads

    prov = provenance()
    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=MASTER,
                      shuffle_partitions=16, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    tracer = tracing.Tracer(run_id) if args.trace else None
    if tracer:
        tracer.install_engine_spans()
    ctx = workloads.Ctx(spark, work, args.seed, query_seed, args.seconds, convs, tracer)
    try:
        workloads.WORKLOADS[args.workload](ctx)
    finally:
        if tracer:
            tracer.uninstall()
        t_check_end = time.perf_counter()
        stop_spark(spark)
    t_stop_end = time.perf_counter()
    load_after = os.getloadavg()
    steal_s = cpu_steal_s() - steal_before

    attempted = len(ctx.ops)
    if args.trace:
        log = tracing.EventLog(tracing.find_event_log(os.path.join(work, "eventlog")))
        values = layers.per_layer(ctx, tracer, log, session_start_s)
        units = dict(layers.PER_LAYER)
    else:
        values = {"setup_s": ctx.setup_end - t_start, **ctx.e2e}
        units = E2E_UNITS
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "query_seed": query_seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "convs": convs,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "cpu_steal_s": steal_s,
        "phases_s": {
            "setup": ctx.setup_end - t_start,
            "timed": ctx.timed_end - ctx.setup_end,
            "check": t_check_end - ctx.timed_end,
            "stop": t_stop_end - t_check_end,
        },
        **prov,
        "attempted": attempted,
        "failed": ctx.failed,
        "error_rate": ctx.failed / attempted,
        "metrics": metrics,
        "workload_metrics": ctx.e2e_extra,
        "op_seconds": [(o.kind, o.cold, round(o.seconds, 4)) for o in ctx.ops],
        "errors": [e[-2000:] for e in ctx.errors[:20]],
    }
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}-{run_id}"
    with open(os.path.join(records, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer:
        tracer.write_jsonl(os.path.join(records, name + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for err in ctx.errors[:5]:
        print(f"perfbench: {err[-2000:]}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "query_seed", "git_commit", "source_sha256", "nproc",
        "loadavg_before", "loadavg_after", "cpu_steal_s", "spark", "pyarrow", "pandas")}))
    timed_ops = sum(1 for o in ctx.ops if o.kind in ("build", "batch", "cycle") and not o.cold)
    print(f"timed operations = {timed_ops} (samples of op_p50_ms)")
    for k, v in {**ctx.e2e_extra, "error_rate": record["error_rate"]}.items():
        print(f"{k} = {v:.6g}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
