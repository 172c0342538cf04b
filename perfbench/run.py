"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload kv_ingest --seed 1 --seconds 16 \
        --trace 0

Run from the repository root. The client sends the workload's
statements back to back (no think time) to a ``HeraclesSession`` on
``local[$SPARK_GRAFT_CPUS]`` (default: every usable core) and checks
every answer. All state lives in a fresh directory under ``.perfbench/``
that is removed at exit; traces are kept in ``.perfbench/traces/``.

A run measures a fixed number of passes (repetitions of the workload's
op mix): ``--seconds`` divided by the workload's nominal pass time on
the 4-core reference box, so two commits measured with the same
arguments do the same work, and on that box a run measures for about
``--seconds``.

Output: one JSON report line (environment, per-type latencies with
sample counts), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
runs the same stream with every other op traced and reports the
per-layer metrics (``layers.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
DRIVER_MEMORY = "2g"


def environment() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) // 1024
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "mem_total_mb": mem.get("MemTotal"),
            "mem_available_mb": mem.get("MemAvailable"),
            "pyspark": pyspark.__version__,
            "loadavg": list(os.getloadavg())}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM")


def start_session(work: str):
    from heracles_spark.session import HeraclesSession, get_session

    tmp = os.path.join(work, "tmp")
    spark = get_session("perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap (no resizing mid-run), no hsperfdata file in the
        # system temp dir, and the stop-the-world parallel collector:
        # with G1 its concurrent threads compete with the task threads
        # for the cores, and the run-to-run spread of read latency on
        # the 4-core box was about three times wider.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            "-XX:+UseParallelGC",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return HeraclesSession(spark, metastore_dir=os.path.join(work, "meta"))


def stop_session(hs) -> None:
    """Stop Spark and wait for the JVM process to end."""
    gateway = hs.spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    hs.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def warm_up(wl, ops: list) -> tuple[int, list[str]]:
    """Run ``ops`` unmeasured, checking every answer; returns how many
    were wrong or raised, and the errors."""
    failed, errors = 0, []
    for op in ops:
        try:
            _, rows = wl.execute(op)
            failed += not wl.check(op, rows)
        except Exception as e:                 # noqa: BLE001 — counted
            failed += 1
            errors.append(repr(e))
    return failed, errors


def measure(wl, hs, ops: list, tracer):
    """Closed loop over ``ops``. With a tracer, every other op is traced
    (spans, Spark phases, job counts) and the rest time the bare path.
    Returns one record per op."""
    from layers import spark_op_stats

    sc = hs.spark.sparkContext
    records = []
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        kind = wl.kind(op)
        # Alternate; passes of even length shift by one, so every op of
        # the mix is seen both traced and untraced.
        shift = i // wl.cycle if wl.cycle % 2 == 0 else 0
        traced = tracer is not None and (i + shift) % 2 == 0
        if traced:
            sc.setJobGroup(f"op{i}", kind)
            tracer.op, tracer.active = i, True
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span(f"op.{kind}"):
                    df, rows = wl.execute(op)
            else:
                df, rows = wl.execute(op)
            lat = time.perf_counter() - t0
            ok = wl.check(op, rows)
            err = None
        except Exception as e:                 # noqa: BLE001 — counted
            lat, ok, df, err = time.perf_counter() - t0, False, None, repr(e)
        rec = {"i": i, "op": op, "kind": kind, "lat": lat, "ok": ok,
               "traced": traced, "err": err}
        if traced:
            tracer.active = False
            sc.setJobGroup(f"idle{i}", "")
            rec.update(spark_op_stats(sc, f"op{i}", df, wl))
            rec["route"] = dict(hs.last_select_route)
        records.append(rec)
        wl.after_op(i, op)
    return records, time.perf_counter() - t_start


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "heracles_spark", "sql.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("run from the repository root: heracles_spark/ and bench.py "
              "not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    env = environment()
    work = os.path.join(root, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Isolation: every path the engine, Spark or Python writes to is
    # inside this run's directory.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["HERACLES_METASTORE"] = os.path.join(work, "meta")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("HERACLES_LAYOUT_DIR", None)
    tempfile.tempdir = None         # re-read TMPDIR
    env["local_cpus"] = int(os.environ["SPARK_GRAFT_CPUS"])
    hs = tracer = None
    try:
        hs = start_session(work)
        jvm_pid = hs.spark.sparkContext._gateway.proc.pid
        wl = WORKLOADS[args.workload](hs, work, args.seed)
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
            layers.count_hooks(tracer)
        passes = max(1, round(args.seconds / wl.pass_s))
        setup_s = []
        for rep in range(SETUP_REPS):
            if tracer is not None and rep == SETUP_REPS - 1:
                tracer.op, tracer.active = -1, True
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.active = False
        ops = wl.ops(wl.warm_passes + passes)
        wl.expect_answers()
        skip = wl.warm_passes * wl.cycle
        t0 = time.perf_counter()
        warm_failed, warm_errors = warm_up(wl, ops[:skip])
        warm_s = time.perf_counter() - t0
        records, elapsed = measure(wl, hs, ops[skip:], tracer)
        final_ok = wl.final_check(records[-1]["op"])
        rss = peak_rss_mb(jvm_pid)
        # Metrics read the run directory: take them before it goes.
        run = layers.Run(wl, records, statistics.median(setup_s))
        if tracer is None:
            metrics = run.end_to_end()
        else:
            metrics = run.per_layer(tracer, layers.floor_ms(hs.spark))
    finally:
        if tracer is not None:
            tracer.uninstall()
        if hs is not None:
            stop_session(hs)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.join(root, ".perfbench")):
            os.rmdir(os.path.join(root, ".perfbench"))

    env["loadavg_after"] = list(os.getloadavg())
    failed = sum(not r["ok"] for r in records) + (not final_ok) + warm_failed
    attempted = skip + len(records) + 1
    # Per-type figures of the untraced ops (all ops of an untraced run).
    table = run.latency_table(False if tracer else None)
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "passes": passes,
              "trace": args.trace, "environment": env,
              "setup_s_reps": setup_s, "warmup_s": warm_s,
              "elapsed_s": elapsed,
              "errors": sorted({r["err"] for r in records if r["err"]}
                               | set(warm_errors)),
              "failed_ops_ratio": failed / attempted,
              "driver_peak_rss_mb": rss,
              "latency_ms_p50_p95_samples": table,
              "op_types": run.op_type_values(table),
              "op_ms": [[r["kind"], round(1000 * r["lat"], 1)]
                        for r in records]}
    if tracer is not None:
        report["trace_file"] = trace_path = os.path.join(
            root, ".perfbench", "traces",
            f"{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.write_jsonl(trace_path)
        report["route_declines"] = run.declines()
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
