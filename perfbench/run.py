"""Benchmark entry point: one workload, one seed, one fresh Spark JVM.

    python3 perfbench/run.py --workload serve_api --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the
seed (untimed), starts a session and sets the workload up (``setup_s``),
warms up, then runs ops in a closed loop with one client for
``--seconds`` seconds and at least 30 ops, ending on a whole block of
the op sequence.
Outputs are checked after the timed phase.

``--trace 0`` reports the end-to-end metrics with tracing and the Spark
UI off. ``--trace 1`` turns the UI on, wraps the package's public
functions (see spans.py), alternates traced and untraced blocks of ops
and reports the per-layer metrics. Everything a run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit,
except the spans of a traced run, kept in ``.perfbench_out/``.
The last line of stdout is the JSON result; the line before it holds
the details (generator checksum, tail percentile, calibration).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MAX_CPUS = 4
DRIVER_MEMORY = "2g"
#: A run times at least this many ops, so that ``op_tail_ms`` has ten
#: samples beyond a percentile of at least 66 even on a slow machine.
MIN_OPS = 30


def calibrate() -> float:
    """Fixed engine-independent CPU probe (median of 7, ms): hashing
    and integer arithmetic in the interpreter. A run probes before
    generation and after the timed phase and reports the mean. It
    attributes a shift between run sets to the machine; it never
    rescales a metric."""
    times = []
    for _ in range(7):
        t = time.perf_counter()
        h = b"perfbench"
        for _ in range(20_000):
            h = hashlib.sha256(h).digest()
        sum(i * i % 7 for i in range(200_000))
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def tail(latencies: list[float]) -> tuple[float, int]:
    """The highest integer percentile with at least 10 samples above it
    (nearest rank), and that percentile."""
    xs = sorted(latencies)
    n = len(xs)
    for p in range(99, 0, -1):
        k = max(0, -(-p * n // 100) - 1)
        if n - (k + 1) >= 10:
            return xs[k], p
    return xs[-1], 100


def session(work: str, trace_on: bool):
    from mediaplaycounts_spark.session import get_spark

    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if trace_on else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_on:
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            conf[k] = "1000000"
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The short-lived JVM that spark-submit starts to build the driver's
    # command line: keep its files inside the checkout as well.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tracer = spans.Tracer()
    spark = None
    try:
        calib_ms = calibrate()
        wl = WORKLOADS[args.workload](args.seed, work, tracer)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        digest = gen.checksum(wl.input)

        if args.trace:
            tracer.install()
            tracer.active = True
        t0 = time.perf_counter()
        spark = tracer.call("session.get_spark", session, work, bool(args.trace))
        tracer.sc = spark.sparkContext
        session_s = time.perf_counter() - t0
        wl.setup(spark)
        setup_s = time.perf_counter() - t0

        lat: list[float] = []
        traced: list[bool] = []
        results = []
        failed: set[int] = set()
        start = time.perf_counter()
        i = 0
        while True:
            if i % wl.block == 0:
                # Traced and untraced blocks in ABBA order, so a drift in
                # speed over the run does not bias the overhead figure; a
                # traced run therefore ends on a whole ABBA group.
                whole = not args.trace or (i // wl.block) % 4 == 0
                if time.perf_counter() - start >= args.seconds and i >= MIN_OPS and whole:
                    break
                tracer.active = bool(args.trace) and (i // wl.block) % 4 in (0, 3)
            tracer.op = f"op{i}" if tracer.active else None
            tracer.set_group(tracer.op)
            t = time.perf_counter()
            try:
                got = wl.op(i)
            except Exception as ex:  # an op that raises counts as failed
                print(f"op {i} failed: {type(ex).__name__}: {ex}", file=sys.stderr)
                got = None
                failed.add(i)
            lat.append((time.perf_counter() - t) * 1000)
            traced.append(tracer.active)
            results.append(got)
            i += 1
        elapsed = time.perf_counter() - start
        tracer.active, tracer.op = False, None
        tracer.set_group(None)
        calib_ms = statistics.mean([calib_ms, calibrate()])

        t0 = time.perf_counter()
        for j, got in enumerate(results):
            if j not in failed and not wl.check_op(j, got):
                print(f"op {j} returned a wrong result", file=sys.stderr)
                failed.add(j)
        done = [j for j in range(i) if j not in failed]
        failed |= wl.check(done)
        for why in wl.problems:
            print(why, file=sys.stderr)
        check_s = time.perf_counter() - t0

        n = len(lat)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "input_sha256": digest,
            "ops": n,
            "failed_ops": sorted(failed)[:20],
            "setup_wrong": wl.setup_wrong,
            "generate_s": generate_s,
            "session_s": session_s,
            "check_s": check_s,
            "timed_s": elapsed,
            "machine.calib_ms": calib_ms,
        }
        if args.trace:
            metrics = layer_metrics(wl, tracer, spark, lat, traced, results, calib_ms)
            metrics["failed_share"] = (len(failed) / n, "share")
            detail["spans"] = len(tracer.spans)
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        else:
            tail_ms, pct = tail(lat)
            detail["op_tail_percentile"] = pct
            detail["failed_share"] = len(failed) / n
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_ms": (statistics.median(lat), "ms"),
                "op_tail_ms": (tail_ms, "ms"),
                "throughput_per_s": ((n - len(failed)) / elapsed, "1/s"),
            }
        detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
        return {
            "detail": detail,
            "result": {
                "correct": not failed and wl.setup_wrong == 0,
                "attempted": n,
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


INGEST_SPANS = ("ingest.build", "ingest.write", "ingest.corrupt")
INGEST_FIGURES = ("rows_in", "rows_out", "corrupt_rows", "files_per_day",
                  "bytes_written_per_input_byte")


def layer_metrics(wl, tracer, spark, lat, traced, results, calib_ms) -> dict:
    """Per-op means over the traced ops, from spans and Spark counts;
    set-up figures (session, serving open, the set-up ingest) once."""
    counts = spans.spark_counts(spark.sparkContext)
    ops = [i for i, t in enumerate(traced) if t]
    op_ids = {f"op{i}" for i in ops}
    n = len(ops)
    per = dict.fromkeys(
        ["api.http.request", "api.playcounts.build", "api.playcounts.payload",
         "tables.load_table", "queries", "catalyst.plan", "operators.dedup",
         "spark.exec"], 0.0)
    # Spans outside the timed ops: the session, the serving-table open and,
    # on serve_api, the nightly ingest that writes the table.
    setup = dict.fromkeys(["session.get_spark", "api.serving.open", *INGEST_SPANS], 0.0)
    loads = 0
    for s, st in zip(tracer.spans, tracer.self_times()):
        if s.op is None:
            if s.name in setup:
                setup[s.name] += st
            continue
        if s.op not in op_ids:
            continue
        key = "queries" if s.name.startswith("queries.") else s.name
        if key in per:
            per[key] += st
        loads += s.name == "tables.load_table"
    g: dict[str, float] = {}
    jobs_in = {"build": 0.0, "dedup": 0.0}
    for group, c in counts.items():
        op, _, phase = group.partition("/")
        if op in op_ids:
            for k, v in c.items():
                g[k] = g.get(k, 0.0) + v
            if phase in jobs_in:
                jobs_in[phase] += c.get("jobs", 0.0)
    result_rows = sum(wl.result_rows(i, results[i]) for i in ops if results[i] is not None)
    ingest = wl.ingest or dict.fromkeys(INGEST_FIGURES, 0.0)
    ms = 1000.0 / n
    t_lat = [x for x, t in zip(lat, traced) if t]
    u_lat = [x for x, t in zip(lat, traced) if not t]
    overhead = (
        100.0 * (statistics.median(t_lat) / statistics.median(u_lat) - 1.0) if u_lat else 0.0
    )
    return {
        "api.http.request_ms": (per["api.http.request"] * ms, "ms"),
        "api.playcounts.build_ms": (per["api.playcounts.build"] * ms, "ms"),
        "api.playcounts.payload_ms": (per["api.playcounts.payload"] * ms, "ms"),
        "api.serving.open_ms": (setup["api.serving.open"] * 1000, "ms"),
        "spark.jobs_per_op": (g.get("jobs", 0.0) / n, "count"),
        "spark.stages_per_op": (g.get("stages", 0.0) / n, "count"),
        "spark.tasks_per_op": (g.get("tasks", 0.0) / n, "count"),
        "spark.scan_files_read": (g.get("scan_files_read", 0.0) / n, "count"),
        "spark.scan_rows_per_result_row": (
            g.get("scan_rows", 0.0) / result_rows if result_rows else 0.0, "ratio"),
        "ingest.build_ms": (setup["ingest.build"] * 1000, "ms"),
        "ingest.write_ms": (setup["ingest.write"] * 1000, "ms"),
        "ingest.corrupt_ms": (setup["ingest.corrupt"] * 1000, "ms"),
        "ingest.rows_in": (float(ingest["rows_in"]), "count"),
        "ingest.rows_out": (float(ingest["rows_out"]), "count"),
        "ingest.corrupt_rows": (float(ingest["corrupt_rows"]), "count"),
        "ingest.files_per_day": (float(ingest["files_per_day"]), "count"),
        "ingest.bytes_written_per_input_byte": (
            float(ingest["bytes_written_per_input_byte"]), "ratio"),
        "tables.load_ms": (per["tables.load_table"] * ms, "ms"),
        "tables.loads_per_op": (loads / n, "count"),
        "queries.build_ms": (per["queries"] * ms, "ms"),
        "queries.build_jobs_per_op": (jobs_in["build"] / n, "count"),
        "catalyst.plan_ms": (per["catalyst.plan"] * ms, "ms"),
        "operators.dedup.build_ms": (per["operators.dedup"] * ms, "ms"),
        "operators.dedup.build_jobs_per_op": (jobs_in["dedup"] / n, "count"),
        "spark.executor_cpu_ms": (g.get("executor_cpu_ms", 0.0) / n, "ms"),
        "spark.shuffle_write_bytes": (g.get("shuffle_write_bytes", 0.0) / n, "bytes"),
        "spark.shuffle_read_bytes": (g.get("shuffle_read_bytes", 0.0) / n, "bytes"),
        "spark.spill_bytes": (g.get("spill_bytes", 0.0) / n, "bytes"),
        "spark.gc_ms": (g.get("gc_ms", 0.0) / n, "ms"),
        # Spark's execution: the noop sink or the payload collect.
        "spark.exec_ms": ((per["spark.exec"] + per["api.playcounts.payload"]) * ms, "ms"),
        "session.start_ms": (setup["session.get_spark"] * 1000, "ms"),
        "machine.calib_ms": (calib_ms, "ms"),
        "bench.trace_overhead_pct": (overhead, "pct"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    import mediaplaycounts_spark  # noqa: F401  fail before generating inputs

    # On SIGTERM, unwind through run()'s cleanup: stop the JVM, remove files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    out = run(args)
    print(json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
