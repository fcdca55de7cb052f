"""Payments-lake benchmark: one closed-loop client against one workload.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine package is imported from
that root; without it the run exits with code 2 and prints no result.
Every byte the run writes (lake, Spark local dirs, event log, temp
files) goes under ``.perfbench/run-<pid>/`` in the checkout and is
deleted at the end; a traced run keeps its spans in
``.perfbench/spans-<workload>-<seed>.jsonl``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the ``end_to_end`` list of BENCHMARK.json, with
``--trace 1`` the ``per_layer`` list. The line before it is the full
record: environment stamp, phase times, sample counts and the
percentile each tail metric used. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_payment_data_lake_spark"

def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, and
    its label; the maximum when that percentile would not lie above the
    median, which takes 21 samples."""
    xs = sorted(xs)
    if len(xs) < 21:
        return (xs[-1] if xs else 0.0), f"max of {len(xs)}"
    i = len(xs) - 11
    return xs[i], f"p{100.0 * (i + 1) / len(xs):.1f} of {len(xs)}"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def source_digest() -> str:
    """sha256 over the package's Python sources: identifies the code
    under test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def isolate(run_dir: str) -> None:
    """Point every scratch location at ``run_dir`` before the JVM
    starts: Python and Java temp files, Spark local dirs."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher's included: no hsperfdata
    # files, temp files under the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    tempfile.tempdir = None


def build_session(run_dir: str, traced: bool):
    from aws_payment_data_lake_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={run_dir}/derby",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                 "spark.eventLog.compress": "false"}
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "ckpt"))
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: the gateway JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def measure(spark, wl, seconds: float) -> dict:
    """Closed loop, one client: the next operation starts when the
    previous one returned. Stops on the first cycle boundary after the
    timed operations add up to ``seconds``, or when the workload runs
    out of inputs. Each result is checked between operations, outside
    the timed region."""
    sc = spark.sparkContext
    attempted = failed = 0
    problems: list[str] = []
    busy = 0.0
    wl.measuring = True
    for op_id, op in enumerate(wl.operations()):
        if busy >= seconds and op_id % wl.cycle == 0:
            break
        attempted += 1
        wl.tracer.op = op_id
        sc.setLocalProperty("perfbench.op", str(op_id))
        t0 = time.perf_counter()
        try:
            result = op.fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
            problems.append(f"op {op_id} ({op.kind}) raised")
            continue
        finally:
            dt = time.perf_counter() - t0
            busy += dt
            wl.tracer.op = None
            sc.setLocalProperty("perfbench.op", None)
        wl.op_seconds.setdefault(op.kind, []).append(dt)
        wl.op_rows[op.kind] = wl.op_rows.get(op.kind, 0) + op.rows
        errs = op.check(result) if op.check else []
        if errs:
            failed += 1
            problems.extend(f"op {op_id} ({op.kind}): {e}" for e in errs)
    wl.measuring = False
    return {"attempted": attempted, "failed": failed,
            "problems": problems, "busy": busy, "ops": set(range(attempted))}


def op_figures(wl) -> tuple[float, float]:
    """(op_p50_s, rows_per_s) over the kinds every run measures."""
    kinds = [k for k in wl.op_seconds if k not in wl.traced_only]
    if not kinds:       # every operation raised
        return 0.0, 0.0
    # each kind's median, averaged with equal weights: every kind
    # counts once, however often a run repeated it
    p50 = statistics.fmean(statistics.median(wl.op_seconds[k])
                           for k in kinds)
    busy = sum(sum(wl.op_seconds[k]) for k in kinds)
    return p50, sum(wl.op_rows[k] for k in kinds) / busy


def run(args, workload, run_dir: str) -> int:
    from perfbench.trace import Tracer, read_event_log

    spec = load_spec()
    isolate(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    from aws_payment_data_lake_spark.telemetry import load_stamp

    load_start = load_stamp()
    t0 = time.perf_counter()
    spark = build_session(run_dir, bool(args.trace))
    jvm_s = time.perf_counter() - t0
    wl = workload(spark, tracer, args.seed)
    try:
        t = time.perf_counter()
        wl.setup(os.path.join(run_dir, "lake"))
        setup_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t

        m = measure(spark, wl, args.seconds)
        t = time.perf_counter()
        if args.corrupt:
            wl.corrupt()
        final = wl.final_check()
        problems = m["problems"] + [f"final: {e}" for e in final]
        failed = m["failed"] + (1 if final else 0)
        space = wl.lake_bytes_per_user_byte()
        layer = wl.layer_metrics(len(m["ops"])) if args.trace else {}
        rss = jvm_peak_rss_mb(spark)
        java = spark._jvm.java.lang.System.getProperty("java.version")
        conf = dict(spark.sparkContext.getConf().getAll())
        check_s = time.perf_counter() - t
    finally:
        stop_session(spark)

    op_p50, rows_per_s = op_figures(wl)
    e2e = {
        # the warm-up is set-up: it runs once per kind before timing
        "setup_s": jvm_s + setup_s + warm_s,
        "op_p50_s": op_p50,
        "rows_per_s": rows_per_s,
        "lake_bytes_per_user_byte": space,
    }
    samples = {k: v for k, v in wl.samples.items() if v}
    samples |= {f"op.{k}": v for k, v in wl.op_seconds.items()}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "commit": git_commit(), "source_digest": source_digest(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": __import__("pyspark").__version__, "java": java,
        "load_start": load_start, "load_end": load_stamp(),
        "jvm_start_s": jvm_s, "lake_setup_s": setup_s,
        "warmup_s": warm_s, "warmup_kinds_s": wl.warm_seconds,
        "ops": m["attempted"], "checks_s": check_s,
        "samples": {k: len(v) for k, v in samples.items()},
        "tails": {k: tail(v)[1] for k, v in samples.items()},
        "p50": {k: statistics.median(v) for k, v in samples.items()},
        "spark_conf": conf, "problems": problems[:20],
        "end_to_end": e2e,
    }

    if args.trace:
        n_ops = max(1, len(m["ops"]))
        metrics = {f"{k}.busy_s": v / n_ops
                   for k, v in tracer.self_times().items()}
        metrics |= layer
        ev = read_event_log(os.path.join(run_dir, "eventlog"), m["ops"])
        cores = int(conf.get("spark.master", "local[1]")
                    .strip("local[]") or 1)
        metrics["spark.core_busy_frac"] = (
            ev.pop("_task_run_s") / (m["busy"] * cores) if m["busy"] else 0)
        metrics |= ev
        metrics |= {
            "jvm.peak_rss_mb": rss, "jvm.start_s": jvm_s,
            "setup.warmup_s": warm_s,
            "trace.op_p50_s": e2e["op_p50_s"],
            "trace.rows_per_s": e2e["rows_per_s"],
            "trace.spans_per_op": len(tracer.spans) / n_ops,
        }
        for k, v in wl.samples.items():
            if v:
                metrics[f"{k}.p50_s"] = statistics.median(v)
                metrics[f"{k}.tail_s"] = tail(v)[0]
        wanted = spec["per_layer"]
        tracer.dump(os.path.join(
            ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = e2e
        wanted = spec["end_to_end"]
    names = {w["name"] for w in wanted}
    stray = sorted(set(metrics) - names)
    if stray:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {stray}")
    record["layers"] = metrics if args.trace else None
    for p in problems[:20]:
        print(f"correctness: {p}", file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": not problems,
        "attempted": m["attempted"],
        "failed": failed,
        "metrics": {w["name"]: {"value": float(metrics.get(w["name"], 0.0)),
                                "unit": w["unit"]} for w in wanted},
    }))
    return 0 if not problems else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the lake after measuring, to prove the "
                         "correctness gate trips (used by smoke.py)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.acid_cdc import AcidCdc
    from perfbench.daily_etl import DailyEtl

    workloads = {"daily_etl": DailyEtl, "acid_cdc": AcidCdc}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        return run(args, workloads[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
