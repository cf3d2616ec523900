"""End-to-end CDC pipeline benchmark.

    python3 perfbench/run.py --workload trickle_multi --seed 1 --seconds 27 --trace 0

Stages a seeded DMS landing zone, drives the package's public entry
points (``controller.run_once`` or ``cdc_stream.start_cdc_stream``) in a
closed loop, checks the lake against an independently computed expected
state, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with every layer's public functions wrapped in spans and reports
the per-layer split instead.  Run from the repository root; all scratch
data lives under ``.perfbench/`` there.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]  # the benchmark's modules; the package under test

import numpy as np  # noqa: E402

import spans  # noqa: E402
import workloads as wl  # noqa: E402
from fsacct import LakeLedger  # noqa: E402
TAIL_Q = 75  # pass_s_p75
INITIAL_LOADS = 3  # initial_load_s is the median of this many loads
WARM_PASSES = 1  # passes on the throwaway warm-up copy, after its initial load
DEADLINE_S = 170  # the run is abandoned (no result) past this


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=27,
                    help="timed window; sets the fixed number of timed passes "
                         "(seconds / the workload's nominal pass time)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="table size factor (the self-test runs tiny scales)")
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Fix the knobs that move timings, and keep every file the run
    writes inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": f"{work}/warehouse",
        "TMPDIR": f"{work}/tmp",
        # the launcher JVM that spark-submit starts first: keep its perf
        # data file and temp files inside the work directory too
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }
    for key in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_FORCE_DISTRIBUTED"):
        os.environ.pop(key, None)
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def host_calibration() -> float:
    """Seconds of a fixed CPU task that touches no program code: the
    host-load marker recorded beside every result."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(0)
    for _ in range(3):
        np.sort(rng.random(500_000))
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def start_spark(work: str, trace: bool):
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import get_spark

    # initial heap = max heap: heap growth otherwise differs run to run,
    # and with it GC time (measured: pass_s_p50 spread 0.16 -> 0.04)
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{heap}",
    }
    if trace:  # the REST API is where stage bytes come from
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    """Run one workload; returns (result line, details)."""
    shape = wl.SHAPES[args.workload]
    env = pin_environment(work)
    calib = host_calibration()
    t_boot = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    get_spark_s = time.perf_counter() - t_boot
    tracer = None
    if args.trace:
        tracer = spans.Tracer(spark)
        tracer.install()
    try:
        return _measure(spark, tracer, args, shape, work, env, calib, get_spark_s)
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)


def _measure(spark, tracer, args, shape, work, env, calib, get_spark_s):
    failures = wl.Failures()

    # --- set-up: warm the JVM on a throwaway copy (another seed, its own
    # paths and catalog schema), then stage the timed copy on fresh paths
    t_warm = time.perf_counter()
    warm = wl.Staged(f"{work}/warm", "warmup", shape, args.seed + 100_003,
                     args.scale, WARM_PASSES)
    warm_loop = wl.make_loop(spark, warm, failures)
    wl.initial_load(warm_loop)
    for i in range(1, WARM_PASSES + 1):
        warm.land(i)
        warm_loop.run_pass()
        warm_loop.read(i)
    shutil.rmtree(warm.root, ignore_errors=True)
    warm_s = time.perf_counter() - t_warm

    t_gen = time.perf_counter()
    n_passes = shape.timed_passes(args.seconds)
    staged, gen_median_s = wl.stage_timed(f"{work}/timed", shape, args.seed,
                                          args.scale, n_passes)
    gen_total_s = time.perf_counter() - t_gen
    loop = wl.make_loop(spark, staged, failures)
    ledger = LakeLedger(staged.table_dirs())
    # set-up elapsed, with the thrice-repeated input generation counted
    # once, at its median
    setup_s = time.perf_counter() - T0 - gen_total_s + gen_median_s

    # --- timed part.  The initial load is sampled INITIAL_LOADS times:
    # on extra copies of the full load (own landing, lake and catalog
    # schema, dropped after), then on the lake the passes run against.
    initial_s = []
    for k in range(INITIAL_LOADS - 1):
        extra = wl.Staged(f"{work}/init{k}", f"{wl.SCHEMA}_init{k}", shape,
                          args.seed, args.scale, 0)
        initial_s.append(wl.initial_load(wl.make_loop(spark, extra, failures)))
        shutil.rmtree(extra.root, ignore_errors=True)
    if tracer:
        tracer.begin("initial")
    initial_s.append(wl.initial_load(loop))
    if tracer:
        tracer.end()
    ledger.step()
    initial_bytes = ledger.total_bytes()
    initial_rows = sum(staged.expect[t][0][0] for t in shape.tables)
    loop.read(0)

    pass_s, read_s, traced, landed_files = [], [], [], []
    landed_bytes = change_rows = 0
    for i in range(1, n_passes + 1):
        landed_bytes += staged.land(i)
        change_rows += staged.batch_rows[i - 1]
        landed_files.append(staged.landed_count())
        on = tracer is not None and i % 2 == 1  # alternate: overhead = traced - untraced
        if on:
            tracer.begin("pass")
        pass_s.append(loop.run_pass())
        read_s.extend(loop.read(i))
        if on:
            tracer.end()
        traced.append(on)
        ledger.step()

    problems = loop.check()
    final_rows = sum(staged.expect[t][-1][0] for t in shape.tables)
    written = sum(r["bytes_written"] for r in ledger.per_pass[1:])
    space_amp = (ledger.total_bytes() / initial_bytes) / (final_rows / initial_rows)
    n = len(pass_s)
    tail_beyond = n - int(n * TAIL_Q / 100)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "timed_passes": n,
        "warm_passes": WARM_PASSES,
        "pass_s": pass_s,
        "read_s": read_s,
        "initial_load_s": initial_s,
        "pass_s_p50_samples": n,
        f"pass_s_p{TAIL_Q}_samples": n,
        f"pass_s_p{TAIL_Q}_samples_beyond": tail_beyond,
        "read_s_p50_samples": len(read_s),
        "change_rows": change_rows,
        "landed_bytes": landed_bytes,
        "written_bytes": written,
        "setup_parts_s": {"get_spark": get_spark_s, "warm_up": warm_s,
                          "input_generation_median": gen_median_s},
        "host_calib_s": calib,
        "env": env,
        "problems": problems,
        "failure_reasons": failures.reasons,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "initial_load_s": (statistics.median(initial_s), "s"),
        "pass_s_p50": (statistics.median(pass_s), "s"),
        f"pass_s_p{TAIL_Q}": (float(np.percentile(pass_s, TAIL_Q)), "s"),
        "change_rows_per_s": (change_rows / sum(pass_s), "rows/s"),
        "read_s_p50": (statistics.median(read_s), "s"),
        "write_amp": (written / landed_bytes, "ratio"),
        "space_amp": (space_amp, "ratio"),
    }
    if tracer:
        metrics, summary = spans.per_layer_metrics(
            tracer, loop, ledger, shape, pass_s, traced, landed_files,
            get_spark_s,
        )
        details["span_summary"] = summary
    result = {
        "correct": not problems and failures.failed == 0,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, details


def main(argv=None) -> int:
    args = parse_args(argv)

    def _expired(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _expired)
    signal.alarm(DEADLINE_S)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result, details = run(args, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}" + ("-trace" if args.trace else "")
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"result": result, "details": details}, fh, indent=1)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
