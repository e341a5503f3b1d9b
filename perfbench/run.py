"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cooling --seed 1 --seconds 5 --trace 0

Phases, all in this one process (one closed-loop client, no extra
threads of our own):

1. set-up: ``build_session()`` on ``local[nproc]``, then the
   workload's input generation and loading. ``setup_s`` is their sum:
   what every fresh run of the pipeline pays before its first answer.
2. warm-up: ``WARMUP`` steps, checked but not timed, so that class
   loading, JIT and code generation stay out of the timings.
3. timed phase: ``step()`` until ``--seconds`` have passed and at
   least the workload's ``MIN_STEPS`` steps ran; every answer is
   checked as it arrives. Times are medians over the steps.
4. end-of-run checks, host facts, the result line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's public functions with spans, prints the per-layer metrics
and writes every span to ``perfbench/.traces/``. A traced run of
``cooling`` also runs one ``llm_corpus`` pass after its timed phase,
so that the LLM-data layers are measured by a listed workload. The
metric lists come from ``metrics.json``. Exit status is 0 whenever a
result line was printed (``correct`` says whether every check passed)
and 2 when the program to measure cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the timed phase never starts a step after this long, so a run ends
# well inside three minutes even on a slow host
MAX_TIMED_S = 90.0
INJECT = ("lake_row", "answer")


def load_metrics() -> dict:
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def build(work: str, cores: int):
    from yc_yq_airflow_etl_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of the JVM, its Python workers and ours stays
    # inside the checkout
    os.environ["TMPDIR"] = tmp
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait until the driver JVM and the Python workers
    it started have exited."""
    from pyspark import SparkContext

    from meter import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = descendants(os.getpid())
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
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the workers are the JVM's children, not ours: poll until they exit
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def host_facts(spark, cores: int) -> dict:
    from yc_yq_airflow_etl_spark.hostcanary import machine_canary_sec

    return {
        "nproc": cores,
        "machine_canary_sec": machine_canary_sec(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def measure(args, spark, tracer, counters, cores: int, work: str, session_s: float):
    from meter import tree_peak_rss_mb
    from workloads import EXTRA_LAYERS, WORKLOADS, med

    wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.inject, work)
    if args.trace:
        wl.wrap()
    if args.inject == "lake_row":
        wl.corrupt_lake_rows()

    tracer.phase = "setup"
    t0 = time.perf_counter()
    with tracer.span("sources.generator.generate"):
        wl.prepare()
    prepare_s = time.perf_counter() - t0
    setup_s = session_s + prepare_s
    if args.trace:
        wl.traced_setup()

    # warm-up: the first calls pay class loading, JIT and code
    # generation, which vary too much from run to run to be compared;
    # their answers are still checked
    tracer.phase = "warmup"
    t0 = time.perf_counter()
    for _ in range(wl.WARMUP):
        wl.step()
    warmup_s = time.perf_counter() - t0
    wl.reset()

    tracer.phase = "timed"
    c0 = counters.read() if counters else None
    over0 = tracer.overhead_s()
    start = time.perf_counter()
    steps = 0
    while steps < wl.MIN_STEPS or time.perf_counter() - start < args.seconds:
        if time.perf_counter() - start > MAX_TIMED_S:
            break
        wl.step()
        steps += 1
    wall = time.perf_counter() - start
    c1 = counters.read() if counters else None
    overhead = tracer.overhead_s() - over0
    rss = tree_peak_rss_mb()
    tracer.phase = "finish"
    wl.finish()
    wl.check(bool(wl.op_s and wl.read_s and wl.unit_s),
             f"timed phase recorded no work: {len(wl.op_s)} ops, {len(wl.read_s)} reads")
    print(f"perfbench: session {session_s:.2f}s prepare {prepare_s:.2f}s "
          f"warm-up {warmup_s:.2f}s timed {wall:.2f}s steps {steps} "
          f"ops {len(wl.op_s)} reads {len(wl.read_s)} "
          f"units_s {' '.join(f'{u:.2f}' for u in wl.unit_s)}", file=sys.stderr)
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "wall_s": med(wl.unit_s),
            "rows_per_s": wl.rows / wall,
            "op_p50_s": med(wl.op_s),
            "read_p50_s": med(wl.read_s),
            "write_amp": wl.written / max(wl.user_bytes, 1),
        }
    else:
        units = max(wl.units, 1)
        d = {k: c1[k] - c0[k] for k in c1}
        values = {
            "process.peak_rss_mb": rss,
            "session.build_s": session_s,
            "sources.generator.generate_s": prepare_s,
            "trace.overhead_s": overhead / units,
            "trace.overhead_frac": overhead / wall,
            "spark.busy_frac": d["executor_run_s"] / (wall * cores),
            "spark.catalyst_s": wl.catalyst / units,
        }
        for k, v in d.items():
            values[f"spark.{k}"] = v / units
        values.update(wl.layers())
        # layers of the workloads the benchmark does not list, measured
        # once here after the timed phase so they cannot slow it
        for cls in EXTRA_LAYERS.get(args.workload, ()):
            x = cls(spark, tracer, args.seed, args.inject, work)
            x.wrap()
            tracer.phase = "setup"
            x.prepare()
            x.traced_setup()
            tracer.phase = "timed"
            x.step()
            x.finish()
            values.update(x.layers())
            wl.absorb(x)
    return wl, values, wall


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject", choices=INJECT, default=None,
                   help="plant a wrong answer to show the checks catch it")
    args = p.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import yc_yq_airflow_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program to measure: {exc}",
              file=sys.stderr)
        return 2
    from meter import SparkCounters, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.inject == "lake_row" and args.workload != "cooling":
        print("perfbench: --inject lake_row applies to cooling only", file=sys.stderr)
        return 2
    spec = load_metrics()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build(work, cores)
        session_s = time.perf_counter() - t0
        counters = SparkCounters(spark) if args.trace else None
        tracer.attach(counters)
        wl, values, wall = measure(args, spark, tracer, counters, cores, work, session_s)
        host = host_facts(spark, cores)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    if args.trace:
        tracer.dump(
            os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "timed_wall_s": wall, "host": host, "metrics": metrics},
        )
    for e in wl.errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    samples = {"setup_s": 1, "warmup_steps": wl.WARMUP, "wall_s": len(wl.unit_s),
               "op_p50_s": len(wl.op_s), "read_p50_s": len(wl.read_s)}
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "samples": samples}))
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
