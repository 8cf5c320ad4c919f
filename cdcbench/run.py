"""Run one CDC benchmark workload and print its metrics.

    python3 cdcbench/run.py --workload tail_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; its closed loop measures for ``--seconds``. Every read and the
final table are checked against a pandas oracle (untimed). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. The line before it is a
human-readable summary with sample counts and the failed-ops share.

Everything the run writes goes under ``.cdcbench_work/`` in the
repository root, which is deleted before and after the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("tail_uniform", "bulk_catchup", "tail_keylocal_rw")
# the engine's 48g default heap is more than a small host has
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for smoke tests")
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """Settings the engine reads from the environment, fixed so the run
    fits a small host and writes only under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"  # collected timestamps compare to the oracle's
    time.tzset()
    os.environ["NEOSYNC_SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the engine would put Spark-local scratch on /dev/shm when that has
    # room; pinned here so the run writes only under ``work``
    os.environ["NEOSYNC_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers inherit this; without it they cannot import
    # the engine when launched from another directory
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # import the benchmark as a package; its own directory on the path
    # would let trace.py shadow the standard library's trace module
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]


def stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and every process it spawned,
    and wait until each has ended."""
    from cdcbench.trace import descendants
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def start_session(trace: bool, log_dir: str):
    """The engine's session on a fixed core count; returns it with the
    time since process start at which it became ready."""
    from cdcbench.workloads import CORES
    from neosync_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("cdcbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    return spark, time.perf_counter() - T_START


def run(args, work: str) -> tuple[dict, str]:
    from cdcbench import workloads as W
    from cdcbench.trace import MemorySampler

    log_dir = os.path.join(work, "eventlog")
    # peak memory is a per-layer metric: sampling it would perturb the
    # end-to-end timings, so only traced runs start the sampler, and it
    # samples only inside hooked spans
    sampler = MemorySampler(os.environ["NEOSYNC_SPARK_LOCAL_DIR"])
    if args.trace:
        sampler.start()
    # the JVM starts while the workload generates its inputs in pandas
    pool = ThreadPoolExecutor(1)
    session = pool.submit(start_session, bool(args.trace), log_dir)
    r = W.Run(session, bool(args.trace), work, args.seed, W.SCALES[args.scale], args.seconds,
              sampler)
    try:
        table, oracle, final_hi = W.WORKLOADS[args.workload](r)
        sampler.stop()
        t_check = time.perf_counter()
        correct = W.check(r, table, oracle, final_hi)
        r.check_s = time.perf_counter() - t_check
    finally:
        sampler.stop()
        pool.shutdown()
        if not session.exception():
            stop_spark(session.result()[0])
    if args.trace:
        metrics = W.per_layer(r, log_dir, sampler.peak_bytes)
    else:
        metrics = W.end_to_end(r, r.measure_start - T_START)
    result = {
        "correct": bool(correct and W.failed(r) == 0),
        "attempted": W.attempted(r),
        "failed": W.failed(r),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, W.summary(r, correct)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "neosync_spark")):
        print(f"no engine source (neosync_spark/) under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work")
    # a killed earlier run may have left its tables and scratch behind
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        result, line = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
