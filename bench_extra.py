"""Extra benchmarks for optimization work (bench.py is frozen).

Usage:
  python bench_extra.py [query ...]          # time queries (bench.py methodology)
  python bench_extra.py --explain [query ...]  # capture explain("formatted")
  python bench_extra.py --noop [query ...]     # noop-sink isolation timing

Timing methodology matches bench.py: warm-up at sf0.001, then best-of-K
(.count()) at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "2"))
PLAN_DIR = os.environ.get("SPARK_GRAFT_PLAN_DIR", "plans/r06")
PLAN_TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    mode = "time"
    if args and args[0] in ("--explain", "--noop", "--time"):
        mode = args[0][2:]
        args = args[1:]

    import __spark_entry__ as E
    from neosync_spark.session import get_spark

    qs = E.queries()
    names = args or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(
        "ns_bench_extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    out: dict[str, float] = {}
    if mode == "explain":
        import contextlib
        import io

        os.makedirs(PLAN_DIR, exist_ok=True)
        for name in names:
            spark.sparkContext.setJobDescription(f"explain:{name}")
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue().strip() + "\n")
            print(f"# wrote {path}", file=sys.stderr)
        spark.stop()
        return

    # warm-up at sf0.001 (JVM/codegen/Arrow init), as in bench.py
    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.001").count()
        except Exception as e:  # noqa: BLE001
            print(f"# warmup {name} failed: {e}", file=sys.stderr)
    for name in names:
        best, best_n = None, None
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(f"{mode}:{name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            n = None
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                n = df.count()
            dt = time.time() - t0
            if best is None or dt < best:
                best, best_n = dt, n
        out[name] = round(best, 2)
        # the noop sink returns no row count
        rows = "" if best_n is None else f" ({best_n} rows)"
        print(f"# {name}: {out[name]}s{rows}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf": SF_DIR, "cpus": CPUS, "mode": mode, "queries": out}))


if __name__ == "__main__":
    main()
