"""Time one query with the bench protocol (warm-up + median of N).

Usage: python tools/time_one.py <query_name> [n_runs] [sf_dir]
Prints per-run seconds and the median. Same noop-sink action as bench.py.
A missing or unknown query name, or a run count that is not a positive
integer, prints the usage line and the registered query names and exits 1.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_project_spark.queries import QUERIES
from mini_etl_project_spark.session import get_spark

USAGE = "usage: python tools/time_one.py <query_name> [n_runs] [sf_dir]"


def parse_args(argv: list[str]) -> tuple[str, int, str] | None:
    """(name, n_runs, sf_dir), or None when the arguments are invalid."""
    if not argv or argv[0] not in QUERIES:
        return None
    try:
        n = int(argv[1]) if len(argv) > 1 else 5
    except ValueError:
        return None
    if n < 1:
        return None
    sf_dir = argv[2] if len(argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    return argv[0], n, sf_dir


def main() -> None:
    args = parse_args(sys.argv[1:])
    if args is None:
        print(USAGE, file=sys.stderr)
        print(f"queries: {', '.join(sorted(QUERIES))}", file=sys.stderr)
        sys.exit(1)
    name, n, sf_dir = args
    spark = get_spark("time_one")
    spark.sparkContext.setJobDescription(f"time_one:{name}")
    ts = []
    for i in range(n + 1):
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        tag = "warmup" if i == 0 else f"run{i}"
        print(f"{tag}: {dt:.3f}", flush=True)
        if i > 0:
            ts.append(dt)
    print(f"median: {statistics.median(ts):.4f}")


if __name__ == "__main__":
    main()
