"""Plan-and-timing capture for a set of queries (guide §1: measure first).

Captures, for each named query (default: the bench HEADLINE + extra lanes):
  - .explain("formatted") → <out_dir>/<name>_<tag>.txt
  - warm-up + median-of-5 noop-sink timings (same protocol as bench.py)

Usage: python tools/measure_plans.py <out_dir> <tag> [query ...]
Writes one JSON line with the timings; plans land in <out_dir> (e.g.
plans/r13). The fixture directory comes from SPARK_GRAFT_SF_DIR, with
the same sf0.1 default as bench.py.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_project_spark.queries import QUERIES
from mini_etl_project_spark.session import get_spark

USAGE = "usage: python tools/measure_plans.py <out_dir> <tag> [query ...]"

DEFAULT = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_revenue_change",
    "q10_returned_items",
    "q_window_topk_per_group",
    "q_etl_pipeline",
    "q_dedup_minhash_lsh",
    "q_sim_topk_exact",
    "q_stream_tumbling",
    "q_corpus_incremental_ingest",
]


def main() -> None:
    if len(sys.argv) < 3 or any(n not in QUERIES for n in sys.argv[3:]):
        print(USAGE, file=sys.stderr)
        print(f"queries: {', '.join(sorted(QUERIES))}", file=sys.stderr)
        sys.exit(1)
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("measure_plans")
    results: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"measure-plans {tag}: {name}")
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())

        def once() -> float:
            t0 = time.time()
            d = QUERIES[name](spark, sf_dir)
            d.write.format("noop").mode("overwrite").save()
            return time.time() - t0

        once()  # warm-up
        results[name] = round(statistics.median(once() for _ in range(5)), 4)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "queries": results,
                      "total": round(sum(results.values()), 4)}))


if __name__ == "__main__":
    main()
