"""Benchmark of the mini_etl_project_spark engine.

Usage:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run builds the fixture tables once per
checkout (under perfbench/.work/), generates the seed's ETL input once per
seed, then starts a fresh worker process that sets up a Spark session on
local[<nproc>], runs one untimed-for-p50 first pass and then timed passes
back to back for ``--seconds``, and checks every call's output once.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(README.md lists both). The line before it is the run's full record:
seed, input sizes, host conditions, every pass, every check.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
from workloads import (  # noqa: E402
    CALL_TABLES, ETL_INPUT_COPIES, ETL_SLICE_ROWS, FIXTURE_SCALE, RUN_ETL, WORKLOADS)

#: Whole-run budget; the worker is killed past it and the run fails.
RUN_BUDGET_S = 170.0
#: Driver heap (SPARK_GRAFT_DRIVER_MEM). get_spark's default is half of the
#: host's RAM, so peak_rss_mb would follow the host and the collector's
#: choice of when to grow a large heap (measured: 1.5-1.95 GB between runs
#: at a 2g cap). Both workloads fill a 1g heap, which puts its share of the
#: high-water at the cap: peak_rss_mb then moves with the JVM's non-heap
#: and the Python driver, and a bigger heap need shows as spark.gc_s.
DRIVER_MEM = "1g"
WORK = os.path.join(HERE, ".work")

USAGE = (
    "usage: python3 perfbench/run.py --workload <name> --seed <int> "
    "--seconds <int> --trace <0|1>"
)


def usage_exit(msg: str) -> None:
    print(f"{msg}\n{USAGE}\nworkloads: {', '.join(sorted(WORKLOADS))}", file=sys.stderr)
    sys.exit(1)


def parse_args(argv: list[str]) -> dict:
    opts = {"--workload": None, "--seed": None, "--seconds": "5", "--trace": "0"}
    it = iter(argv)
    for flag in it:
        if flag not in opts:
            usage_exit(f"unknown argument: {flag}")
        val = next(it, None)
        if val is None:
            usage_exit(f"missing value for {flag}")
        opts[flag] = val
    if opts["--workload"] is None:
        usage_exit("--workload is required")
    if opts["--workload"] not in WORKLOADS:
        usage_exit(f"unknown workload: {opts['--workload']}")
    try:
        seed = int(opts["--seed"])
        seconds = int(opts["--seconds"])
        trace = int(opts["--trace"])
    except (TypeError, ValueError):
        usage_exit("--seed, --seconds and --trace take whole numbers")
    if seed < 0 or seconds < 1 or trace not in (0, 1):
        usage_exit("--seed must be >= 0, --seconds >= 1, --trace 0 or 1")
    return {"workload": opts["--workload"], "seed": seed, "seconds": seconds, "trace": trace}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def stop_group(proc: subprocess.Popen, grace_s: float) -> None:
    """Wait for the worker's process group (the worker and its JVM) to end,
    killing whatever is left after ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        if time.time() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            deadline = float("inf")
        proc.poll()
        time.sleep(0.05)
    proc.wait()


def run_worker(cfg: dict, deadline: float, env: dict) -> dict:
    path = os.path.join(WORK, f"cfg_{os.getpid()}.json")
    cfg["result_path"] = os.path.join(WORK, f"result_{os.getpid()}.json")
    if os.path.exists(cfg["result_path"]):
        os.remove(cfg["result_path"])
    cfg["spawn_ts"] = time.time()
    with open(path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), path],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # past the budget, or on an exception or SIGTERM, kill at once
        stop_group(proc, 15.0 if code is not None else 0.0)
        os.remove(path)
    if code != 0 or not os.path.exists(cfg["result_path"]):
        raise RuntimeError(f"worker failed (exit {code})")
    with open(cfg["result_path"]) as f:
        res = json.load(f)
    os.remove(cfg["result_path"])
    return res


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the worker group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_begin = time.time()
    deadline = t_begin + RUN_BUDGET_S
    if not os.path.isdir(os.path.join(ROOT, "mini_etl_project_spark")):
        print(f"no mini_etl_project_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    load0 = os.getloadavg()
    steal0, total0 = cpu_jiffies()

    sf_dir, manifest = datagen.ensure_fixture(WORK, FIXTURE_SCALE)
    calls = WORKLOADS[args["workload"]]
    etl_input = None
    if RUN_ETL in calls:
        etl_input = datagen.ensure_etl_input(
            WORK, sf_dir, ETL_SLICE_ROWS, ETL_INPUT_COPIES, args["seed"])
    rows = {t: v["rows"] for t, v in manifest["tables"].items()}
    if etl_input:
        rows["etl_input"] = etl_input["rows"]
    input_rows = sum(rows[t] for c in calls for t in CALL_TABLES[c])

    spark_local = os.path.join(WORK, "spark-local")
    java_tmp = os.path.join(WORK, "tmp")
    eventlog_dir = os.path.join(WORK, f"eventlog_{os.getpid()}")
    for d in (spark_local, java_tmp):
        os.makedirs(d, exist_ok=True)
    submit = ["--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={java_tmp}")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=spark_local, TMPDIR=java_tmp, PYTHONDONTWRITEBYTECODE="1")
    cfg = {"root": ROOT, "work": WORK, "workload": args["workload"], "sf_dir": sf_dir,
           "tables": sorted(manifest["tables"]), "etl_input": etl_input,
           "etl_output": os.path.join(WORK, f"etl_out_{os.getpid()}.parquet"),
           "seconds": args["seconds"], "trace": args["trace"], "cores": cores,
           "expected_path": os.path.join(HERE, "expected.json"),
           "expected_key": f"fixture_v{manifest['generator_version']}_s{FIXTURE_SCALE}"
                           f"_r{ETL_SLICE_ROWS}_c{ETL_INPUT_COPIES}",
           "eventlog_dir": eventlog_dir}
    if args["trace"]:
        os.makedirs(eventlog_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", shlex.quote(f"spark.eventLog.dir=file://{eventlog_dir}")]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    try:
        res = run_worker(cfg, deadline, env)
    finally:
        shutil.rmtree(eventlog_dir, ignore_errors=True)
        shutil.rmtree(cfg["etl_output"], ignore_errors=True)

    steal1, total1 = cpu_jiffies()
    passes = res["passes"]
    attempted = 1 + len(passes)
    raised = sum(1 for p in [res["first"], *passes] if p["errors"])
    checks_ok = all(c["ok"] for c in res["checks"].values())
    # a failed check means every pass produced that wrong output
    failed = attempted if not checks_ok else raised
    walls = [p["wall_s"] for p in passes]
    record = {
        "workload": args["workload"], "seed": args["seed"], "seconds": args["seconds"],
        "trace": args["trace"], "input_rows_per_pass": input_rows,
        "fixture": manifest, "etl_input": etl_input,
        "host": {"nproc": cores, "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
                 "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
                 "loadavg_start": load0, "loadavg_end": os.getloadavg(),
                 "driver_heap": res["heap"]},
        "setup_s": res["setup_s"], "first_pass": res["first"], "passes": passes,
        "checks": res["checks"], "failed_frac": failed / attempted,
        "run_wall_s": time.time() - t_begin,
    }
    if args["trace"]:
        record["span_self_s"] = res["span_self_s"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {
            "pass_s_p50": {"value": eventlog.quantile(walls, 0.5), "unit": "s"},
            "throughput_rows_s": {"value": input_rows * len(walls) / sum(walls), "unit": "rows/s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "first_pass_s": {"value": res["first"]["wall_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps(record))
    print(json.dumps({"correct": checks_ok and raised == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except RuntimeError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
