"""The Spark side of one benchmark run: set up a session, run the
workload's passes, check the outputs, and write a JSON record.

Started by ``run.py`` as its own process, so that ``setup_s`` covers a cold
interpreter and JVM; not meant to be run by hand. Usage:
``python3 perfbench/worker.py <config.json>``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from workloads import ALL_CALLS, RUN_ETL, WORKLOADS  # noqa: E402


def rows_digest(cc, cols: list[str], rows) -> dict:
    """Row count and order-free hash of a result. Each row is put in the
    canonical form of ``tools/check_correctness.canon_rows`` (``canon_cell``
    per value, columns in name order) and hashed; the sorted row hashes are
    hashed again, so the result is a hash of the multiset of rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digests = sorted(
        hashlib.sha256("\x1f".join(cc.canon_cell(r[i]) for i in order).encode()).digest()
        for r in rows)
    return {"rows": len(digests), "sha256": hashlib.sha256(b"".join(digests)).hexdigest()}


def spark_digest(df) -> dict:
    """Row count and order-free hash of a large result, computed by Spark:
    the exact (DECIMAL) sum of each row's xxhash64 over its columns in name
    order. Partitioning cannot change it."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return {"rows": row["n"], "xxhash64_sum": str(row["h"])}


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def load_checker(root: str):
    """tools/check_correctness.py, loaded by path (``tools`` is no package)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    def __init__(self, cfg: dict, spark) -> None:
        from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
        from mini_etl_project_spark.queries import ORACLES, QUERIES
        from spans import Tracer

        self.cfg = cfg
        self.spark = spark
        self.sc = spark.sparkContext
        self.dag = self.sc._jsc.sc().dagScheduler()
        self.tr = tr = Tracer(self.sc)
        self.cc = load_checker(cfg["root"])
        sf_dir = cfg["sf_dir"]

        def query(name):
            def run(digests):
                df = QUERIES[name](spark, sf_dir)
                with tr.span("action"):
                    if digests is None:
                        # the same action as bench.py: materialize every
                        # row and column without a write cost
                        df.write.format("noop").mode("overwrite").save()
                    elif name in ORACLES:
                        # small results: fetched and hashed like the oracle's
                        digests[name] = rows_digest(self.cc, *self.cc.spark_rows(df))
                    else:
                        digests[name] = spark_digest(df)
            return run

        def run_etl(digests):
            AutoETLPipeline().run_etl(
                spark, cfg["etl_input"]["path"], output_path=cfg["etl_output"])

        self.calls = {n: run_etl if n == RUN_ETL else query(n)
                      for n in WORKLOADS[cfg["workload"]]}

    def one_pass(self, pid: int, traced: bool, digests: dict | None = None) -> dict:
        """Run every call once. With ``digests`` given, each query's result
        is hashed into it instead of going to the noop sink."""
        tr = self.tr
        tr.enabled, tr.pass_id = traced, pid
        errors, call_s = [], {}
        j0 = self.dag.nextJobId()
        t0 = time.time()
        with tr.span("pass"):
            for name, fn in self.calls.items():
                c0 = time.time()
                with tr.span(f"call:{name}"):
                    try:
                        fn(digests)
                    except Exception:  # a failed call fails the pass, not the run
                        traceback.print_exc()
                        errors.append(name)
                call_s[name] = time.time() - c0
        wall = time.time() - t0
        jobs = self.dag.nextJobId() - j0
        tr.enabled = False
        return {"id": pid, "wall_s": wall, "jobs": jobs, "traced": traced,
                "errors": errors, "call_s": call_s}

    def check(self, got: dict, expected: dict) -> dict:
        """Compare each call's output with its reference: the DuckDB oracle
        where the query has one, else the hash pinned in expected.json. The
        ETL output is read back from the parquet the last pass wrote."""
        from mini_etl_project_spark.queries import ORACLES

        sf_dir = self.cfg["sf_dir"]
        duck = None
        out = {}
        for name in self.calls:
            rec: dict = {}
            try:
                if name == RUN_ETL:
                    rec.update(spark_digest(self.spark.read.parquet(self.cfg["etl_output"])))
                else:
                    rec.update(got[name])
                if name in ORACLES:
                    if duck is None:
                        duck = self.cc.duckdb.connect()
                        for t in self.cfg["tables"]:
                            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                                     f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
                    ref = rows_digest(self.cc, *self.cc.duck_run(duck, ORACLES[name]))
                else:
                    ref = expected.get(name)
                rec["reference"] = ref
                rec["ok"] = ref is not None and all(rec.get(k) == v for k, v in ref.items())
            except Exception as e:  # a failed check fails the call, not the run
                traceback.print_exc()
                rec.update(ok=False, error=f"{type(e).__name__}: {e}")
            out[name] = rec
        return out


def host_heap(spark) -> dict:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {"spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", ""),
            "jvm_max_heap_mb": rt.maxMemory() / 2**20}


def layer_metrics(spans: list[dict], per_span: dict, passes: list[dict], cores: int) -> dict:
    """Per-layer metrics of each traced pass, then their median."""
    subtree = eventlog.subtree_totals(spans, per_span)
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def outermost(ps, prefix):
        def inside(s):
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"].startswith(prefix):
                    return True
                p = by_id[p]["parent"]
            return False
        return [s for s in ps if s["name"].startswith(prefix) and not inside(s)]

    def total(ss, key):
        return sum(subtree[s["id"]][key] for s in ss)

    per_pass = []
    for p in passes:
        if not p["traced"]:
            continue
        ps = [s for s in spans if s["pass"] == p["id"]]
        root = next(s for s in ps if s["name"] == "pass")
        tot = subtree[root["id"]]
        wall = dur(root)
        m = {f"spark.{k}": tot[k] for k in ("jobs", "stages", "tasks", "tasks_failed")}
        m.update({
            "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
            "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
            "spark.gc_s": tot["gc_ms"] / 1e3,
            "spark.cpu_busy_frac": tot["executor_cpu_ns"] / 1e9 / (wall * cores),
            "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20,
            "spark.shuffle_read_mb": tot["shuffle_read_bytes"] / 2**20,
            "spark.spill_mb": tot["spill_bytes"] / 2**20,
            "spark.input_mb": tot["input_bytes"] / 2**20,
            "spark.output_mb": tot["output_bytes"] / 2**20,
        })
        construct = 0.0
        for s in ps:
            if not s["name"].startswith("call:"):
                continue
            name = s["name"][5:]
            under = [c for c in ps if _descends(c, s["id"], by_id)]
            action = sum(dur(c) for c in outermost(under, "action") + outermost(under, "sources.load"))
            m[f"queries.{name}.construct_s"] = dur(s) - action
            m[f"queries.{name}.action_s"] = action
            m[f"queries.{name}.jobs"] = subtree[s["id"]]["jobs"]
            construct += dur(s) - action
        m["driver.construct_frac"] = construct / wall
        loads = outermost(ps, "session.load_table")
        cps = outermost(ps, "session.checkpoint")
        tfs = outermost(ps, "plans.transform")
        profs = outermost(ps, "plans.profile")
        ext, lds = outermost(ps, "sources.extract"), outermost(ps, "sources.load")
        drains = outermost(ps, "streaming.drain")
        m.update({
            "session.load_table_s": sum(map(dur, loads)),
            "session.widen_repartitions": sum(s.get("widen_repartitions", 0) for s in ps),
            "session.checkpoint_calls": len(cps),
            "session.checkpoint_s": sum(map(dur, cps)),
            "session.checkpoint_mb": sum(s.get("checkpoint_bytes", 0) for s in ps) / 2**20,
            "plans.transform_s": sum(map(dur, tfs)),
            "plans.transform_jobs": total(tfs, "jobs"),
            "plans.profile_s": sum(map(dur, profs)),
            "plans.profile_calls": len(profs),
            "plans.cache_mb": sum(s.get("cache_bytes", 0) for s in ps) / 2**20,
            "sources.extract_s": sum(map(dur, ext)),
            "sources.load_s": sum(map(dur, lds)),
            "sources.output_mb": sum(s.get("output_bytes", 0) for s in ps) / 2**20,
            "operators.dedup_s": sum(map(dur, outermost(ps, "operators.dedup"))),
            "operators.similarity_s": sum(map(dur, outermost(ps, "operators.similarity"))),
            "streaming.drain_s": sum(map(dur, drains)),
            "streaming.batches": total(drains, "stream_batches"),
        })
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    return {k: eventlog.quantile([m.get(k, 0) for m in per_pass], 0.5) for k in keys}


def self_time_by_name(spans: list[dict], passes: list[dict]) -> dict:
    """Self time summed per span name, median over the traced passes."""
    own = eventlog.self_time(spans)
    per_pass = []
    for p in passes:
        if p["traced"]:
            acc: dict[str, float] = {}
            for s in spans:
                if s["pass"] == p["id"]:
                    acc[s["name"]] = acc.get(s["name"], 0.0) + own[s["id"]]
            per_pass.append(acc)
    names = sorted({n for acc in per_pass for n in acc})
    return {n: eventlog.quantile([acc.get(n, 0.0) for acc in per_pass], 0.5) for n in names}


def _descends(s: dict, ancestor: int, by_id: dict) -> bool:
    p = s["parent"]
    while p is not None:
        if p == ancestor:
            return True
        p = by_id[p]["parent"]
    return False


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    from mini_etl_project_spark.queries import QUERIES  # noqa: F401  (part of set-up)
    from mini_etl_project_spark.session import get_spark
    from mini_etl_project_spark.streaming import ops

    spark = get_spark("perfbench")
    ready = time.time()
    result = {"setup_s": ready - cfg["spawn_ts"]}
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    stage_root = os.path.join(cfg["work"], "stream_stage")

    def stage_in_work(prefix: str, sf_dir: str) -> str:
        # The package stages stream inputs as symlinks under /tmp; keep a
        # run's writes inside the checkout instead.
        return os.path.join(stage_root, f"{prefix}_{ops._stage_tag(sf_dir)}")

    ops._stage_root = stage_in_work
    run = Run(cfg, spark)
    trace = cfg["trace"]
    if trace:
        import spans as tracing

        tracing.install(run.tr, run.sc)
        run.tr.record("session.get_spark", cfg["spawn_ts"], ready)
    result["heap"] = host_heap(spark)

    # the first pass hashes each query's result for the output check
    got: dict = {}
    first = run.one_pass(0, traced=False, digests=got)
    passes = []
    t_start = time.time()
    while time.time() - t_start < cfg["seconds"] or (trace and len(passes) < 5):
        pid = len(passes) + 1
        # Traced runs alternate untraced and traced passes, at least
        # U T U T U: the warm-up drift is steep over the first warm passes,
        # and the traced median (passes 2 and 4) then straddles the
        # untraced one (pass 3); their ratio is the tracing overhead.
        passes.append(run.one_pass(pid, traced=bool(trace) and pid % 2 == 0))
    result["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    result.update(first=first, passes=passes)
    with open(cfg["expected_path"]) as f:
        expected = json.load(f).get(cfg["expected_key"], {})
    result["checks"] = run.check(got, expected)
    spark.stop()

    if trace:
        per_span = eventlog.rollup(eventlog.read_events(cfg["eventlog_dir"]), run.tr.spans)
        layers = layer_metrics(run.tr.spans, per_span, passes, cfg["cores"])
        for name in ALL_CALLS:
            for k in ("construct_s", "action_s", "jobs"):
                layers.setdefault(f"queries.{name}.{k}", 0.0)
        t_on = eventlog.quantile([p["wall_s"] for p in passes if p["traced"]], 0.5)
        t_off = eventlog.quantile([p["wall_s"] for p in passes if not p["traced"]], 0.5)
        layers["trace.overhead_frac"] = t_on / t_off - 1.0
        result["layers"] = layers
        result["span_self_s"] = self_time_by_name(run.tr.spans, passes)
    _write(cfg["result_path"], result)


def _write(path: str, obj: dict) -> None:
    with open(path + ".partial", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".partial", path)


if __name__ == "__main__":
    main()
