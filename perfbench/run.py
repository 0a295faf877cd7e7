"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Workloads and their settings are in perfbench/spec.json; metric names are
in BENCHMARK.json at the repo root. With ``--trace 0`` the last stdout line
holds every end-to-end metric, with ``--trace 1`` every per-layer metric.
The package is called only through its public entry points:
``session.get_session``, ``plans.load_all`` / ``QuerySpec.fn``,
``registry.load_table`` and ``api.TxLogTable``.

Everything the run writes stays under ``.perfbench/`` in the checkout: the
corpus and oracle caches, Spark local dirs, lakehouse tables, and one
directory per run with the result record (and, when traced, the spans file
and the event log).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import corpus  # noqa: E402
from tracing import Tracer, eventlog_counters  # noqa: E402

QUERY_MODULES = [
    "relational", "composites_ext", "sqltext", "analytics_ext", "curation",
    "series_ext", "windows", "dedup", "text_analysis", "similarity",
    "mining_ext",
]
MODULE_METRICS = ["build_s", "plan_s", "exec_s", "jobs", "tasks", "shuffle_mb", "spill_mb", "cpu_s"]
TAIL_FRAC = 0.25  # op_tail_mean_s: mean of the slowest quarter of op latencies
TXLOG_METHODS = {
    "append": "commit_s", "upsert_mor": "upsert_mor_s",
    "delete_mor": "delete_mor_s", "commit_replace": "commit_replace_s",
    "read_snapshot": "read_snapshot_s", "read_time_travel": "read_snapshot_s",
    "read_snapshot_pruned": "read_snapshot_pruned_s",
}


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (pct in 0..100)."""
    s = sorted(values)
    k = (len(s) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def tail_mean(values: list[float], frac: float) -> float:
    """Mean of the slowest ``frac`` of the values (at least one)."""
    s = sorted(values)
    return statistics.fmean(s[-max(1, round(len(s) * frac)):])


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def host_env(state: str, driver_mem: str) -> None:
    """Pin the Spark environment before the JVM starts."""
    local = os.path.join(state, "spark-local")
    tmp = os.path.join(state, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Spark's Python workers inherit the JVM's environment: without the
    # checkout root on PYTHONPATH, pandas-UDF ops cannot unpickle functions
    # defined in lightcurator_spark when run from another directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the serial collector grows the heap only when live data needs it: G1
    # (and Parallel's adaptive policy) size it from pause and GC-time goals,
    # which spread peak RSS 25% between runs of the same code
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:+UseSerialGC' pyspark-shell"
    )


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (busy, stolen) CPU ticks so far: stolen ticks are time the
    hypervisor gave this VM's runnable vCPUs to another guest."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def steal_factor(ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """Factor that takes hypervisor steal out of a wall time.

    On a shared host, other guests' load shows up as stolen ticks and
    stretches every wall time. With ``a`` the share of wanted CPU time the
    hypervisor did give this VM, a serial step stretches by 1/a, and a
    stage of parallel tasks by more, because it waits for its slowest task.
    Timings are multiplied by a**1.5, the exponent that minimised the
    run-to-run spread on the reference host (perfbench/spec.json, "steal").
    Raw wall times stay in the result record.
    """
    busy, stolen = (b - a for a, b in zip(ticks0, ticks1))
    a = 1.0 - stolen / (busy + stolen) if busy + stolen > 0 else 1.0
    return a ** 1.5


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, args, spec: dict):
        self.args = args
        self.cfg = spec["workloads"][args.workload]
        self.state = os.path.join(ROOT, ".perfbench")
        self.run_dir = os.path.join(
            self.state, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setups: list[dict] = []
        self.stream = None

    # ---------------- set-up ----------------

    def setup(self) -> None:
        """One set-up: get_session, load_all, first load_table of each table."""
        ticks0 = cpu_ticks()
        with self.tracer.span("setup") as total:
            with self.tracer.span("import"):
                from lightcurator_spark import api
                from lightcurator_spark.plans import load_all
                from lightcurator_spark.registry import load_table
                from lightcurator_spark.session import get_session
            with self.tracer.span("get_session") as s_sess:
                self.spark = get_session(
                    app_name=f"perfbench-{self.args.workload}",
                    low_latency=self.cfg["low_latency"],
                )
            with self.tracer.span("load_all") as s_all:
                self.specs = load_all()
            with self.tracer.span("load_table") as s_tab:
                self.tables = {
                    t: load_table(self.spark, self.sf_dir, t) for t in self.cfg["tables"]
                }
        self.api = api
        f = steal_factor(ticks0, cpu_ticks())
        self.setups.append({
            "setup_s": total["s"] * f, "get_session_s": s_sess["s"] * f,
            "load_all_s": s_all["s"] * f, "load_table_s": s_tab["s"] * f,
            "raw_setup_s": total["s"],
        })

    def restart(self, eventlog_dir: str | None) -> None:
        """Stop the SparkContext and set up again in the same JVM, with the
        uncompressed event log written to ``eventlog_dir`` (None: off)."""
        from pyspark import SparkContext

        self.spark.stop()  # also closes an open event log
        props = SparkContext._jvm.java.lang.System
        props.setProperty("spark.eventLog.enabled", str(eventlog_dir is not None).lower())
        if eventlog_dir is not None:
            os.makedirs(eventlog_dir, exist_ok=True)
            props.setProperty("spark.eventLog.compress", "false")
            props.setProperty("spark.eventLog.rolling.enabled", "false")
            props.setProperty("spark.eventLog.dir", "file://" + eventlog_dir)
        self.setup()
        if self.stream is not None:
            self.stream.rebind(self.spark, self.tables["events"])

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> dict:
        """Peak resident MB of the runner's Python process and the JVM."""
        from pyspark import SparkContext

        return {
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": vm_hwm_kb(SparkContext._gateway.proc.pid) / 1024.0,
        }

    # ---------------- query workloads ----------------

    def prepare(self) -> None:
        """Oracle digests for the query ops; the lakehouse table and model."""
        self.ops = list(self.cfg.get("ops", []))
        missing = [o for o in self.ops if self.specs[o].oracle is None]
        if missing:
            raise SystemExit(f"ops without a DuckDB oracle: {missing}")
        self.expected = check.oracle_digests(
            os.path.join(self.state, "cache"), self.fingerprint, self.sf_dir,
            {o: self.specs[o].oracle for o in self.ops},
        )
        self.duck = check.corpus_connection(self.sf_dir)
        if "stream" not in self.cfg:
            return
        import pyarrow.parquet as pq
        import lakehouse

        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        self.stream = lakehouse.Stream(
            self.spark, self.api, os.path.join(self.run_dir, "lake", "events"),
            self.tables["events"], events, self.cfg["stream"], self.args.seed,
        )
        for i in range(self.cfg["stream"]["initial_appends"]):
            self.record(self.lake_op("append", f"init-{i}"))

    def run_query_op(self, name: str, op_id: str) -> dict:
        spec = self.specs[name]
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        rec = {"op": name, "group": op_id, "module": spec.fn.__module__.rsplit(".", 1)[-1]}
        try:
            with self.tracer.span("op", op_id) as s_op:
                with self.tracer.span("build", op_id) as s_b:
                    df = spec.fn(self.spark, self.sf_dir)
                with self.tracer.span("plan", op_id) as s_p:
                    df._jdf.queryExecution().executedPlan()
                with self.tracer.span("exec", op_id) as s_e:
                    result = df.toArrow()
        except Exception as ex:  # noqa: BLE001 - a failed op counts, the run goes on
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
            return rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(latency=s_op["s"], build_s=s_b["s"], plan_s=s_p["s"], exec_s=s_e["s"])
        t = time.perf_counter()
        rec["ok"] = check.digest(self.duck, result) == self.expected[name]
        rec["verify_s"] = time.perf_counter() - t
        return rec

    # ---------------- lakehouse ----------------

    def lake_op(self, kind: str, op_id: str) -> dict:
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        rec = {"op": kind, "group": op_id}
        try:
            with self.tracer.span(kind, op_id) as s_op:
                verify = getattr(self.stream, kind)()
        except Exception as ex:  # noqa: BLE001 - a failed op counts, the run goes on
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
            return rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t = time.perf_counter()
        rec["ok"] = verify(self.duck)
        rec["verify_s"] = time.perf_counter() - t
        rec["latency"] = s_op["s"]
        return rec

    def run_pass(self, idx: int) -> dict:
        """One pass: every query op and one lakehouse cycle, in seeded order."""
        items = [("query", o) for o in self.ops]
        if self.stream is not None:
            items += [("lake", k) for k in self.stream.cycle()]
            before = self.stream.disk_bytes()
        self.rng.shuffle(items)
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        recs = []
        for j, (kind, name) in enumerate(items):
            op_id = f"p{idx}-o{j}-{name}"
            recs.append(self.run_query_op(name, op_id) if kind == "query"
                        else self.lake_op(name, op_id))
        if self.stream is not None and self.stream.needs_compaction():
            recs.append(self.lake_op("commit_replace", f"p{idx}-oc-commit_replace"))
        wall = time.perf_counter() - t0 - sum(r.get("verify_s", 0.0) for r in recs)
        f = steal_factor(ticks0, cpu_ticks())
        for r in recs:
            for k in ("latency", "build_s", "plan_s", "exec_s"):
                if k in r:
                    r[k] *= f
        out = {"wall": wall * f, "raw_wall": wall, "steal_factor": f, "recs": recs}
        if self.stream is not None:
            out["state"] = {
                **self.stream.state(), "bytes_written": self.stream.disk_bytes() - before,
            }
        return out

    # ---------------- measurement ----------------

    def record(self, rec: dict) -> None:
        self.attempted += 1
        if not rec.get("ok"):
            self.failed += 1
            self.failures.append(f"{rec['group']}: {rec.get('error', 'wrong result')}")

    def window(self, seconds: float, first_pass: int, min_passes: int = 1) -> list[dict]:
        """Whole passes until ``seconds`` have passed and ``min_passes`` ran."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(passes) < min_passes:
            passes.append(self.run_pass(first_pass + len(passes)))
            for r in passes[-1]["recs"]:
                self.record(r)
        return passes

    def run(self) -> dict:
        args = self.args
        self.sf_dir, self.fingerprint, self.gen_s = corpus.build(
            os.path.join(self.state, "cache"), args.sf or self.cfg["sf"],
            self.cfg["factor"],
        )
        log(f"corpus {self.fingerprint} ready")
        self.tracer = Tracer(bool(args.trace))
        self.setup()
        self.prepare()
        log(f"set-up {self.setups[0]['setup_s']:.2f}s, checks ready")
        # warm-up (JIT, codegen cache, file cache): checked, not timed; in a
        # traced run the first pass that each window drops warms up as well
        self.tracer.enabled = False
        self.window(0, -2, 1 if args.trace else self.cfg["warm_up_passes"])
        log("warm-up done")
        if not args.trace:
            passes = self.window(args.seconds, 0, self.cfg["min_passes"])
            self.finish()
            self.passes = passes
            return self.end_to_end(passes)
        # untraced, traced, untraced: the JIT keeps speeding passes up, and
        # comparing the traced window with both untraced ones cancels that
        # trend. Each window drops its first pass, which is still warming up
        # (the JIT, or the new SparkContext after a restart).
        plain = self.window(args.seconds, 0, 2)[1:]
        log_dir = os.path.join(self.run_dir, "eventlog")
        self.tracer.enabled = True
        self.restart(log_dir)
        passes = self.window(args.seconds, 1000, 2)[1:]
        self.tracer.enabled = False
        self.restart(None)
        plain += self.window(args.seconds, 2000, 2)[1:]
        self.finish()
        self.passes = plain + passes
        metrics = self.per_layer(passes, plain, eventlog_counters(log_dir))
        self.tracer.write(
            os.path.join(self.run_dir, "spans.json"),
            {"workload": args.workload, "seed": args.seed, "fingerprint": self.fingerprint},
        )
        return metrics

    def finish(self) -> None:
        """Check the lakehouse's final snapshot; note the peak RSS."""
        log("window done")
        if self.stream is not None:
            rec = {"op": "final_snapshot", "group": "final"}
            rec["ok"] = self.stream.final_snapshot_ok(self.duck)
            self.record(rec)
        self.peak_rss = self.peak_rss_mb()

    def end_to_end(self, passes: list[dict]) -> dict:
        lat = [r["latency"] for p in passes for r in p["recs"] if "latency" in r]
        return {
            "setup_s": self.setups[0]["setup_s"],
            "pass_s": statistics.median(p["wall"] for p in passes),
            "op_geomean_s": statistics.geometric_mean(lat),
            "op_tail_mean_s": tail_mean(lat, TAIL_FRAC),
            "peak_rss_mb": sum(self.peak_rss.values()),
        }

    def per_layer(self, passes: list[dict], plain: list[dict], counters: dict) -> dict:
        cold = self.setups[0]
        m: dict[str, float] = {
            "session.get_session_s": cold["get_session_s"],
            "plans.load_all_s": cold["load_all_s"],
            "registry.load_table_s": cold["load_table_s"],
            "corpus.generate_s": self.gen_s,
        }
        for mod in QUERY_MODULES:
            per_pass = []
            for p in passes:
                acc = dict.fromkeys(MODULE_METRICS, 0.0)
                for r in p["recs"]:
                    if r.get("module") != mod:
                        continue
                    for k in ("build_s", "plan_s", "exec_s"):
                        acc[k] += r.get(k, 0.0)
                    for k, v in counters.get(r["group"], {}).items():
                        acc[k] += v
                per_pass.append(acc)
            for k in MODULE_METRICS:
                m[f"operators.{mod}.{k}"] = median_or_zero([p[k] for p in per_pass])
        m.update(self.txlog_layer(passes, counters))
        m["bench.tracing_overhead_s"] = (
            statistics.median(p["wall"] for p in passes)
            - statistics.median(p["wall"] for p in plain)
        )
        m["bench.op_error_rate"] = self.failed / max(1, self.attempted)
        return m

    def txlog_layer(self, passes: list[dict], counters: dict) -> dict:
        import lakehouse

        flat = [r for p in passes for r in p["recs"] if "latency" in r]
        out = {}
        for name in sorted(set(TXLOG_METHODS.values())):
            lat = [r["latency"] for r in flat if TXLOG_METHODS.get(r["op"]) == name]
            out[f"sources.txlog.{name}"] = median_or_zero(lat)
        writes = [r["latency"] for r in flat if r["op"] in lakehouse.WRITE_OPS]
        reads = [r["latency"] for r in flat if r["op"] in lakehouse.READ_OPS]
        jobs = [
            counters.get(r["group"], {}).get("jobs", 0.0)
            for r in flat if r["op"] in lakehouse.WRITE_OPS
        ]
        states = [p["state"] for p in passes if "state" in p]
        out["sources.txlog.jobs_per_write"] = statistics.fmean(jobs) if jobs else 0.0
        for k in ("files_active", "dv_rows"):
            out[f"sources.txlog.{k}"] = median_or_zero([s[k] for s in states])
        out["sources.txlog.bytes_written_mb"] = median_or_zero(
            [s["bytes_written"] / 1e6 for s in states]
        )
        out["lakehouse.write_p50_s"] = median_or_zero(writes)
        out["lakehouse.write_p90_s"] = percentile(writes, 90) if writes else 0.0
        out["lakehouse.read_p50_s"] = median_or_zero(reads)
        out["lakehouse.read_p90_s"] = percentile(reads, 90) if reads else 0.0
        stream = self.stream
        ratios = stream.skip_ratio if stream else []
        out["sources.txlog.files_skipped_ratio"] = statistics.fmean(ratios) if ratios else 0.0
        disk = stream.disk_bytes() if stream else 0
        out["lakehouse.write_amp"] = disk / stream.submitted_bytes if stream else 0.0
        out["lakehouse.space_amp"] = disk / stream.model.live_bytes() if stream else 0.0
        return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's scale factor (the benchmark's own smoke tests)")
    args = p.parse_args(argv)
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("lightcurator_spark") is None:
        print("lightcurator_spark is not in this checkout; nothing to measure", file=sys.stderr)
        return 3
    bench = Bench(args, spec)
    host_env(bench.state, spec["host"]["driver_mem"])
    try:
        metrics = bench.run()
    finally:
        bench.shutdown()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    units = {d["name"]: d["unit"] for d in declared["end_to_end"] + declared["per_layer"]}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        **result, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "fingerprint": bench.fingerprint, "failures": bench.failures,
        "setups": bench.setups, "peak_rss_mb": bench.peak_rss,
        "passes": [
            {"wall": p["wall"], "raw_wall": p["raw_wall"], "steal_factor": p["steal_factor"],
             "ops": [[r["op"], r.get("latency")] for r in p["recs"]]}
            for p in bench.passes
        ],
    }
    with open(os.path.join(bench.run_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in bench.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"fingerprint {bench.fingerprint}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
