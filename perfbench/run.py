"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0

A run, in order (every phase after set-up reuses one SparkSession):

1. set-up: start the session, then build the seeded inputs and load
   them through the catalog ``SETUP_REPEATS`` times; ``setup_s`` is
   process start to session up plus the median input build;
2. the cold pass: the workload's first pass in this JVM (``cold_s``);
3. the host canary, a fixed pure-JVM query, median of 5;
4. the verify pass, untimed: every output checked (doubles as the
   warm-up pass);
5. timed passes until ``--seconds`` have passed (at least one);
   ``pass_s`` and ``cpu_s`` are their medians.
   With ``--trace 1`` untraced and traced passes alternate and the
   per-layer metrics come from the traced ones;
6. the canary again, then shutdown of Spark and its JVM.

Between passes, untimed: blocking unpersist of every persistent RDD,
``clearCache()``, deletion of the pass outputs and ``gc.collect()``.
The last stdout line is the result record; the line before it is the
run's detail (host, pinned settings, input sizes, every pass).
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3
CANARY_REPEATS = 5
DRIVER_MEM = "2g"
MAX_CPUS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "climate_data_pipelines_spark/__init__.py",
        "tools/gen_scale_fixture.py",
        "tools/check_oracle.py",
    ))


def pinned_env(run_dir: str) -> dict[str, str]:
    """The settings every run pins, recorded in its detail line."""
    return {
        "SPARK_GRAFT_CPUS": str(min(os.cpu_count() or 1, MAX_CPUS)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONHASHSEED": "0",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM of the run (spark-submit's launcher and the driver)
        # keeps its temp files in the run directory and writes no
        # hsperfdata file to the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }


def reexec_pinned(args) -> None:
    """Start over in a fresh interpreter with the pinned environment
    (``PYTHONHASHSEED`` only takes effect at interpreter start)."""
    run_dir = os.path.join(RUNS, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    env = dict(os.environ, **pinned_env(run_dir),
               PERFBENCH_RUN_DIR=run_dir, PERFBENCH_T0=repr(PROCESS_T0))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)


class Run:
    def __init__(self, args, run_dir: str, t0: float):
        self.args = args
        self.run_dir = run_dir
        self.t0 = t0
        self.attempted = 0
        self.failed = 0
        self.checks: list = []
        self.passes: list[dict] = []
        self.layer: dict[str, float] = {}
        self.tracer = None

    # ---- set-up --------------------------------------------------------
    def setup(self):
        import procstat
        from workloads import WORKLOADS

        from climate_data_pipelines_spark import get_spark

        self.host_start = procstat.host_record()
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        session_up = time.time()
        self.layer["session.start_s"] = time.perf_counter() - t
        self.workload = WORKLOADS[self.args.workload](self.spark)
        builds = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.sizes = self.workload.build_inputs(
                os.path.join(self.run_dir, f"inputs{i}"), self.args.seed)
            t_cat = time.perf_counter()
            self.load_catalog()
            builds.append(time.perf_counter() - t)
            self.layer["catalog.load_s"] = time.perf_counter() - t_cat
        self.layer["inputs.build_s"] = statistics.median(builds)
        self.setup_s = (session_up - self.t0) + statistics.median(builds)
        self.setup_builds = builds

    def load_catalog(self):
        from climate_data_pipelines_spark.catalog import load_table

        tables = self.workload.tables()
        for sf_dir, name in tables:
            load_table(self.spark, sf_dir, name).schema
        self.layer["catalog.loads"] = len(tables)

    # ---- passes --------------------------------------------------------
    def hygiene(self):
        sc = self.spark.sparkContext
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        gc.collect()

    def run_pass(self, kind: str, traced: bool = False, tag: bool = False) -> dict:
        import procstat
        n = len(self.passes)
        pass_dir = os.path.join(self.run_dir, f"pass{n}")
        os.makedirs(pass_dir)
        sc = self.spark.sparkContext
        pass_tag = f"perfbench-pass-{n}"
        if tag:
            sc.addJobTag(pass_tag)
        if traced:
            self.tracer.install()
            self.tracer.active = True
            span0 = len(self.tracer.spans)
        ops = []
        before = procstat.sample()
        t_pass = time.perf_counter()
        for name, build, execute in self.workload.ops(pass_dir):
            op_tag = f"perfbench-op-{n}-{name}"
            if traced:
                sc.addJobTag(op_tag)
            self.attempted += 1
            t = time.perf_counter()
            t_built = None
            try:
                plan = build()
                t_built = time.perf_counter()
                execute(plan)
            except Exception as e:  # a failed operation is counted, the run goes on
                self.failed += 1
                print(f"perfbench: {kind} pass {n}: {name} failed: {e!r}", file=sys.stderr)
            t_done = time.perf_counter()
            t_built = t_built or t_done
            if traced:
                sc.removeJobTag(op_tag)
            ops.append({"op": name, "tag": op_tag, "build_s": t_built - t,
                        "exec_s": t_done - t_built})
        wall = time.perf_counter() - t_pass
        cpu = procstat.sample().minus(before)
        if traced:
            self.tracer.active = False
            self.tracer.uninstall()
        if tag:
            sc.removeJobTag(pass_tag)
        rec = {"kind": kind, "traced": traced, "wall_s": wall, "cpu_s": cpu.total,
               "cpu": {"jvm": cpu.jvm, "driver_py": cpu.driver_py,
                       "pyworker": cpu.pyworker},
               "pyworkers_started": len(cpu.worker_pids), "rss_peak_mb": cpu.hwm_mb,
               "ops": ops, "dir": pass_dir}
        if tag:
            rec["jobs"] = len(self.tracer.job_ids(pass_tag))
        if traced:
            rec["span0"] = span0
        self.passes.append(rec)
        return rec

    def after_pass(self, rec: dict, keep_outputs: bool = False) -> None:
        if rec.get("traced"):
            self.collect_layers(rec)
        self.hygiene()
        if not keep_outputs:
            shutil.rmtree(rec["dir"], ignore_errors=True)

    def canary(self) -> list[float]:
        """A fixed pure-JVM aggregation: its time tracks the host, not
        the program under test."""
        from pyspark.sql import functions as F

        samples = []
        for _ in range(CANARY_REPEATS):
            t = time.perf_counter()
            (self.spark.range(0, 1_000_000, numPartitions=4)
             .select((F.col("id") % 1000).alias("k"), (F.col("id") * 3).alias("v"))
             .groupBy("k").agg(F.sum("v").alias("s"))
             .write.format("noop").mode("overwrite").save())
            samples.append(time.perf_counter() - t)
        return samples

    def verify(self, pass_dir: str) -> None:
        try:
            self.checks = self.workload.verify(pass_dir)
        except Exception as e:
            self.checks = [("verify", False, repr(e))]
        self.attempted += len(self.checks)
        for name, ok, detail in self.checks:
            if not ok:
                print(f"perfbench: check {name} FAILED: {detail}", file=sys.stderr)

    # ---- traced-pass accounting ---------------------------------------
    def collect_layers(self, rec: dict) -> None:
        """Per-layer numbers of one traced pass (untimed, after it)."""
        from tracing import OPERATOR_MODULES
        from workloads import SQL_QUERIES

        tr = self.tracer
        tr.drain_listener()
        stages = tr.stage_metrics()
        since = rec["span0"]
        work = tr.spark_work([op["tag"] for op in rec["ops"]], stages)
        m: dict[str, float] = {f"spark.{k}": v for k, v in vars(work).items()}
        layers = tr.layer_totals(since)
        plan_names = tr.name_totals("plans", since)
        queries = {q.split("_", 1)[0] for q in SQL_QUERIES}
        m["queries.build_s"] = sum(o["build_s"] for o in rec["ops"] if o["op"] in queries)
        m["queries.exec_s"] = sum(o["exec_s"] for o in rec["ops"] if o["op"] in queries)
        for q in sorted(queries):
            op = next((o for o in rec["ops"] if o["op"] == q), None)
            m[f"op.{q}.build_s"] = op["build_s"] if op else 0.0
            m[f"op.{q}.exec_s"] = op["exec_s"] if op else 0.0
        none = (0.0, 0, 0)
        m["materialize.checkpoint_s"], m["materialize.checkpoints"], _ = layers.get(
            "materialize", none)
        (m["driver.collect_s"], m["driver.collects"],
         m["driver.collect_rows"]) = layers.get("driver", none)
        for mod in OPERATOR_MODULES:
            m[f"operators.{mod}.s"], m[f"operators.{mod}.calls"], _ = layers.get(
                f"operators.{mod}", none)
        for stage in ("neardup_dedup", "write_dedup_index", "curate_corpus"):
            m[f"plans.{stage}_s"] = plan_names.get(stage, 0.0)
        m["sinks.write_s"] = layers.get("sinks", none)[0]
        files = size = 0
        for d in tr.sink_dirs:
            for dirpath, _, names in os.walk(d):
                for f in names:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, f))
        tr.sink_dirs.clear()
        m["sinks.files"] = files
        m["sinks.bytes"] = size
        m["proc.jvm_cpu_s"] = rec["cpu"]["jvm"]
        m["proc.pyworker_cpu_s"] = rec["cpu"]["pyworker"]
        m["proc.driver_py_cpu_s"] = rec["cpu"]["driver_py"]
        rec["layers"] = m

    # ---- the whole run -------------------------------------------------
    def execute(self) -> dict:
        import procstat

        phases = {}
        t = time.perf_counter()
        self.setup()
        phases["setup"] = time.perf_counter() - t
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
        cold = self.run_pass("cold")
        self.after_pass(cold, keep_outputs=True)
        t = time.perf_counter()
        canary_start = self.canary()
        phases["canary_start"] = time.perf_counter() - t
        t = time.perf_counter()
        self.verify(cold["dir"])
        shutil.rmtree(cold["dir"], ignore_errors=True)
        phases["verify"] = warmup_s = time.perf_counter() - t

        # traced runs alternate untraced, traced, untraced, ...: the
        # untraced neighbours of a traced pass bracket any remaining
        # warm-up drift in the overhead ratio
        timed = []
        min_passes = 3 if self.args.trace else 1
        t = time.perf_counter()
        while len(timed) < min_passes or time.perf_counter() - t < self.args.seconds:
            traced = bool(self.args.trace) and len(timed) % 2 == 1
            rec = self.run_pass("timed", traced=traced, tag=bool(self.args.trace))
            self.after_pass(rec)
            timed.append(rec)
        phases["timed"] = time.perf_counter() - t
        t = time.perf_counter()
        canary_end = self.canary()
        phases["canary_end"] = time.perf_counter() - t
        self.host_end = procstat.host_record()

        plain = [r for r in timed if not r["traced"]]
        metrics = {
            "setup_s": self.setup_s,
            "cold_s": cold["wall_s"],
            "pass_s": statistics.median(r["wall_s"] for r in plain),
            "cpu_s": statistics.median(r["cpu_s"] for r in plain),
        }
        self.detail = {
            "record": "perfbench_detail", "workload": self.args.workload,
            "seed": self.args.seed, "trace": self.args.trace,
            "host_start": self.host_start, "host_end": self.host_end,
            "steal_share": procstat.steal_share(self.host_start, self.host_end),
            "pinned": {k: v for k, v in pinned_env(self.run_dir).items()
                       if k != "PYTHONPATH"},
            "inputs": self.sizes, "setup_builds_s": self.setup_builds,
            "canary_start_s": canary_start, "canary_end_s": canary_end,
            "passes": [{k: v for k, v in r.items() if k not in ("ops", "dir", "layers")}
                       for r in self.passes],
            "phases_s": phases, "checks": self.checks,
            "outputs": getattr(self.workload, "summary", None), **metrics,
        }
        if not self.args.trace:
            return with_units(metrics, "end_to_end")
        traced = [r for r in timed if r["traced"]]
        m = {k: statistics.median(r["layers"][k] for r in traced)
             for k in traced[0]["layers"]}
        m.update(self.layer)
        m["proc.pyworkers_started"] = cold["pyworkers_started"]
        m["proc.rss_peak_mb"] = max(r["rss_peak_mb"] for r in self.passes)
        m["warmup_s"] = warmup_s
        m["host.canary_s"] = statistics.median(canary_start + canary_end)
        m["trace.overhead_ratio"] = (
            statistics.median(r["wall_s"] for r in traced) / metrics["pass_s"])
        m["trace.added_jobs"] = (statistics.median(r["jobs"] for r in traced)
                                 - statistics.median(r["jobs"] for r in plain))
        self.write_trace(m)
        return with_units(m, "per_layer")

    def write_trace(self, layer_metrics: dict) -> None:
        path = os.path.join(RUNS, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        self.tracer.dump(path, {
            "workload": self.args.workload, "seed": self.args.seed,
            "layers": layer_metrics,
            "passes": [{k: v for k, v in r.items() if k != "dir"} for r in self.passes],
        })

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = SparkContext._gateway
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes, also when stopping
            # failed because a signal interrupted a call into it
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)


def with_units(values: dict, kind: str) -> dict:
    """Every metric of ``kind`` listed in BENCHMARK.json, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not program_present():
        print("perfbench: the program under test is not in this checkout "
              f"({ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.environ.get("PERFBENCH_RUN_DIR")
    if run_dir is None:
        reexec_pinned(args)
    run = Run(args, run_dir, float(os.environ["PERFBENCH_T0"]))
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics = run.execute()
    finally:
        try:
            run.shutdown()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(run.detail, default=str))
    correct = run.failed == 0 and all(ok for _, ok, _ in run.checks)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
