"""Benchmark of the fifa_data_pipeline_spark engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload curation_sf0.01 --seed 1 \
        --seconds 10 --trace 0

One closed-loop client in one process: a Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) runs one query at a
time. A run

1. checks the workload's input tables (``perfbench/data/``) and
   computes the oracle answers (cached under ``.perfbench/``);
2. sets up: ``get_spark`` plus untimed warm-up passes;
3. runs timed passes for ``--seconds`` (at least three); the seed
   permutes the query order of each pass;
4. runs every query once more, untimed (for the ETL: reads what its
   last timed pass sank), and checks the rows against the DuckDB
   oracle;
5. stops Spark and its JVM, and prints one JSON line.

With ``--trace 0`` the line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, read from job groups and
the status store on alternate passes, and the tracing overhead (traced
against untraced passes of the same run). Spans go to
``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402
from core import Tally, Tracer, median  # noqa: E402
from workloads import CURATION, ETL_TABLES, STAGE_COUNTERS, WORKLOADS, Runner  # noqa: E402

MIN_PASSES = 3
#: heap of the driver JVM unless SPARK_GRAFT_DRIVER_MEM says otherwise;
#: it is allocated whole at start (-Xms) so that heap resizing does not
#: vary from run to run
DRIVER_MEM = "2g"
MB = 1e6
CLK_TCK = os.sysconf("SC_CLK_TCK")

#: name -> (unit, better). The two timings are CPU seconds of the
#: driver JVM and this process: on a shared host, wall time moves with
#: the CPU time other guests take from the machine (steal), by more than
#: any bound a regression check could use. ``pass_cpu_s`` leaves out the
#: JIT compiler threads, whose bursts of work on Spark's generated code
#: vary from pass to pass; ``setup_s`` keeps them, since warming the JIT
#: up is part of set-up. Wall times and the JIT's share of a pass are
#: reported with the per-layer metrics.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_cpu_s": ("s", "lower"),
    "success_rate": ("share", "higher"),
}
PER_LAYER = {
    "run.setup_wall_s": ("s", "lower"),
    "run.pass_wall_s": ("s", "lower"),
    "run.pass_jit_cpu_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "plans.build_share": ("share", "lower"),
    "exec.noop_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.skipped_stages": ("count", "higher"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.core_busy_share": ("share", "higher"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.input_rows": ("count", "lower"),
    "sources.land_s": ("s", "lower"),
    "sources.land_jobs": ("count", "lower"),
    "sources.materialize_s": ("s", "lower"),
    "sources.materialize_jobs": ("count", "lower"),
    "sources.analyze_s": ("s", "lower"),
    "sources.sink_s": ("s", "lower"),
    "sources.bytes_written_mb": ("MB", "lower"),
    "sources.files_written": ("count", "lower"),
    "sources.write_amp": ("ratio", "lower"),
    "trace.overhead_share": ("share", "lower"),
    "trace.read_s": ("s", "lower"),
    **{
        f"{q}.{m}": (unit, "lower")
        for q in CURATION
        for m, unit in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))
    },
}


class SparkProcess:
    """The Spark session and the JVM behind it, started and stopped by
    the benchmark."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.pid = None

    def start(self):
        from fifa_data_pipeline_spark.session import get_spark

        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        self.spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed set of JIT compiler threads, so that none exits
            # and takes its CPU count with it (see cpu_s)
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:-UseDynamicNumberOfCompilerThreads",
        })
        self.pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                       .current().pid())
        return self.spark

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM (``VmHWM``)."""
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MB
        raise RuntimeError("no VmHWM in /proc status")

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by the driver JVM and this process,
        and the part of it the JVM's JIT compiler threads used. Unlike
        wall time, neither counts time the hypervisor gives the
        machine's cores to other guests (steal)."""
        total = _proc_cpu_s(f"/proc/{self.pid}/stat")[1] + own_cpu_s()
        jit = 0.0
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            name, secs = _proc_cpu_s(f"/proc/{self.pid}/task/{tid}/stat")
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit += secs
        return total, jit

    def env(self) -> dict:
        """Versions and the write policy, recorded with every run."""
        jvm = self.spark.sparkContext._jvm
        return {
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "write_mode": "overwrite",
            "parquet_codec": self.spark.conf.get(
                "spark.sql.parquet.compression.codec"),
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit. The JVM ends when
        its stdin closes, which Python's own exit does without waiting
        for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def _proc_cpu_s(stat_path: str) -> tuple[str, float]:
    """(name, user + system CPU seconds) of a process or thread, from
    its ``/proc`` stat file."""
    with open(stat_path) as fh:
        stat = fh.read()
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat[stat.rindex(")") + 1:].split()
    return name, (int(fields[11]) + int(fields[12])) / CLK_TCK


def layer_metrics(tracer: Tracer, wl, cores: int, cpus: dict,
                  source_bytes: int) -> dict:
    """Per-layer metrics: the median over traced passes of each pass's
    sums, read from the spans and their counters, and the tracing
    overhead (pass CPU, traced against untraced)."""
    per_pass, land_rows = [], set()
    for p in tracer.spans:
        if p.name != "pass" or not p.counts.get("traced"):
            continue
        v = dict.fromkeys(PER_LAYER, 0.0)
        stage = dict.fromkeys(STAGE_COUNTERS, 0)
        for child in tracer.children(p.id):
            if child.name == "etl":
                v["sources.files_written"] += child.counts["files_written"]
                v["sources.bytes_written_mb"] += child.counts["bytes_written"] / MB
                for step in tracer.children(child.id):
                    v[f"sources.{step.name}_s"] += step.duration
                    if f"sources.{step.name}_jobs" in v:
                        v[f"sources.{step.name}_jobs"] += step.counts["jobs"]
                    if step.name == "land":
                        land_rows.add(step.counts["input_rows"])
                continue
            for layer in tracer.children(child.id):
                if layer.name == "build":
                    v["plans.build_s"] += layer.duration
                    v["plans.build_jobs"] += layer.counts["jobs"]
                    if child.name in CURATION:
                        v[f"{child.name}.build_s"] += layer.duration
                        v[f"{child.name}.build_jobs"] += layer.counts["jobs"]
                else:
                    v["exec.noop_s"] += layer.duration
                    if child.name in CURATION:
                        v[f"{child.name}.exec_s"] += layer.duration
                    for k in STAGE_COUNTERS:
                        stage[k] += layer.counts[k]
        for k in ("jobs", "stages", "skipped_stages", "tasks", "input_rows"):
            v[f"exec.{k}"] = stage[k]
        v["exec.executor_run_s"] = stage["executor_run_ms"] / 1e3
        v["exec.executor_cpu_s"] = stage["executor_cpu_ns"] / 1e9
        v["exec.gc_s"] = stage["gc_ms"] / 1e3
        v["exec.shuffle_write_mb"] = stage["shuffle_write_bytes"] / MB
        v["exec.shuffle_read_mb"] = stage["shuffle_read_bytes"] / MB
        v["exec.spill_mb"] = stage["spill_bytes"] / MB
        planned = v["plans.build_s"] + v["exec.noop_s"]
        v["plans.build_share"] = v["plans.build_s"] / planned if planned else 0.0
        if v["exec.noop_s"]:
            v["exec.core_busy_share"] = (
                v["exec.executor_run_s"] / (v["exec.noop_s"] * cores))
        v["sources.write_amp"] = v["sources.bytes_written_mb"] * MB / source_bytes
        v["trace.read_s"] = tracer.self_time(p.id)
        per_pass.append(v)
    _validate(per_pass, land_rows, wl)
    out = {k: median([v[k] for v in per_pass]) for k in PER_LAYER}
    out["trace.overhead_share"] = median(cpus[True]) / median(cpus[False]) - 1
    return out


def _validate(per_pass: list[dict], land_rows: set, wl) -> None:
    """Refuse to publish counters that do not hold up: eager build
    jobs must repeat exactly across passes, and the ETL's landing step
    must read every row of its source tables."""
    for q in wl.queries:
        seen = {v[f"{q}.build_jobs"] for v in per_pass}
        if len(seen) != 1:
            raise RuntimeError(f"{q}.build_jobs differs across passes: {sorted(seen)}")
    if not wl.queries:
        want = sum(inputs.TABLES[wl.sf][t][0] for t in ETL_TABLES)
        if land_rows != {want}:
            raise RuntimeError(
                f"landing read {sorted(land_rows)} input rows, the sources hold {want}")


def _pass_kind(trace: bool, pass_no: int) -> bool:
    """Whether pass ``pass_no`` is traced: none without tracing, else
    every other pass, starting with a traced one."""
    return trace and pass_no % 2 == 0


def _enough(walls: dict, trace: bool) -> bool:
    """At least MIN_PASSES untraced passes, and with tracing as many
    traced ones."""
    return len(walls[False]) >= MIN_PASSES and (
        not trace or len(walls[True]) >= MIN_PASSES)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    try:
        import fifa_data_pipeline_spark  # noqa: F401
        from tools.check_oracle import _hash_rows
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    t0, c0 = time.perf_counter(), own_cpu_s()
    data = inputs.verify(wl.sf)
    data_dir = data["dir"]
    expected = oracle.expected(wl, data_dir, os.path.join(work, "oracle"))
    prep_s, prep_cpu_s = time.perf_counter() - t0, own_cpu_s() - c0

    # Spark, its launcher JVM and Python write scratch files only here.
    run_dir = os.path.join(work, "run")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)

    tally, tracer = Tally(), Tracer()
    walls = {False: [], True: []}
    cpus, jits = {False: [], True: []}, {False: [], True: []}
    proc = SparkProcess(run_dir)
    try:
        t0 = time.perf_counter()
        spark = proc.start()
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        env = proc.env()
        runner = Runner(spark, wl, data_dir, run_dir, args.seed, tally, tracer)
        for i in range(wl.warmups):
            runner.run_pass(f"warmup{i}", traced=False)
        setup_wall_s = time.perf_counter() - T_START - prep_s
        setup_cpu_s = proc.cpu_s()[0] - prep_cpu_s
        t_measure, n = time.perf_counter(), 0
        while (time.perf_counter() - t_measure < args.seconds
               or not _enough(walls, bool(args.trace))):
            traced = _pass_kind(bool(args.trace), n)
            c0, j0 = proc.cpu_s()
            walls[traced].append(runner.run_pass(n, traced))
            c1, j1 = proc.cpu_s()
            cpus[traced].append(c1 - c0 - (j1 - j0))
            jits[traced].append(j1 - j0)
            n += 1
        peak_rss = proc.peak_rss_mb()
        runner.check(expected, _hash_rows)
    finally:
        proc.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tracer.dump(os.path.join(
        work, "traces", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"))

    if args.trace:
        source_bytes = sum(data["bytes"][t] for t in ETL_TABLES)
        values = layer_metrics(tracer, wl, cores, cpus, source_bytes)
        values.update({
            "run.setup_wall_s": setup_wall_s,
            "run.pass_wall_s": median(walls[False]),
            "run.pass_jit_cpu_s": median(jits[False]),
            "session.start_s": session_s,
            "session.peak_rss_mb": peak_rss,
        })
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": median(cpus[False]),
            "success_rate": 1.0 - tally.error_rate,
        }
        units = END_TO_END
    info = {
        "workload": wl.name, "why": wl.why, "seed": args.seed,
        "trace": args.trace, "cores": cores, **env,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": os.cpu_count(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "passes": len(walls[False]) + len(walls[True]),
        "passes_untraced_s": walls[False], "passes_traced_s": walls[True],
        "passes_untraced_cpu_s": cpus[False],
        "passes_untraced_jit_cpu_s": jits[False], "setup_wall_s": setup_wall_s,
        "data": {"sf": wl.sf, "rows": data["rows"],
                 "mb": round(sum(data["bytes"].values()) / MB, 2)},
        "prep_s": prep_s, "errors": tally.errors,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": values[k], "unit": units[k][0]} for k in units},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
