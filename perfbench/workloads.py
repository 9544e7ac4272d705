"""The benchmark's workloads and the Spark-side code that runs them.

Every call into the package goes through one of its public functions,
timed from outside:

- ``session``: ``session.get_spark``;
- ``plans``: a registry builder ``queries()[q](spark, sf_dir)``, with
  the ``operators/*`` code and footer probes it runs and any eager
  Spark jobs it launches;
- ``exec``: Spark executing the built plan through the ``noop`` sink;
- ``sources``: the write path, ``etl_flow.land_csvs``,
  ``etl_flow.materialize`` and ``io.write_table``.

With tracing on, every call runs under a Spark job group named
``<workload>:<pass>:<query>:<layer>``; after the call, outside the
timed interval, the jobs of that group and their stages are read back
from Spark's status store.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from core import Tally, Tracer, query_order

ETL_TABLES = ("orders", "lineitem", "customer", "nation")
ETL_STEPS = ("land", "materialize", "analyze", "sink")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    #: registry queries run through the noop sink; empty for the ETL
    queries: tuple[str, ...]
    #: untimed passes before timing starts, while the JIT and Spark's
    #: code generation settle
    warmups: int
    why: str


#: the plan-build-heavy registry queries (most eager jobs per query)
CURATION = ("q_dedup_keep_best", "q_minhash_pairs")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "curation_sf0.01", 0.01, CURATION, 2,
            "text curation: plan build (eager jobs, driver round trips) "
            "is most of the wall time",
        ),
        Workload(
            "etl_sf0.01", 0.01, (), 1,
            "the reference pipeline: CSV landing, typed partitioned "
            "parquet materialization, flagship query, parquet sink; "
            "the only workload that writes",
        ),
    )
}

#: counters summed over the stages of a job group
STAGE_COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "executor_run_ms",
    "executor_cpu_ns", "gc_ms", "input_rows", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Runner:
    """Runs one workload's passes in one Spark session."""

    def __init__(self, spark, workload: Workload, data_dir: str,
                 work_dir: str, seed: int, tally: Tally, tracer: Tracer):
        from fifa_data_pipeline_spark.plans import registry

        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tally = tally
        self.tracer = tracer
        self.queries = registry.QUERIES
        self.seen_stages: set[int] = set()
        #: workspace of the last ETL pass, kept until the next pass or
        #: the correctness check
        self.last_ws: str | None = None

    # -- tracing -------------------------------------------------------
    def _group(self, pass_no, item: str, layer: str) -> str:
        return f"{self.wl.name}:{pass_no}:{item}:{layer}"

    def _timed(self, group: str | None, fn):
        """Run ``fn`` under job group ``group`` (none when untraced);
        returns (start, end, result)."""
        if group is not None:
            self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            return t0, time.perf_counter(), out
        finally:
            if group is not None:
                self.sc._jsc.clearJobGroup()

    def group_counts(self, group: str) -> dict:
        """Jobs of ``group`` and the sums of their stage metrics. A
        stage already counted for an earlier group (a reused shuffle)
        counts as skipped."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(STAGE_COUNTERS, 0)
        jobs = tracker.getJobIdsForGroup(group)
        c["jobs"] = len(jobs)
        stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sid in self.seen_stages or sd.status().toString() == "SKIPPED":
                c["skipped_stages"] += 1
                continue
            self.seen_stages.add(sid)
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["executor_run_ms"] += sd.executorRunTime()
            c["executor_cpu_ns"] += sd.executorCpuTime()
            c["gc_ms"] += sd.jvmGcTime()
            c["input_rows"] += sd.inputRecords()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spill_bytes"] += sd.diskBytesSpilled()
        return c

    # -- passes --------------------------------------------------------
    def run_pass(self, pass_no, traced: bool) -> float:
        """One pass over the workload; returns its wall time."""
        with self.tracer.span("pass", None) as pid:
            self.tracer.spans[pid].counts.update(pass_no=pass_no, traced=traced)
            if self.wl.queries:
                for q in query_order(list(self.wl.queries), self.seed, pass_no):
                    self.tally.attempt(
                        q, lambda: self._noop_query(q, pass_no, pid, traced)
                    )
            else:
                self.tally.attempt(
                    "etl", lambda: self._etl_pass(pass_no, pid, traced)
                )
        return self.tracer.spans[pid].duration

    def _noop_query(self, q: str, pass_no, parent: int, traced: bool) -> None:
        fn = self.queries[q]
        gb = self._group(pass_no, q, "build") if traced else None
        ge = self._group(pass_no, q, "exec") if traced else None
        b0, b1, df = self._timed(gb, lambda: fn(self.spark, self.data_dir))
        e0, e1, _ = self._timed(
            ge, lambda: df.write.format("noop").mode("overwrite").save()
        )
        if traced:
            qid = self.tracer.add(q, b0, e1, parent)
            self.tracer.add("build", b0, b1, qid, **self.group_counts(gb))
            self.tracer.add("exec", e0, e1, qid, **self.group_counts(ge))

    def _etl_pass(self, pass_no, parent: int | None, traced: bool) -> None:
        """land → materialize → analyze (flagship plan over the
        materialized tables) → sink, in a fresh workspace. The previous
        pass's workspace is deleted first; this one is kept for the
        correctness check, unless the pass fails."""
        from fifa_data_pipeline_spark.plans.etl_flow import land_csvs, materialize
        from fifa_data_pipeline_spark.plans.flagship import flagship_from
        from fifa_data_pipeline_spark.sources.io import write_table

        if self.last_ws is not None:
            shutil.rmtree(self.last_ws, ignore_errors=True)
            self.last_ws = None
        ws = os.path.join(self.work_dir, f"etl-{pass_no}")
        shutil.rmtree(ws, ignore_errors=True)
        landing, warehouse, result = (
            os.path.join(ws, d) for d in ("landing", "warehouse", "result")
        )
        state = {}

        def analyze():
            t = {n: self.spark.read.parquet(os.path.join(warehouse, n))
                 for n in ETL_TABLES}
            state["df"] = flagship_from(
                t["orders"], t["lineitem"], t["customer"], t["nation"]
            )

        steps = {
            "land": lambda: land_csvs(self.spark, self.data_dir, landing),
            "materialize": lambda: materialize(self.spark, landing, warehouse),
            "analyze": analyze,
            "sink": lambda: write_table(state["df"], result),
        }
        try:
            spans = []
            for step in ETL_STEPS:
                g = self._group(pass_no, "etl", step) if traced else None
                s0, s1, _ = self._timed(g, steps[step])
                spans.append((step, s0, s1, g))
            if traced:
                files, size = tree_size(ws)
                sid = self.tracer.add(
                    "etl", spans[0][1], spans[-1][2], parent,
                    files_written=files, bytes_written=size,
                )
                for step, s0, s1, g in spans:
                    self.tracer.add(step, s0, s1, sid, **self.group_counts(g))
            self.last_ws = ws
        finally:
            if self.last_ws != ws:
                shutil.rmtree(ws, ignore_errors=True)

    # -- correctness ---------------------------------------------------
    def check(self, expected: dict, hash_rows) -> None:
        """Run every query once more, untimed, or read the result the
        last ETL pass sank, and compare the rows with the oracle's
        answer."""
        if self.wl.queries:
            for q in self.wl.queries:
                fn = self.queries[q]
                ok, got = self.tally.attempt(
                    f"check {q}",
                    lambda: self._collect(fn(self.spark, self.data_dir)),
                )
                if ok:
                    self._compare(q, got, expected[q], hash_rows)
            return
        try:
            ok, got = self.tally.attempt(
                "check etl",
                lambda: self._collect(self.spark.read.parquet(
                    os.path.join(self.last_ws, "result"))),
            )
            if ok:
                self._compare("etl", got, expected["etl"], hash_rows)
        finally:
            if self.last_ws is not None:
                shutil.rmtree(self.last_ws, ignore_errors=True)

    @staticmethod
    def _collect(df) -> tuple[list[str], list[tuple]]:
        return list(df.columns), [tuple(r) for r in df.collect()]

    def _compare(self, label: str, got, want: dict, hash_rows) -> None:
        cols, rows = got
        if sorted(cols) != want["cols"]:
            problem = f"columns {sorted(cols)} != {want['cols']}"
        elif len(rows) != want["rows"]:
            problem = f"rows {len(rows)} != {want['rows']}"
        elif hash_rows(cols, rows) != want["hash"]:
            problem = "row hash differs from the oracle"
        else:
            return
        self.tally.fail(f"check {label}: {problem}")
