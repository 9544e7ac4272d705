"""Spark-side subset timer — bench.py's exact protocol (one flagship
warmup, then per-query warm min-of-3 through the noop sink) for an
arbitrary query list and SF dir. Usage::

    python tools/bench_subset.py <sf_dir> <query> [query ...]

Prints one JSON line {"sf_dir": ..., "queries": {name: sec},
"cold": {name: sec}, "compiles": {name: [n1, n2, n3]}}: the min and
the first of the three runs, and the whole-stage-codegen classes each
run compiled (Spark's ``CodegenMetrics`` compile count), cold run
first.
Used for quiet-session A/Bs and the sf10 scale probe (r9) without
dragging the whole 172-query HEADLINE suite through a large SF.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from fifa_data_pipeline_spark.session import get_spark

    spark = get_spark("bench-subset")
    queries = entrymod.queries()
    jvm = spark.sparkContext._jvm
    compile_timer = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def run(name: str) -> tuple[float, int]:
        """Seconds and codegen compiles of one build + noop write."""
        c0 = compile_timer.getCount()
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
        return secs, compile_timer.getCount() - c0

    run("q_flagship")  # JVM/codegen/footer warmup, as in bench.py

    import gc as _gc

    def _gc_both() -> None:
        _gc.collect()
        jvm.System.gc()

    out: dict[str, float] = {}
    cold: dict[str, float] = {}
    compiles: dict[str, list[int]] = {}
    for name in names:
        # GC both heaps between EVERY run: at sf10 a single query's
        # shuffle/broadcast residue inflates its own subsequent runs
        # 2-3x (measured: q_basket_pairs 31.9/18.7/16.8/16.0 s with
        # per-run GC vs 52/42/... without) — min-of-3 only reads
        # steady state if each run starts clean.
        runs = []
        for _ in range(3):
            runs.append(run(name))
            _gc_both()
        secs = [s for s, _ in runs]
        cold[name] = round(secs[0], 4)
        out[name] = round(min(secs), 4)
        compiles[name] = [c for _, c in runs]
    print(json.dumps(
        {"sf_dir": sf_dir, "queries": out, "cold": cold, "compiles": compiles}
    ))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
