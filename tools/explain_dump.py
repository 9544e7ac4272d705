"""Dump ``explain("formatted")`` for queries into per-query files.

Optimization-round evidence capture: writes
``plans/<round>/<query>_<tag>.txt`` for each named query (default:
every bench HEADLINE query), so plan claims in OPTIMIZATION_r{N}.md
are checkable without running Spark. Usage::

    python tools/explain_dump.py <tag> [sf_dir] [query ...]

``$SPARK_GRAFT_PLANS_ROUND`` picks the output round dir (default
``r12``, the current optimization round).

A query that is not in the registry, or whose plan fails to build or
explain, writes no file; the others are still written, and the run
then exits 1 with the failing names on stderr.

``tag`` is ``before`` / ``after``. Plan SHAPE is sf-independent for
these queries (same reasoning as tools/plan_audit.py), so the default
sf_dir is the bench SF itself to keep PushedFilters/statistics
realistic.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repo = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo))

    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from fifa_data_pipeline_spark.session import get_spark

    names = sys.argv[3:] or HEADLINE
    out_dir = repo / "plans" / os.environ.get(
        "SPARK_GRAFT_PLANS_ROUND", "r12"
    )
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("explain-dump")
    queries = entrymod.queries()
    failed = []
    for name in names:
        if name not in queries:
            print(f"FAILED {name}: not in registry", file=sys.stderr)
            failed.append(name)
            continue
        try:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001 — report, keep going
            print(f"FAILED {name}: {e!r}", file=sys.stderr)
            failed.append(name)
            continue
        (out_dir / f"{name}_{tag}.txt").write_text(text)
        print(f"wrote {name}_{tag}.txt ({len(text)} bytes)")
    spark.stop()
    if failed:
        print(f"{len(failed)} failed: {' '.join(failed)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
