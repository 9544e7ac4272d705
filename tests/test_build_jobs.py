"""Build-job regression net: the Spark jobs a query launches while its
DataFrame is being BUILT (eager pins, including the connected-
components round pins whose ``Observation`` tells the loop when to
stop, and partition probes) must equal the count pinned in
``tools/build_job_pins.json``. A new eager round trip fails here; a
deliberate one, or a win that removes one, updates the pin.

The pins hold at the test scale factor only: the connected-components
round count, and with it the job count, depends on the data.
``q_etl_flow`` runs its whole pipeline while it is built, so its pin
counts the landing, materialize and sink writes."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from fifa_data_pipeline_spark.sources.io import read_table

QUERIES = entrymod.queries()
PINS_PATH = os.path.join(
    os.path.dirname(__file__), "..", "tools", "build_job_pins.json"
)
with open(PINS_PATH) as fh:
    PINS = json.load(fh)


def _build_jobs(spark, name: str, sf_dir: str) -> int:
    sc = spark.sparkContext
    group = f"build_jobs:{name}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(PINS))
def test_build_jobs_pinned(name, spark, sf_dir):
    # cached subtrees from earlier tests would replace plan work; the
    # session's first read of a table runs a job of its own
    spark.catalog.clearCache()
    for table in ("documents", "orders", "lineitem", "customer", "nation"):
        read_table(spark, sf_dir, table)
    assert _build_jobs(spark, name, sf_dir) == PINS[name]
