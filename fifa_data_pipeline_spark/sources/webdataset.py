"""WebDataset-style tar-shard ingestion and export (stdlib tarfile).

The de-facto container for multimodal training corpora: samples are
grouped into tar "shards", each sample a set of same-stem members
(``000123.txt``, ``000123.png``, ``000123.json``, …) — sequential
reads, no per-sample object-store requests, and a dataloader streams
a shard end-to-end. This module speaks that format with no external
library:

- :func:`write_webdataset` — shard a DataFrame of (key, named binary
  payloads) into ``shard-%05d.tar`` files of ``samples_per_shard``
  samples via ``mapInPandas`` over pre-bucketed rows (each task
  writes whole shards; no driver involvement).
- :func:`read_webdataset` — ``binaryFile`` scan of the shards +
  ``mapInPandas`` untar, regrouping members by stem into one row per
  sample. Spark's binaryFile source gives per-FILE parallelism,
  which is exactly shard granularity — the same unit a PyTorch
  WebDataset loader parallelizes on.

Scale: a shard streams through the Arrow batch as ONE binary cell,
so ``samples_per_shard × payload`` must fit an executor's batch
budget — the same sizing rule as the loader side. Tar members are
stored uncompressed (USTAR): codec choices stay per-payload (the
PNG/WAV members are already compressed formats).

``path`` must be a filesystem every EXECUTOR can write (shared FS,
fuse-mounted bucket, or local mode) — tasks write shards directly.
For plain object stores, route the same tar bytes through a
committing sink instead: tasks write uniquely named temporaries and
the driver publishes them (a manifest, or renames) only after every
task succeeded — a Python Data Source writer's ``commit``/``abort``.
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_webdataset(
    df: DataFrame,
    path: str,
    payload_cols: list[str],
    key_col: str = "doc_id",
    samples_per_shard: int = 100,
) -> None:
    """Export to tar shards. ``payload_cols`` are binary columns;
    each becomes a ``<key>.<col>`` member of the sample. Samples are
    assigned to shards by ``key // samples_per_shard`` (deterministic
    and re-runnable), one task writes each shard's tar in one pass.
    """
    import os

    os.makedirs(path, exist_ok=True)
    # exact long floor division (documented `key // samples_per_shard`):
    # subtracting pmod makes the dividend exactly divisible, so `div`
    # is exact for negative keys and keys beyond 2^53 alike — a double
    # intermediate (`/` then cast) truncates toward zero and loses
    # precision (ADVICE r3)
    shard_of = F.expr(
        f"(CAST(`{key_col}` AS BIGINT) - "
        f"pmod(CAST(`{key_col}` AS BIGINT), {samples_per_shard})) "
        f"div {samples_per_shard}"
    )

    def write_shards(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import os as _os

        _os.makedirs(path, exist_ok=True)  # executors ≠ driver node
        # Accumulate the WHOLE partition before writing: Arrow slices
        # a partition into multiple pandas batches, and a shard whose
        # rows straddle a batch boundary would otherwise be written
        # twice — the second tar replacing (and losing) the first.
        # Memory bound = the task's shards in full, i.e. the same
        # samples_per_shard × payload budget as the read side.
        by_shard: dict[int, list] = {}
        for pdf in batches:
            for shard_id, grp in pdf.groupby("__shard"):
                by_shard.setdefault(int(shard_id), []).append(grp)
        for shard_id in sorted(by_shard):
            grp = pd.concat(by_shard[shard_id]).sort_values(
                key_col, kind="mergesort"
            )
            name = _os.path.join(path, f"shard-{shard_id:05d}.tar")
            with tarfile.open(name, "w") as tar:
                for _, row in grp.iterrows():
                    for col in payload_cols:
                        data = bytes(row[col])
                        info = tarfile.TarInfo(
                            f"{int(row[key_col]):09d}.{col}"
                        )
                        info.size = len(data)
                        tar.addfile(info, io.BytesIO(data))
            yield pd.DataFrame({"shard": [shard_id], "n": [len(grp)]})

    (
        df.withColumn("__shard", shard_of)
        .repartition("__shard")
        .mapInPandas(write_shards, "shard long, n long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def read_webdataset(
    spark: SparkSession, path: str, payload_cols: list[str]
) -> DataFrame:
    """Read tar shards back: one row per sample with its named
    payload columns. Parallelism = shard count (binaryFile split
    granularity); member order inside a shard is irrelevant — stems
    regroup samples."""
    schema = "key long, " + ", ".join(
        f"{c} binary" for c in payload_cols
    )

    def untar(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                samples: dict[int, dict[str, bytes]] = {}
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    for member in tar.getmembers():
                        stem, _, ext = member.name.partition(".")
                        if ext not in payload_cols:
                            continue
                        samples.setdefault(int(stem), {})[ext] = (
                            tar.extractfile(member).read()
                        )
                rows = [
                    {"key": k, **{c: v.get(c) for c in payload_cols}}
                    for k, v in sorted(samples.items())
                ]
                yield pd.DataFrame(
                    rows, columns=["key", *payload_cols]
                )

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("content")
        .mapInPandas(untar, schema)
    )
