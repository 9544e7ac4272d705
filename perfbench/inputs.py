"""The benchmark's input tables.

``data/sf0.01/`` holds the repository's reference test data at scale
factor 0.01 (TESTDATA.md, FIXTURES.md part B), copied byte for byte:
the ten tables the query registry reads, one parquet file each. The
same files are what ``tools/check_oracle.py`` compares Spark and DuckDB
on, so every benchmark run sees the same, real inputs. Before a run
uses them, every file's row count and SHA-256 are checked.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

#: scale factor -> table -> (rows, sha256 of the parquet file)
TABLES = {
    0.01: {
        "customer": (1500, "a7748ced9c4d47fe054c27a2805636a6c034e95abea9eef49cf9b5fd1d1a4fcb"),
        "documents": (500, "3882fed1c345efc5111415b19fba244a14ef57410e9d9b20cae2201317be6d84"),
        "embeddings": (500, "5bd2b0f09265a0662f08b1eae03a396df1c566e4d387e2ac7bd0b2d278df9cde"),
        "events": (10000, "bb5b2c28f8905d984c38279d3894d4db0edc24cb025763bfdfada8adc58789c0"),
        "lineitem": (60000, "4838c2d835f3035ec106897d3659af94bb76dd8245401f0e937f9a60fab282ee"),
        "nation": (25, "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696"),
        "orders": (15000, "5676f9128455769b5b05d42c22f98cf2ce9ee7dc965a02c85a3813127dee6ba8"),
        "part": (2000, "bd41856c401f578da41a6cb44c863f8a98081b611257a4e4c5cbc6ec970a11e1"),
        "region": (5, "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0"),
        "supplier": (100, "d7424445156dfe7e4c39d79919e548f373530edbb56d4bbc4a0742fca82e4ee6"),
    },
}


def data_dir(sf: float) -> str:
    return os.path.join(HERE, "data", f"sf{sf}")


def verify(sf: float) -> dict:
    """Check every table at ``sf`` against its recorded row count and
    hash; return ``{"dir", "rows", "bytes"}`` or raise."""
    d = data_dir(sf)
    rows, sizes = {}, {}
    for name, (want_rows, want_sha) in TABLES[sf].items():
        path = os.path.join(d, f"{name}.parquet")
        with open(path, "rb") as fh:
            sha = hashlib.sha256(fh.read()).hexdigest()
        n = pq.ParquetFile(path).metadata.num_rows
        if (n, sha) != (want_rows, want_sha):
            raise RuntimeError(f"input {path}: {n} rows, sha256 {sha}; "
                               f"expected {want_rows} rows, sha256 {want_sha}")
        rows[name], sizes[name] = n, os.path.getsize(path)
    return {"dir": d, "rows": rows, "bytes": sizes}
