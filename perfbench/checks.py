"""Output checks, all run off the clock.

- Catalog entries are compared with their DuckDB oracle twin over the
  same generated files, both sides canonicalized by
  ``tests.oracle_utils.canonicalize`` (the repo's parity harness).
- Pipeline, operator and store outputs are compared against an
  order-independent fingerprint that must match across passes and runs, and
  against exact expectations computed independently here.
"""

from __future__ import annotations

import hashlib
import json
import os
import traceback

import duckdb

from feray_spark.catalog import TABLES
from tests.oracle_utils import canonicalize


def duck_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the replica (replicated tables are parquet
    directories, copied ones single files)."""
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def fingerprint(pdf) -> str:
    """Order-independent digest of a pandas frame's canonical rows."""
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for row in canonicalize(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def pinned(data_dir: str, key: str, fp: str) -> str:
    """The first fingerprint recorded for ``key`` beside the replica:
    later runs in the same checkout must reproduce it."""
    path = os.path.join(data_dir, "fingerprints.json")
    pins = {}
    if os.path.exists(path):
        with open(path) as fh:
            pins = json.load(fh)
    if key not in pins:
        pins[key] = fp
        with open(path + ".tmp", "w") as fh:
            json.dump(pins, fh)
        os.replace(path + ".tmp", path)
    return pins[key]


def oracle_mismatch(spark_pdf, duck_pdf) -> str | None:
    """None when both sides hold the same canonical rows, else why."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    s, d = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    if s != d:
        i = next(i for i, (a, b) in enumerate(zip(s, d)) if a != b)
        return f"first differing row {i}: {s[i]} != {d[i]}"
    return None


def components(pairs) -> dict[int, int]:
    """Connected components of an edge list by union-find: every node
    mapped to the smallest id in its component."""
    root: dict[int, int] = {}

    def find(x):
        root.setdefault(x, x)
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(root)}


class CheckLog:
    """Counts operations attempted and failed. An operation fails when
    it raises or when any check made while it ran fails."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, cond: bool, what: str) -> bool:
        if not cond:
            self.reasons.append(what)
        return cond

    def run(self, name: str, op) -> None:
        before = len(self.reasons)
        try:
            op()
        except Exception:  # the benchmark keeps going and reports it
            self.reasons.append(f"{name} raised:\n{traceback.format_exc()}")
        self.attempted += 1
        self.failed += len(self.reasons) > before
