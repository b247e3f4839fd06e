"""Correctness checks and storage counters for the pipeline benchmark.

The oracles are independent of the program: DuckDB runs the same stage
SQL (sql_star_etl) or a key-replace model (delta_upsert_log) over the
same generated parquet, and the Delta counters are read straight from
the table's ``_delta_log`` JSON commits.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import yaml


class CheckFailed(AssertionError):
    pass


def _normalize(table: pa.Table, columns: list[str]) -> pa.Table:
    """Select ``columns`` and cast to comparable types: timestamps to
    int64 microseconds (time zone dropped), integers to int64."""
    cols = []
    for name in columns:
        col = table.column(name)
        t = col.type
        if pa.types.is_dictionary(t):
            col = col.cast(t.value_type)
        elif pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_integer(t):
            col = col.cast(pa.int64())
        cols.append(col)
    return pa.table(cols, names=columns)


def _sorted(table: pa.Table, keys: list[str]) -> pa.Table:
    return table.sort_by([(k, "ascending") for k in keys])


def compare_tables(got: pa.Table, want: pa.Table, keys: list[str],
                   float_tol: float = 0.0) -> None:
    """Row-set equality after sorting by ``keys``; float columns may
    differ by ``float_tol`` (summation order differs between engines)."""
    if set(got.column_names) != set(want.column_names):
        raise CheckFailed(f"columns differ: {sorted(got.column_names)} vs {sorted(want.column_names)}")
    if got.num_rows != want.num_rows:
        raise CheckFailed(f"row count {got.num_rows} != expected {want.num_rows}")
    columns = sorted(want.column_names)
    g = _sorted(_normalize(got, columns), keys)
    w = _sorted(_normalize(want, columns), keys)
    for name in columns:
        a, b = g.column(name), w.column(name)
        if pa.types.is_floating(a.type) or pa.types.is_floating(b.type):
            x = a.to_numpy(zero_copy_only=False).astype(float)
            y = b.to_numpy(zero_copy_only=False).astype(float)
            bad = ~np.isclose(x, y, rtol=0, atol=float_tol, equal_nan=True)
            if bad.any():
                i = int(np.flatnonzero(bad)[0])
                raise CheckFailed(f"column {name} row {i}: {x[i]} != {y[i]}")
        elif not a.equals(b):
            x, y = a.to_pylist(), b.to_pylist()
            i = next(i for i, (p, q) in enumerate(zip(x, y)) if p != q)
            raise CheckFailed(f"column {name} row {i}: {x[i]} != {y[i]}")


# -- sql_star_etl: same stage SQL in DuckDB -----------------------------

def duckdb_pipeline(yaml_text: str) -> pa.Table:
    """Run a (templated) pipeline document's parquet sources and SQL
    stages in DuckDB and return the final stage's rows."""
    import duckdb

    doc = yaml.safe_load(yaml_text)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for src in doc["sources"]:
            loc = src["location"].replace("'", "''")
            con.execute(f"CREATE VIEW {src['name']} AS SELECT * FROM read_parquet('{loc}')")
        last = None
        for group in doc["stages"]:
            for stage in group if isinstance(group, list) else [group]:
                con.execute(f"CREATE VIEW {stage['name']} AS {stage['query']}")
                last = stage["name"]
        return con.execute(f"SELECT * FROM {last}").arrow()
    finally:
        con.close()


# -- delta_upsert_log: key-replace model in DuckDB ----------------------

def delta_model_states(base: Path, batches: list[Path], key: str) -> list[pa.Table]:
    """Expected table after each upsert: the previous state minus every
    row whose key is in the batch, plus all batch rows."""
    import duckdb

    month = "strftime(o_orderdate, '%Y-%m') AS o_month"
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE TABLE state AS SELECT *, {month} FROM read_parquet('{base}')")
        states = []
        for b in batches:
            con.execute(f"CREATE OR REPLACE TEMP VIEW batch AS SELECT *, {month} FROM read_parquet('{b}')")
            con.execute(
                "CREATE OR REPLACE TABLE state AS "
                f"SELECT * FROM state WHERE {key} NOT IN (SELECT {key} FROM batch) "
                "UNION ALL SELECT * FROM batch"
            )
            states.append(con.execute("SELECT * FROM state").arrow())
        return states
    finally:
        con.close()


# -- operator_curation: canonical output hash ---------------------------

def table_hash(table: pa.Table) -> str:
    """sha256 of the rows in a canonical order: columns by name, rows
    sorted by every column, floats rounded to 9 decimals."""
    columns = sorted(table.column_names)
    t = _normalize(table, columns)
    cols = []
    for name in columns:
        col = t.column(name)
        if pa.types.is_floating(col.type):
            col = pc.round(col, 9)
        cols.append(col)
    t = _sorted(pa.table(cols, names=columns), columns)
    h = hashlib.sha256()
    for name in columns:
        h.update(name.encode())
        h.update(json.dumps(t.column(name).to_pylist(), default=str).encode())
    return h.hexdigest()


def check_curation(out: pa.Table, input_ids: set[int], exact_groups: list[list[int]]) -> None:
    ids = set(out.column("doc_id").to_pylist())
    extra = ids - input_ids
    if extra:
        raise CheckFailed(f"{len(extra)} output doc_ids not in the input, e.g. {sorted(extra)[:3]}")
    for group in exact_groups:
        kept = ids.intersection(group)
        if len(kept) > 1:
            raise CheckFailed(f"exact duplicates survived dedup: {sorted(kept)}")


# -- storage counters ---------------------------------------------------

def file_sizes(root: Path) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """Bytes and number of files that are new or changed."""
    changed = [p for p, s in after.items() if before.get(p) != s]
    return sum(after[p] for p in changed), len(changed)


def data_files(root: Path) -> tuple[int, int]:
    """(bytes, files) of the data files (parquet, no hidden or log
    files) under a destination directory."""
    total = n = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(d, f))
                n += 1
    return total, n


def parquet_bytes(table: pa.Table) -> int:
    """Size of ``table`` written as one parquet file with the generator's
    writer settings: the reference size for write amplification."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy", row_group_size=1 << 20)
    return buf.tell()


class DeltaLogReader:
    """Replays a table's ``_delta_log`` commits to count adds, removes,
    live files, log bytes and checkpoints after each commit."""

    def __init__(self, table: Path) -> None:
        self.log = table / "_delta_log"
        self.version = -1
        self.live: dict[str, int] = {}

    def advance(self) -> dict:
        """Apply every commit after the last one seen; returns the
        counters of those commits plus the table state after them."""
        added = removed = add_bytes = removed_bytes = 0
        live_bytes_before = sum(self.live.values())
        while True:
            path = self.log / f"{self.version + 1:020d}.json"
            if not path.exists():
                break
            for line in path.read_text().splitlines():
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    self.live[a["path"]] = a["size"]
                    added += 1
                    add_bytes += a["size"]
                elif "remove" in action:
                    r = action["remove"]
                    removed_bytes += self.live.pop(r["path"], r.get("size") or 0)
                    removed += 1
            self.version += 1
        log_files = list(self.log.iterdir())
        return {
            "version": self.version,
            "files_added": added,
            "files_removed": removed,
            "add_bytes": add_bytes,
            "rewrite_frac": removed_bytes / live_bytes_before if live_bytes_before else 0.0,
            "live_files": len(self.live),
            "log_bytes": sum(p.stat().st_size for p in log_files if p.is_file()),
            "checkpoints": sum(1 for p in log_files if p.name.endswith(".checkpoint.parquet")),
        }
