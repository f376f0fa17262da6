"""Output checks against the engine's DuckDB twins.

A job's output is reduced to a digest: its row count plus an
order-insensitive hash (the wrapping uint64 sum of per-row hashes, so
duplicate rows count). The oracle side runs the twin SQL in DuckDB over
views that expose only the input columns the caller names, and its
digest is cached on disk under a key made of the SQL text, the DuckDB
version and the exact bytes of those input columns. An oracle that
reads a column outside the exposed set fails with a binder error
instead of reusing a stale digest.

Types are normalised before hashing so that a value compares equal
across engines whatever its storage width: integers to int64, floats to
float64, timestamps to int64 microseconds. Integer-vs-float stays a
mismatch, as in the engine's own dtype-strict parity check.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Digest:
    rows: int
    hash: str


def _normalise(table: pa.Table) -> pd.DataFrame:
    cols = {}
    for name in sorted(table.column_names):
        col = table.column(name)
        t = col.type
        if pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_decimal(t):
            col = col.cast(pa.int64() if t.scale == 0 else pa.float64())
        elif pa.types.is_integer(t):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(t):
            col = col.cast(pa.float64())
        cols[name] = col
    return pa.table(cols).to_pandas()


def digest_table(table: pa.Table) -> Digest:
    df = _normalise(table)
    row_hashes = pd.util.hash_pandas_object(df, index=False).to_numpy()
    total = int(row_hashes.sum(dtype=np.uint64)) if len(row_hashes) else 0
    return Digest(len(df), f"{total:016x}")


def digest_parquet(path: Path) -> Digest:
    return digest_table(ds.dataset(str(path), format="parquet").to_table())


def parquet_columns(path: Path) -> list[str]:
    return ds.dataset(str(path), format="parquet").schema.names


def _input_key(inputs: dict[str, tuple[Path, list[str]]]) -> str:
    h = hashlib.sha256()
    for name in sorted(inputs):
        path, columns = inputs[name]
        table = pq.read_table(path, columns=columns)
        h.update(name.encode())
        for c in columns:
            h.update(c.encode())
            for chunk in table.column(c).chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle digests, computed once per (SQL, input) and kept
    in ``cache_dir`` across runs."""

    def __init__(self, cache_dir: Path, temp_dir: Path):
        self.cache_dir = cache_dir
        self.temp_dir = temp_dir
        self.computed = 0  # oracle queries actually run (cache misses)

    def digest(self, sql: str, inputs: dict[str, tuple[Path, list[str]]]) -> Digest:
        import duckdb

        key = hashlib.sha256(
            "\x00".join([duckdb.__version__, sql, _input_key(inputs)]).encode()
        ).hexdigest()
        path = self.cache_dir / f"{key}.json"
        if path.exists():
            return Digest(**json.loads(path.read_text()))
        self.temp_dir.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{self.temp_dir}'")
            for name, (src, columns) in inputs.items():
                cols = ", ".join(columns)
                con.execute(f"CREATE VIEW {name} AS SELECT {cols} "
                            f"FROM read_parquet('{src}')")
            d = digest_table(con.sql(sql).arrow())
        finally:
            con.close()
        self.computed += 1
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"rows": d.rows, "hash": d.hash}))
        tmp.replace(path)
        return d
