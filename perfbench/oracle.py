"""Result correctness: canonical hashes of Spark results and DuckDB oracles.

Both sides are canonicalised the way the repository's correctness gate does
it (``tests.oracle_utils.driver_canon``: columns sorted by name, rows sorted
over every column) and hashed cell by cell with the cell's kind as
``tests.oracle_utils._kind`` classifies it, so an int never equals a float
and floats compare at full precision, as in ``tests.oracle_utils.compare``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pandas as pd

from tests.oracle_utils import _df_rows, _kind, driver_canon, run_oracle


# Text of a cell's value, per kind, equal exactly when ``_cell_eq`` calls
# two cells of that kind equal.
_TOKEN = {
    "null": lambda v: "",
    "bool": lambda v: str(bool(v)),
    "int": lambda v: str(int(v)),
    "float": lambda v: repr(float(v) + 0.0),
    "decimal": lambda v: str(v.normalize()),
    "temporal": lambda v: pd.Timestamp(v).isoformat(),
    "str": json.dumps,
    "bytes": lambda v: bytes(v).hex(),
    "other": repr,
}
# Part of every cached oracle hash's key: bump it when the hashing changes.
HASH_VERSION = 2


def _cell(v) -> str:
    kind = _kind(v)
    return f"{kind}:{_TOKEN[kind](v)}"


def rows_hash(cols: list[str], rows: list[tuple]) -> str:
    """Hash of a result given as column names and rows."""
    canon = driver_canon(cols, rows)
    h = hashlib.sha256(json.dumps(list(canon.columns)).encode())
    for row in canon.itertuples(index=False, name=None):
        h.update("|".join(_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def frame_hash(pdf: pd.DataFrame) -> str:
    """Hash of a fetched pandas result (``DataFrame.toPandas()``)."""
    return rows_hash(*_df_rows(pdf))


def data_digest(data_dir: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(data_dir.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def oracle_hashes(sql: dict[str, str], data_dir: Path, cache_dir: Path) -> dict[str, str]:
    """DuckDB-oracle hash of each query, computed once per (SQL text, data,
    hashing version) and kept in ``cache_dir`` for later runs."""
    cache_dir.mkdir(parents=True, exist_ok=True)
    digest = data_digest(data_dir)
    out = {}
    for name, text in sql.items():
        key = hashlib.sha256(f"{HASH_VERSION}\n{digest}\n{text}".encode()).hexdigest()
        path = cache_dir / f"{key}.txt"
        if path.exists():
            out[name] = path.read_text()
            continue
        out[name] = rows_hash(*run_oracle(text, str(data_dir)))
        path.write_text(out[name])
    return out
