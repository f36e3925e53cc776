"""Output checks. All of them run outside the timed region.

- Oracled operations: the rows must hash-match the registry's DuckDB
  oracle over the same tables, with the normalisation of
  ``scripts/driver_sim.py`` (columns sorted by name, floats as 6-decimal
  strings, NaN as "NaN", rows order-insensitive).
- Rows-only operations and the corpus pipeline's parquet output: the
  same digest must match the one pinned in ``pins.json``.
- Experiment-grid results: the SSC bookkeeping invariants hold for every
  seed; the whole table is also pinned for the default seed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

GRID_METRICS = ("accuracy", "AUC", "PR", "F1score", "percentageLabeledFinal")
HOLDOUT_METRICS = ("accuracy", "AUC", "PR", "F1score")


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def digest(columns: list[str], records: list[dict]) -> str:
    """Order-insensitive digest of rows under that normalisation."""
    cols = sorted(columns)
    rows = sorted(tuple(_norm(r[c]) for c in cols) for r in records)
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in rows:
        h.update(json.dumps(row).encode())
    return h.hexdigest()


def spark_digest(df) -> tuple[str, int]:
    rows = [r.asDict() for r in df.collect()]
    return digest(df.columns, rows), len(rows)


class Oracle:
    """DuckDB views over the parquet tables of one directory.

    The oracle digest of each SQL text over those files is computed once
    and kept in ``cache_path`` (some oracles are quadratic self-joins that
    take longer than the Spark query they check).
    """

    def __init__(self, data_dir: str, cache_path: str):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.tables = sorted(
            f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        files = hashlib.sha256()
        for t in self.tables:
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
                files.update(hashlib.sha256(fh.read()).digest())
        self._files = files.hexdigest()
        self._con = None
        try:
            with open(cache_path) as fh:
                self._memo = json.load(fh)
        except (OSError, ValueError):
            self._memo = {}

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return con

    def digest(self, sql: str) -> tuple[str, int]:
        key = hashlib.sha256((self._files + sql).encode()).hexdigest()
        if key not in self._memo:
            self._con = self._con or self._connect()
            frame = self._con.execute(sql).fetchdf()
            records = frame.to_dict(orient="records")
            self._memo[key] = [digest(list(frame.columns), records), len(records)]
            os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self._memo, fh)
            os.replace(tmp, self.cache_path)
        return tuple(self._memo[key])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def grid_problems(rows: list[dict]) -> list[str]:
    """SSC bookkeeping invariants of AllResults-shaped rows.

    ``cross_validate`` floors each pool size's k-fold average separately,
    so labeled + unlabeled before and after may differ by one.
    """
    bad = []
    for r in rows:
        tag = f"{r['data']}/{r['criterion']}/{r['classifier']}"
        before = r["LabeledInitial"] + r["UnLabeledInitial"]
        after = r["LabeledFinal"] + r["UnLabeledFinal"]
        if abs(before - after) > 1:
            bad.append(f"{tag}: pool {before} -> {after}")
        if r["LabeledFinal"] < r["LabeledInitial"]:
            bad.append(f"{tag}: LabeledFinal < LabeledInitial")
        if r["LabeledInitial"] <= 0 or r["UnLabeledInitial"] <= 0:
            bad.append(f"{tag}: empty labeled or unlabeled pool")
        bad += _unit_interval(tag, r, GRID_METRICS)
    return bad


def holdout_problems(rows: list[dict]) -> list[str]:
    bad = []
    for r in rows:
        bad += _unit_interval(r["clasificador"], r, HOLDOUT_METRICS)
    return bad


def _unit_interval(tag: str, row: dict, names) -> list[str]:
    return [
        f"{tag}: {m}={row[m]!r} outside [0, 1]"
        for m in names
        if row.get(m) is None or not 0.0 <= row[m] <= 1.0
    ]


def parquet_digest(path: str) -> tuple[str, int]:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    return digest(table.column_names, table.to_pylist()), table.num_rows
