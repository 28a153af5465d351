"""Shared pieces of the workloads: the step result, Spark/pandas
conversion, input-byte accounting and the DuckDB frame comparison."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa


@dataclass
class StepResult:
    rows: int = 0


def arrow_bytes(pdf: pd.DataFrame) -> int:
    """User-input size of a frame: its Arrow in-memory bytes."""
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def _normalize(df: pd.DataFrame, cols: List[str]) -> pd.DataFrame:
    df = df[cols].copy()
    for c in cols:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]) or df[c].dtype == object:
            df[c] = df[c].astype(object).where(df[c].notna(), None)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(cols, kind="mergesort").reset_index(drop=True)


def _strings(values) -> np.ndarray:
    s = pd.Series(values, dtype=object)
    return s.where(s.notna(), "<null>").astype(str).to_numpy()


def frames_equal(got: pd.DataFrame, want: pd.DataFrame,
                 sort_cols: Optional[List[str]] = None,
                 rtol: float = 1e-9) -> Tuple[bool, str]:
    """Compare two result frames as multisets of rows; floats within
    ``rtol``. Returns (equal, detail)."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != {len(want)} expected"
    cols = list(want.columns)
    keys = sort_cols or [c for c in cols if not pd.api.types.is_float_dtype(want[c])] or cols
    order = keys + [c for c in cols if c not in keys]
    g, w = _normalize(got, order), _normalize(want, order)
    for c in order:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if pd.api.types.is_float_dtype(w[c]):
            if not np.allclose(a, b, rtol=rtol, atol=1e-6, equal_nan=True):
                return False, f"column {c} differs"
        elif not (_strings(a) == _strings(b)).all():
            return False, f"column {c} differs"
    return True, f"{len(got)} rows match"


class Workload:
    """One closed-loop workload. ``run.py`` calls :meth:`setup` once,
    then :meth:`prepare` and :meth:`step` for each operation of whole
    cycles of the mix, then :meth:`check`."""

    name = ""
    cycle = 1  # steps per cycle of the operation mix
    amp_window = "timed"  # which phase write_amp/space_amp account

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.user_bytes = 0
        self.setup_user_bytes = 0
        self.tables = {}
        os.makedirs(self.tables_root, exist_ok=True)

    @property
    def tables_root(self) -> str:
        return os.path.join(self.work, "tables")

    def df(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf)

    def kind_of(self, step: int) -> str:
        return self.name

    def table_dirs(self) -> List[str]:
        return [self.tables_root]

    def live_data_bytes(self) -> int:
        return sum(t.detail()["sizeInBytes"] for t in self.tables.values())

    def layer_metrics(self, input_by_kind: dict) -> dict:
        return {}

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, step: int) -> None:
        """Build the next operation's input; not part of its latency."""

    def step(self, i: int) -> StepResult:
        raise NotImplementedError

    def check(self) -> List[Tuple[str, bool, str]]:
        raise NotImplementedError
