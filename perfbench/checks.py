"""Output checks, run outside the timer.

``canonical`` reduces a result frame to a comparable value with the
repository's DuckDB oracle comparison (``tests/oracle_util.py``): column
names sorted, each column's dtype family, and the rows after that module's
value normalisation and sort. Two results match when the digests of their
canonical forms are equal.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.oracle_util import _canon, dtype_family, run_oracle


def canonical(pdf: pd.DataFrame) -> tuple:
    cols = sorted(pdf.columns)
    kinds = tuple(dtype_family(pdf[c].dtype) for c in cols)
    rows = list(_canon(pdf).itertuples(index=False, name=None)) if len(pdf) else []
    return tuple(cols), kinds, rows


def digest(canon: tuple) -> str:
    """Stable hash of a canonical result (the reference for queries that
    have no oracle: the warm-up pass's answer)."""
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def oracle_results(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """Canonical DuckDB answers of ``oracles`` over the parquet tables."""
    return {name: canonical(run_oracle(sql, sf_dir))
            for name, sql in oracles.items()}
