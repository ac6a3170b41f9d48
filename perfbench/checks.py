"""Result checks for every query the benchmark times.

Queries with a DuckDB oracle are compared the way ``tests/_compare.py``
compares them (its normalization and dtype-kind lens are imported, not
copied): same column names, same row count, same hash-visible dtype
kind per column, equal rows after normalization. The oracle runs
before the engine starts, so the comparison needs only the rows the
timed ``collect()`` returned.

``q_emb_pca_top`` has no oracle (power iteration); it is checked
against NumPy ``eigh`` as ``tests/test_pca.py`` does.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

import numpy as np
import pandas as pd

def _compare_module():
    """``tests/_compare.py`` of the checkout the benchmark runs in."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
    try:
        import _compare
    finally:
        sys.path.pop(0)
    return _compare


class Oracle:
    """Expected results, computed with DuckDB before the first query.

    Results are kept under ``cache_dir`` keyed by the SQL text and the
    data directory, so a slow oracle (a recursive CTE) is paid once per
    checkout, not once per run."""

    def __init__(self, data_dir: str, oracles: dict[str, str], names: list[str], cache_dir: str):
        import duckdb

        self._cmp = _compare_module()
        self.expected: dict[str, tuple[list[str], list[tuple], dict]] = {}
        os.makedirs(cache_dir, exist_ok=True)
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(data_dir, f)
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                    )
            for name in names:
                if name not in oracles:
                    continue
                key = hashlib.sha256(f"{data_dir}\n{oracles[name]}".encode()).hexdigest()
                path = os.path.join(cache_dir, f"{name}-{key[:16]}.pkl")
                if os.path.exists(path):
                    with open(path, "rb") as f:  # written by this class only
                        self.expected[name] = pickle.load(f)
                    continue
                # rows as Python values and kinds through pandas, the
                # two lenses tests/_compare.py applies
                cur = con.execute(oracles[name])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                df = con.execute(oracles[name]).df()
                kinds = {c: self._cmp._col_kind(df[c]) for c in cols}
                self.expected[name] = (cols, self._cmp._normalize(cols, rows), kinds)
                with open(path + ".part", "wb") as f:
                    pickle.dump(self.expected[name], f)
                os.replace(path + ".part", path)
        finally:
            con.close()
        self._data_dir = data_dir

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None if the result is right, else a one-line reason."""
        if name == "q_emb_pca_top":
            emb = pd.read_parquet(os.path.join(self._data_dir, "embeddings.parquet"))
            return _check_pca(np.array(emb["embedding"].tolist(), dtype=np.float64), cols, rows)
        if name not in self.expected:
            return f"{name}: no check for this query"
        want_cols, want_rows, want_kinds = self.expected[name]
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != oracle {sorted(want_cols)}"
        if len(rows) != len(want_rows):
            return f"{len(rows)} rows != oracle {len(want_rows)}"
        got = pd.DataFrame(rows or None, columns=cols)
        for c in cols:
            kind = self._cmp._col_kind(got[c])
            if kind == "decimal" or (
                kind and want_kinds[c] and kind != want_kinds[c]
            ):
                return f"column {c!r} kind {kind} != oracle {want_kinds[c]}"
        norm = self._cmp._normalize(cols, rows)
        if norm != want_rows:
            bad = sum(a != b for a, b in zip(norm, want_rows))
            return f"{bad} of {len(rows)} rows differ from the oracle"
        return None


def _check_pca(x: np.ndarray, cols: list[str], rows: list[tuple]) -> str | None:
    """The Rayleigh quotient must lie in [0.95, 1.001] x lambda1 and the
    loadings must form a unit vector (tests/test_pca.py's guarantees on
    a near-flat spectrum)."""
    recs = [dict(zip(cols, r)) for r in rows]
    if len(recs) != x.shape[1]:
        return f"{len(recs)} loadings for {x.shape[1]} dimensions"
    xc = x - x.mean(axis=0)
    lam1 = np.linalg.eigh(xc.T @ xc / (len(x) - 1))[0][-1]
    eig = recs[0]["eigenvalue"]
    if not 0.95 * lam1 < eig < 1.001 * lam1:
        return f"eigenvalue {eig} outside [0.95, 1.001] x lambda1={lam1}"
    v = np.array([r["loading"] for r in sorted(recs, key=lambda r: r["dim"])])
    if abs(float(v @ v) - 1.0) >= 1e-6:
        return f"loadings have norm^2 {float(v @ v)}"
    return None
