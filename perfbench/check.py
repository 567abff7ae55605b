"""Output checks, run outside the timed region.

- Catalog outputs are compared with the query's DuckDB SQL in
  ``catalog.ORACLE`` on the same parquet files: same row count, same
  column names and the same sorted cell matrix (order-insensitive, the
  comparison the project's oracle-parity test makes).
- CDC final states are compared by sha256 digest with an independent
  pandas replayer of the WAL: per (repo, path) the highest lsn wins and
  a delete drops the key.
- ``gate_bites`` proves on every run that both comparisons flag a
  perturbed cell and a dropped row.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

STATE_COLS = ["repo", "path", "commit", "lang", "content_sha", "lsn"]

# lang normalisation the engine's pandas UDF applies (functions/udfs.py)
_LANG_ALIASES = {
    "py": "python", "python3": "python", "rs": "rust", "md": "markdown",
    "c++": "cpp", "golang": "go", "js": "javascript", "ts": "typescript",
}


def oracle_answers(data_dir: str, tables, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Each oracle query's answer from DuckDB over the parquet files."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        return {name: con.execute(sql).fetchdf() for name, sql in sqls.items()}
    finally:
        con.close()


def _cell(v):
    if v is None:
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else v
    if isinstance(v, np.ndarray):
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    g_cols, g_rows = canon(got)
    w_cols, w_rows = canon(want)
    if g_cols != w_cols:
        return f"columns {g_cols} vs oracle {w_cols}"
    bad = sum(1 for a, b in zip(g_rows, w_rows) if a != b)
    return f"{bad} rows differ" if bad else None


def replay_lww(wal_dir: str) -> pd.DataFrame:
    """Final table state by folding the whole WAL in pandas."""
    ev = pd.read_parquet(wal_dir, columns=["lsn", "op", "repo", "path", "commit", "lang", "content"])
    last = ev.sort_values("lsn").groupby(["repo", "path"], as_index=False).last()
    alive = last[last["op"] != "D"].copy()
    alive["content_sha"] = alive["content"].map(lambda c: hashlib.sha256(c.encode()).hexdigest())
    alive["lang"] = alive["lang"].map(lambda v: _LANG_ALIASES.get(v.strip().lower(), v.strip().lower()))
    return alive[STATE_COLS].sort_values(["repo", "path"]).reset_index(drop=True)


def state_digest(df: pd.DataFrame) -> str:
    df = df[STATE_COLS].sort_values(["repo", "path"])
    payload = "\n".join("|".join("" if pd.isna(v) else str(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.sha256(payload.encode()).hexdigest()


def perturb(df: pd.DataFrame, how: str) -> pd.DataFrame:
    """A copy of ``df`` with one changed cell (``row``) or one row
    removed (``key``)."""
    out = df.copy()
    if how == "key":
        return out.iloc[1:].reset_index(drop=True)
    col = out.columns[-1]
    v = out.iloc[0][col]
    if isinstance(v, (int, float, np.integer, np.floating)) and not isinstance(v, bool):
        out.iat[0, out.columns.get_loc(col)] = v + 1
    else:
        out[col] = out[col].astype(object)
        out.iat[0, out.columns.get_loc(col)] = f"{v}#perturbed"
    return out


def gate_bites(sample: pd.DataFrame, digest_sample: pd.DataFrame | None = None) -> bool:
    """True when both comparisons reject a perturbed row and a dropped
    key of known-good data."""
    if len(sample) < 2:
        return False
    ok = all(frame_mismatch(perturb(sample, how), sample) for how in ("row", "key"))
    if digest_sample is not None and len(digest_sample) >= 2:
        d = state_digest(digest_sample)
        ok = ok and all(state_digest(perturb(digest_sample, how)) != d for how in ("row", "key"))
    return ok
