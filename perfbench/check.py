"""Output check: every job's result against its DuckDB oracle.

Canonicalisation follows ``tools/driver_sim.py::canon`` (sorted columns,
floats rounded to 4 places, nullable ints/bools, sorted rows, md5 of the
CSV).  Oracle digests are computed on the same derived input and cached
per input directory, so a repeated seed does not re-run DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("Int64")
        elif df[c].dtype.kind == "b":
            df[c] = df[c].astype("boolean")
        elif df[c].dtype.kind == "O":
            try:
                num = pd.to_numeric(df[c], errors="raise")
                df[c] = num.round(4) if num.dtype.kind == "f" else num.astype("Int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def digest(df: pd.DataFrame) -> dict:
    return {"rows": len(df), "columns": sorted(map(str, df.columns)), "md5": canon(df)}


def oracle_digests(input_dir: str, oracles: dict[str, str], work: str,
                   threads: int) -> dict[str, dict]:
    """Digest of each oracle's answer on *input_dir*, cached in
    ``<input_dir>/_oracle.json``.  *oracles* maps job name to SQL; a
    multi-statement script (a ``STAGED_ORACLE`` entry) yields the answer
    of its last statement."""
    cache = os.path.join(input_dir, "_oracle.json")
    have = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    todo = {k: v for k, v in oracles.items() if k not in have}
    if todo:
        import duckdb

        spill = os.path.join(work, "duckdb_spill")
        os.makedirs(spill, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {threads}")
            con.execute(f"SET temp_directory='{spill}'")
            con.execute("SET memory_limit='2GB'")
            for fn in sorted(os.listdir(input_dir)):
                if fn.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(input_dir, fn)}')")
            for name, sql in todo.items():
                have[name] = digest(con.execute(sql).fetchdf())
        finally:
            con.close()
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(have, f, indent=1, sort_keys=True)
        os.replace(tmp, cache)
    return {k: have[k] for k in oracles}


def mismatch(got: dict, want: dict) -> str | None:
    """None when *got* equals *want*, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    if got["md5"] != want["md5"]:
        return "values differ from oracle"
    return None
