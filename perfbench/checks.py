"""Correctness checks, run after the timed windows.

* catalog_mix: each query's answer (written by the untimed answer pass) against
  its DuckDB oracle on the same generated tables: row count and an
  order-insensitive content hash.
* cdc_loop: final live and tombstoned rows, history rows and per-rule
  violation counts against what the generator derived.
(serve_mix checks its sampled responses in-process.)
"""
import hashlib
import json
import os

from gen import RULES, SIZES


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v) if isinstance(v, (float, list)) else str(v)


def content_hash(df) -> tuple:
    """(rows, sha256) of a frame, independent of row and column order."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
    rows = sorted("\x1f".join(_cell(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join([",".join(df.columns)] + rows).encode())
    return len(rows), h.hexdigest()


def catalog(work: str) -> list:
    """Return one message per query whose answer differs from the oracle."""
    import duckdb
    import pandas as pd
    out = os.path.join(work, "out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{work}/data/{t}.parquet'")
    bad = []
    for q, sql in sorted(oracle.items()):
        if not sql:
            bad.append(f"{q}: no oracle SQL")
            continue
        try:
            got = content_hash(pd.read_parquet(os.path.join(out, q)))
            want = content_hash(con.sql(sql).df())
        except Exception as e:  # a missing answer is a wrong answer
            bad.append(f"{q}: {e}")
            continue
        if got != want:
            bad.append(f"{q}: rows/hash {got} != oracle {want}")
    return bad


def cdc(observed: dict, expected: list, warm: int) -> list:
    """Compare the loop's end state with the generator's derivation."""
    n = observed["cycles"]
    if n < 1:
        return ["no cycle completed"]
    exp = expected[n - 1]
    bad = [f"{k}: {observed[k]} != {exp[k]}"
           for k in ("live", "tombstoned", "history") if observed[k] != exp[k]]
    v = observed["violations"]
    bad += [f"violations.{r}: {v.get(r, 0)} != {exp['violations'][r]}"
            for r in RULES if v.get(r, 0) != exp["violations"][r]]
    dq = observed.get("dq_warm")
    if dq:
        w = expected[warm - 1]
        bad += [f"dq.{k}: {dq[k]} != {w[k]}" for k in ("rows_in", "rows_clean")
                if dq[k] != w[k]]
        bad += [f"dq.violations.{r}: {dq['violations'].get(r, 0)} != "
                f"{w['violations'][r]}" for r in RULES
                if dq["violations"].get(r, 0) != w["violations"][r]]
    return bad
