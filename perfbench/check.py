"""Correctness checks on the engine's outputs.

Batch outputs are compared with the registry's DuckDB twins under the rule
of `tools/oracle_check.py`: same column names, same row count, integer
widths normalised, then exact equality of the frames sorted by every
column. Oracle results are cached under the digest of the oracle SQL and
of the input tables.

The ais-stream vessel table is compared with a fold of the generator's own
ground truth, which does not use the engine's parsing or merge code.
"""
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _norm(df):
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def same_frame(got, want):
    """None when equal under the oracle rule, else the reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows differ: {len(got)} vs {len(want)}"
    g, w = _norm(got), _norm(want)
    bad = [c for c in g.columns if str(g[c].dtype) != str(w[c].dtype)]
    if bad:
        return "dtypes differ: " + ", ".join(f"{c}: {g[c].dtype} vs {w[c].dtype}" for c in bad)
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0][:200]
    return None


def oracle_check(data_dir, out_dir, oracles, cache_dir):
    """Returns {query: reason} for every query whose output does not match."""
    os.makedirs(cache_dir, exist_ok=True)
    digest = data_digest(data_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:  # a missing or unreadable output is a failure
            failures[name] = f"output unreadable: {str(e).splitlines()[0][:200]}"
            continue
        key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
        cached = f"{cache_dir}/{key}.pkl"
        try:
            if os.path.exists(cached):
                want = pd.read_pickle(cached)
            else:
                want = con.sql(sql).fetchdf()
                want.to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
        except Exception as e:
            failures[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        reason = same_frame(got, want)
        if reason:
            failures[name] = reason
    con.close()
    return failures


def expected_vessels(truth, ttl_s, final_watermark_ms):
    """Fold the generator's reports into the live table: per MMSI the
    latest report time, with the position of that report, kept when its
    TTL has not passed at the final watermark."""
    last = {}
    for m, ts, lat, lon in truth:
        cur = last.get(m)
        if cur is None or ts >= cur[0]:
            last[m] = (ts, lat, lon)
    return {m: v for m, v in last.items() if (v[0] + ttl_s) * 1000 > final_watermark_ms}


def vessel_mismatches(expected, state):
    """Count rows of the engine's state table that are missing, extra or
    different from the expected table. `state` maps mmsi to
    (lastUpdate in microseconds, lat, lon)."""
    bad = 0
    for m, (ts, lat, lon) in expected.items():
        got = state.get(m)
        if got is None or got[0] != ts * 1_000_000 or got[1] != lat or got[2] != lon:
            bad += 1
    bad += sum(1 for m in state if m not in expected)
    return bad
