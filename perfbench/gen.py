"""Seeded inputs for the benchmark.

`tables` writes the ten registry tables (the TPC-H-ish star schema, the
`events` table and the LLM-pipeline `documents` / `embeddings`) as one
parquet file each, with the schemas and value ranges `graft.core.Tables`
and the registry's DuckDB twins read.

`ais_script` builds the ais-stream line script: a pre-fill with one report
per initial vessel, then the timed lines, each vessel reporting in
proportion to its AIS reporting rate, with a dialect mix, malformed lines
and late lines, on a compressed event clock.
It also returns the generator's own ground truth per line, which is all
the expected vessel table is folded from.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SECONDS_PER_DAY = 86400


def _ts(rng, n, start, days):
    """Midnight timestamps, uniform over `days` days from `start`."""
    base = np.datetime64(start, "us")
    d = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + d


def tables(out_dir, seed, sf, documents):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]
    i64 = lambda n: np.arange(n, dtype=np.int64)
    out = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    out["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int32) % 5}
    out["customer"] = {
        "c_custkey": i64(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], n_cust)}
    out["supplier"] = {
        "s_suppkey": i64(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}
    adj = ["small", "new", "hot", "large", "cold", "red", "blue", "old"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    out["part"] = {
        "p_partkey": i64(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)}
    out["orders"] = {
        "o_orderkey": i64(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty, "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line), "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts(rng, n_line, "1995-01-02", 2498)}
    step = 30 * SECONDS_PER_DAY * 1_000_000 // max(n_ev, 1)
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + (np.arange(n_ev) * step + rng.integers(0, step, n_ev)).astype("timedelta64[us]"))
    out["events"] = {
        "event_id": i64(n_ev), "ts": ev_ts, "user_id": rng.integers(0, 150, n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.clip(rng.exponential(50, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
             "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
    lens = rng.integers(10, 100, documents)
    words = pick(vocab, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(documents)]
    out["documents"] = {
        "doc_id": i64(documents), "text": text,
        "lang": pick(["en"] * 3 + ["de", "es", "fr", "zh"], documents),
        "source": [f"src{i % 20}" for i in range(documents)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}
    emb = rng.standard_normal((documents, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": i64(documents),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, documents).astype(np.int32)}
    for name, cols in out.items():
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


AIS_BASE = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())
# The dialect mix and the malformed share are assumptions: the reference
# accepts these five jsonais dialects plus the truncated form its salvage
# path recovers, but publishes no shares. Each gets at least 5% of the lines
# so that every parser branch runs in every micro-batch, and malformed lines
# get 7%, enough for hundreds per batch.
DIALECTS = ["catcher", "minimal", "groups", "aprs", "direct", "salvage", "malformed"]
DIALECT_P = [0.33, 0.2, 0.15, 0.1, 0.1, 0.05, 0.07]

# Nominal reporting intervals of AIS Class A stations, ITU-R M.1371-5,
# Table 1 (ships not changing course): at anchor or moored, 3 min; under
# way at 0-14 knots, 10 s; 14-23 knots, 6 s; over 23 knots, 2 s. Each
# vessel's share of the timed lines is proportional to its rate, and the
# fleet's aggregate rate is the ais-stream's nominal line rate.
#
# Assumptions, as no source gives them for the reference's feeds: 60% of
# the vessels are under way, at speeds uniform over 1-25 knots.
MOVING_SHARE = 0.6
SOG_KN = (1.0, 25.0)
MOORED_INTERVAL_S = 180.0
INTERVALS_S = [(14.0, 10.0), (23.0, 6.0), (float("inf"), 2.0)]  # (below knots, seconds)


def report_interval(sog):
    """ITU-R M.1371 Class A reporting interval, seconds, by speed over ground
    (knots); a speed of 0 stands for a vessel at anchor or moored."""
    sog = np.asarray(sog, dtype=np.float64)
    out = np.full(sog.shape, MOORED_INTERVAL_S)
    lo = 0.0
    for below, secs in INTERVALS_S:
        out = np.where((sog > 0) & (sog >= lo) & (sog < below), secs, out)
        lo = below
    return out


def fleet_rate(vessels):
    """Expected reports per second of `vessels` vessels at the ITU intervals,
    with the assumed moving share and speed range."""
    a, b = SOG_KN
    lo, moving = a, 0.0
    for below, secs in INTERVALS_S:
        hi = min(below, b)
        if hi > lo:
            moving += (hi - lo) / (b - a) / secs
        lo = max(lo, below)
    return vessels * (MOVING_SHARE * moving + (1.0 - MOVING_SHARE) / MOORED_INTERVAL_S)


LAT_BOX, LON_BOX = (-48.0, -34.0), (166.0, 179.0)


def _bounce(x, lo, hi):
    """Keep a moving vessel inside its box by reflecting at the edges."""
    u = np.mod((x - lo) / (hi - lo), 2.0)
    return lo + (hi - lo) * (1.0 - np.abs(u - 1.0))


def _lines(kinds, mmsi, lat, lon, ts, cog, sog, rng):
    """Format one jsonais line per report in the dialect `kinds[i]`."""
    rx = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    bad = rng.integers(0, 4, len(kinds))
    out = []
    for i, k in enumerate(kinds):
        m, la, lo, iso = int(mmsi[i]), f"{lat[i]:.6f}", f"{lon[i]:.6f}", rx[i]
        r = iso.replace("-", "").replace("T", "").replace(":", "")
        msg = (f'{{"mmsi": "{m}", "lat": "{la}", "lon": "{lo}", "rxtime": "{r}", '
               f'"course": "{cog[i]:.1f}", "speed": "{sog[i]:.1f}"}}')
        if k == 0:  # AIS-catcher msgs[]
            out.append(f'{{"protocol": "jsonaiscatcher", "msgs": [{msg}]}}')
        elif k == 1:  # minimal, bare numbers
            out.append(f'{{"mmsi": {m}, "lat": {float(la)!r}, "lon": {float(lo)!r}, '
                       f'"rxtime": "{r}"}}')
        elif k == 2:  # full JSONAIS groups[].msgs[]
            out.append(f'{{"protocol": "jsonais", "groups": [{{"msgs": [{msg}]}}]}}')
        elif k == 3:  # APRS
            out.append(f'{{"call": "{m}", "lat": "{la}", "lng": "{lo}", "time": "{iso}Z"}}')
        elif k == 4:  # direct, upper-case MMSI
            out.append(f'{{"MMSI": {m}, "latitude": "{la}", "longitude": "{lo}", '
                       f'"rxtime": "{r}"}}')
        elif k == 5:  # truncated after a closed msgs array: recoverable
            out.append(f'{{"msgs": [{msg}], "protocol"')
        elif bad[i] == 0:
            out.append('{"msgs": []}')
        elif bad[i] == 1:
            out.append(f'{{"mmsi": "7", "lat": "{la}", "lon": "{lo}", "rxtime": "{r}"}}')
        elif bad[i] == 2:
            out.append(f'{{"MMSI": {m}, "latitude": "95.5", "longitude": "{lo}"}}')
        else:
            out.append('{"mmsi":"' + str(m)[:5])
    return out


def ais_script(seed, vessels, prefill_vessels, timed_lines, span_h, ttl_s, delay_s,
               late_frac=0.03, margin_s=120):
    """Returns (lines, truth, final_watermark_ms).

    truth: per valid line (mmsi, ts_sec, lat, lon); malformed lines have none.
    The event clock skips a window of `margin_s` either side of the instant
    at which a report would expire exactly at the final watermark, so the
    live set at the end does not hinge on a boundary comparison.

    Late lines are an assumption: a share `late_frac` of the reports of
    moored vessels (whose position does not change, so their order does not
    matter to the fold) arrive 30 s to 5 min late, inside the watermark
    delay, as reports relayed through a slower receiver would.
    """
    rng = np.random.default_rng(seed + 7919)
    mmsi = 201_000_000 + rng.permutation(vessels * 20)[:vessels].astype(np.int64) * 17
    lat0 = rng.uniform(*LAT_BOX, vessels)
    lon0 = rng.uniform(*LON_BOX, vessels)
    moving = rng.random(vessels) < MOVING_SHARE
    vlat = np.where(moving, rng.uniform(-2e-5, 2e-5, vessels), 0.0)
    vlon = np.where(moving, rng.uniform(-2e-5, 2e-5, vessels), 0.0)
    cog = rng.uniform(0, 360, vessels)
    sog = np.where(moving, rng.uniform(*SOG_KN, vessels), 0.0)
    weight = 1.0 / report_interval(sog)
    weight /= weight.sum()
    who = rng.choice(vessels, timed_lines, p=weight)
    kind = rng.choice(len(DIALECTS), prefill_vessels + timed_lines, p=DIALECT_P)
    kind[:prefill_vessels] = 0  # the pre-fill is one well-formed report per vessel

    pre_span = 1800
    pre_ts = AIS_BASE + (np.arange(prefill_vessels) * pre_span) // max(prefill_vessels, 1)
    step = span_h * 3600.0 / max(timed_lines, 1)
    clock = AIS_BASE + pre_span + (np.arange(timed_lines) * step).astype(np.int64)
    critical = int(clock[-1]) + 2 * margin_s - delay_s - ttl_s
    clock = np.where(clock >= critical - margin_s, clock + 2 * margin_s, clock)
    late = (~moving[who]) & (rng.random(timed_lines) < late_frac)
    lateness = rng.integers(30, 300, timed_lines)
    late_ts = clock - lateness
    late &= np.abs(late_ts - critical) > margin_s
    ts = np.where(late, late_ts, clock)

    v = np.concatenate([np.arange(prefill_vessels), who])
    t = np.concatenate([pre_ts, ts]).astype(np.int64)
    lat = np.round(_bounce(lat0[v] + vlat[v] * (t - AIS_BASE), *LAT_BOX), 6)
    lon = np.round(_bounce(lon0[v] + vlon[v] * (t - AIS_BASE), *LON_BOX), 6)
    lines = _lines(kind, mmsi[v], lat, lon, t, cog[v], sog[v], rng)
    valid = kind != DIALECTS.index("malformed")
    truth = list(zip(mmsi[v][valid].tolist(), t[valid].tolist(), lat[valid].tolist(),
                     lon[valid].tolist()))
    max_ts = max(t for _, t, _, _ in truth)
    return lines, truth, (max_ts - delay_s) * 1000
