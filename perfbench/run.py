#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <ops-serve|corpus-batch|ais-stream>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark's JVM
side (perfbench/build.py), generates the workload's inputs from the seed,
runs the workload in one JVM, checks the engine's outputs, prints every
metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 the run splits
its seconds over three sections (untraced, traced, untraced) and reports the
per-layer ones.
The full record of a run goes to <build dir>/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Scale of the generated tables (rows as the registry's sf0.01 fixtures) and
# the fixed query samples: what fits a run inside the benchmark's time budget.
SF = 0.01
DOCUMENTS = 500
LIMIT_S = 10.0  # latency limit of the sustainable-rate rule (CloudTAK timeout)
SETUPS = 3  # set-ups per run; setup_s is their median

# The engine JVM's heap, set here only: SPARK_DRIVER_MEM, the variable the
# repository's build.sbt reads for its own runs, used as both -Xms and -Xmx.
# Fixed, so that the peak RSS shows the engine's memory rather than when the
# collector chose to grow the heap (with -Xmx alone five identical runs
# peaked between 2.3 and 4.3 GB). The default is 3g rather than build.sbt's
# 8g: the generated inputs need far less, and the host's memory is shared.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "3g")

# Traffic. Cited figures: the reference's AIS query limit of 600 req/min per
# key (10/s), its 50,000-vessel state capacity and 6 h TTL (BASELINE.md), and
# the AIS Class A reporting intervals of ITU-R M.1371-5, Table 1 (gen.py).
# Every other figure is an assumption, stated as one with why it was chosen.
#
# ops-serve: the reference publishes its per-key limit but no observed
# request rate. The nominal 3/s (180 req/min, 30% of one key's limit) is an
# assumption, chosen to load four cores to about half the capacity measured
# on them (about 6 requests/s), so that its latency is service time and not
# queueing. The top rung offers 60/s (six keys at the limit, an assumption)
# for 48 requests: about ten times that capacity, so the backlog grows and
# the measured capacity is not capped by the offered rate.
#
# ais-stream: the nominal rate is the aggregate report rate of the whole
# 50,000-vessel table at the ITU intervals (gen.fleet_rate: about 4,861
# lines/s); the rungs above it are 2x and 10x that, assumptions: the top
# one offers about three times the capacity measured on four cores, so the
# measured capacity is not capped by the offered rate. Assumptions too: the
# 45,000-vessel pre-fill (the table starts at 90% of its capacity), the
# 10 min watermark delay, and the compressed event clock (10 h of feed per
# section, so that vessels that stop reporting pass the 6 h TTL within a
# run).
AIS_VESSELS = 50000
AIS_NOMINAL = gen.fleet_rate(AIS_VESSELS)

WORKLOADS = {
    # rungs: (rate per second, share of a section's seconds); `nominal` gates
    # latency and follows a short lead-in at the same rate (the set-ups have
    # already warmed the JVM). The nominal rungs take most of the run: the
    # host's speed swings over 10-20 s, so a longer window steadies them.
    #
    # ops-serve's JVM compiles with C1 only; every execution there compiles
    # fresh generated classes, and under the default tiered C2 ten identical
    # runs spread the p50 latency over 0.32 of its median even after a
    # lead-in of 30% of the run (0.45 after 10%), past the largest bound the
    # benchmark may set (README). C1-only ergonomics also shrink the code
    # cache to 48 MB, which those classes filled within one run ("Out of
    # space in CodeCache"), so it is set back to the 240 MB tiered C2 gets.
    # ais-stream runs on the default tiered JIT, under which it is twice as
    # fast as under C1.
    "ops-serve": {"kind": "open", "stride": 9, "tail": 0.95,
                  "rungs": [(3, 0.04), (3, 0.9), (60, 0.0334)], "nominal": 1,
                  "jvm": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]},
    "corpus-batch": {"kind": "closed", "stride": 34, "tail": 0.90},
    "ais-stream": {"kind": "stream", "tail": 0.99,
                   "rungs": [(AIS_NOMINAL, 0.12), (AIS_NOMINAL, 0.68), (2 * AIS_NOMINAL, 0.1),
                             (10 * AIS_NOMINAL, 0.1)],
                   "nominal": 1, "vessels": AIS_VESSELS, "prefill": 45000, "span_h": 10.0,
                   "ttl_s": 6 * 3600, "delay_s": 600},
}

# Gated end-to-end metrics. The tail latency is printed and recorded with
# them but not gated: at this run length its spread between identical runs
# on a shared 4-vCPU host (up to 0.27 of its median) exceeds any bound the
# benchmark may set.
END_TO_END = {
    "setup_s": "s", "rss_peak_mb": "MB", "ok_frac": "ratio", "latency_s.p50": "s",
    "rate_per_s": "1/s", "work_s.total": "s"}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def pct(q):
    return f"{q * 100:.3g}"


def ladder(w, seconds):
    """Rungs as (rate, duration) whose request counts are whole numbers."""
    out = []
    for rate, share in w["rungs"]:
        n = max(1, int(round(rate * share * seconds)))
        out.append((rate, n / rate))
    return out


def provenance(args, w, raw, lad, build_dir):
    with open(os.path.join(build_dir, "classes.stamp")) as f:
        source_digest = f.read()
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    reg = raw["registry"]
    return {"commit": commit, "source_sha256": source_digest, "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "sf": SF, "documents": DOCUMENTS,
            "cores": os.cpu_count(), "heap": HEAP, "jvm_options": w.get("jvm", []),
            "session": raw["session"],
            "ladder": [{"rate": r, "seconds": s} for r, s in lad],
            "registry_queries": reg["queries"], "llm_tagged": reg["llm_tagged"],
            "reference_surface": reg["reference_surface"],
            "llm_list": reg["llm_list"], "reference_list": reg["reference_list"],
            "excluded_writes_outside": reg["excluded_writes_outside"],
            "measured_queries": raw.get("queries", [])}


# ---------------------------------------------------------------- batch --

def open_loop(sec, w):
    """ops-serve section: per-rung latencies, sustainable rate, backlog."""
    rows = sec["rows"]
    rungs, t = [], sec["start"]
    for i, (rate, dur) in enumerate(sec["rungs"]):
        rs = [r for r in rows if int(r[1]) == i]
        rungs.append({"rate": rate, "start": t, "end": t + dur,
                      "latencies": [r[4] - r[2] for r in rs if r[5] == 1],
                      "failed": sum(1 for r in rs if r[5] != 1),
                      "grows": stats.grows(sec["backlog"], t, t + dur, rate)})
        t += dur
    nominal = rungs[w["nominal"]]["latencies"]
    best = stats.sustainable(rungs, LIMIT_S, w["tail"])
    top = [r for r in rows if int(r[1]) == len(rungs) - 1]
    top_rung = rungs[-1]
    top_rung["slope"] = stats.slope(
        [(t, y) for t, y in sec["backlog"]
         if (top_rung["start"] + top_rung["end"]) / 2 <= t < top_rung["end"]])
    # each sampled query's fastest service time (start to end) at the nominal
    # rung, as corpus-batch's query_s.total takes the fastest execution
    svc = {}
    for r in rows:
        if int(r[1]) == w["nominal"] and r[5] == 1:
            svc.setdefault(int(r[0]), []).append(r[4] - r[3])
    events = sorted([(r[3], 1) for r in rows] + [(r[4], -1) for r in rows])
    inflight = peak = 0
    for _, d in events:
        inflight += d
        peak = max(peak, inflight)
    q = stats.tail_level(len(nominal), w["tail"])
    return {"p50": stats.median(nominal), "tail": stats.percentile(nominal, q), "q": q,
            "n": len(nominal), "rate": stats.capacity([(r[3], r[4]) for r in top]),
            "sustainable_rung": best["rate"] if best else 0.0,
            "saturated": top_rung["grows"],
            "total": sum(min(v) for v in svc.values()),
            "rungs": rungs, "attempted": sec["planned"],
            "failed": sec["planned"] - sum(1 for r in rows if r[5] == 1),
            "queue_p95": stats.percentile([r[3] - r[2] for r in rows], 0.95) if rows else 0.0,
            "inflight_max": peak, "lag": sec["gen_lag_max"],
            "names": {"p50": "request_s.p50", "tail": f"request_s.p{pct(q)}",
                      "rate": "capacity_rps",
                      "total": "service_s.total"}}


def closed_loop(sec, w):
    """corpus-batch section: per-execution latencies and the steady total."""
    rows = sec["rows"]
    ok = [r for r in rows if r[4] == 1]
    lat = [r[3] - r[2] for r in ok]
    per_q = {}
    for r in ok:
        per_q.setdefault(int(r[0]), []).append(r[3] - r[2])
    q = stats.tail_level(len(lat), w["tail"])
    return {"p50": stats.median(lat), "tail": stats.percentile(lat, q), "q": q, "n": len(lat),
            "rate": len(lat) / sum(lat), "total": sum(min(v) for v in per_q.values()),
            "attempted": len(rows), "failed": len(rows) - len(ok), "lag": 0.0,
            "passes": sec["passes"],
            "names": {"p50": "query_s.p50", "tail": f"query_s.p{pct(q)}", "rate": "queries_per_s",
                      "total": "query_s.total"}}


# --------------------------------------------------------------- stream --

def section_batches(sec, progress):
    """Micro-batches that processed a section's lines, with the no-data
    batches between them (sections never share a batch: each starts after
    the previous one is committed)."""
    lo = sec["rungs"][0][3]
    hi = sec["rungs"][-1][3] + sec["rungs"][-1][4]
    return [p for p in progress if lo <= p["start"] < hi or
            (p["start"] == p["end"] and lo < p["end"] <= hi)]


def stream_section(sec, progress, stage_cpu, w):
    """ais-stream section: each line's latency from its due time to the
    commit of the micro-batch that holds it, per rung."""
    import numpy as np
    batches = sorted((p for p in progress if p["end"] > p["start"]), key=lambda p: p["end"])
    ends = np.array([p["end"] for p in batches], dtype=np.int64)
    commit_t = np.array([p["t"] for p in batches])
    sent = sec["sent"]
    sent_t = np.array([s[0] for s in sent])
    sent_n = np.array([s[1] for s in sent])
    rungs, lost = [], 0
    for rate, dur, t0, first, n in sec["rungs"]:
        idx = np.arange(int(first), int(first + n))
        due = t0 + (idx - first) / rate
        b = np.searchsorted(ends, idx, side="right")
        done = b < len(ends)
        lost += int((~done).sum())
        lat = (commit_t[b[done]] - due[done]).tolist()
        backlog = []
        for p in batches:
            if t0 <= p["t"] < t0 + dur:
                k = np.searchsorted(sent_t, p["t"], side="right") - 1
                backlog.append((p["t"], (sent_n[k] if k >= 0 else first) - p["end"]))
        mid = t0 + dur / 2
        rungs.append({"rate": rate, "start": t0, "end": t0 + dur, "latencies": lat,
                      "failed": int((~done).sum()),
                      "grows": bool(stats.grows(backlog, t0, t0 + dur, rate)),
                      "slope": stats.slope([(t, y) for t, y in backlog if t >= mid]),
                      "backlog_max": int(max([y for _, y in backlog], default=0)),
                      "last_commit": float(commit_t[b[done]].max()) if done.any() else t0})
    nominal = rungs[w["nominal"]]["latencies"]
    best = stats.sustainable(rungs, LIMIT_S, w["tail"])
    # capacity: the top rung's lines, offered far above what the engine takes,
    # over the time from the first one's due time to the last one's commit
    top = rungs[-1]
    last_commit = top["last_commit"]
    # work: executor CPU seconds of the stages that ran while the section's
    # lines were in flight, from the first one's due time to the last commit.
    # Not summed micro-batch time: each batch starts as soon as the last one
    # commits, so that sum is the section's wall time at any engine speed.
    lo = sec["rungs"][0][2]
    cpu = sum(c for t, c in stage_cpu if lo <= t <= last_commit)
    attempted = sum(int(r[4]) for r in sec["rungs"])
    q = stats.tail_level(len(nominal), w["tail"])
    return {"p50": stats.median(nominal), "tail": stats.percentile(nominal, q), "q": q,
            "n": len(nominal), "total": cpu,
            "rate": int(sec["rungs"][-1][4]) / max(1e-9, last_commit - top["start"]),
            "sustainable_rung": best["rate"] if best else 0.0, "saturated": rungs[-1]["grows"],
            "rungs": rungs, "nominal": w["nominal"], "attempted": attempted, "failed": lost,
            "lag": sec["gen_lag_max"],
            "names": {"p50": "event_s.p50", "tail": f"event_s.p{pct(q)}", "rate": "capacity_eps",
                      "total": "task_cpu_s.total"}}


def stream_layers(raw, sec_summary, sec):
    ps = section_batches(sec, raw["progress"])
    data = [p for p in ps if p["rows"] > 0]
    dur = lambda p, k: p["duration_ms"].get(k, 0)
    trig = [dur(p, "triggerExecution") for p in ps] or [0]
    st = [p["state"] for p in ps if p.get("state")]
    last = st[-1] if st else {}
    phases = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
              "commitOffsets"]
    self_batch = sum(max(0, dur(p, "triggerExecution") - sum(dur(p, k) for k in phases))
                     for p in ps) / 1e3
    out = {
        "source.backlog_lines.max": max([p["latest"] - p["end"] for p in ps], default=0),
        "source.backlog_growth": sec_summary["rungs"][sec_summary["nominal"]]["slope"],
        "source.latest_offset_ms": sum(dur(p, "latestOffset") for p in ps) / max(len(ps), 1),
        "source.lines_per_batch.p50": stats.median([p["rows"] for p in data]) if data else 0,
        "state.rows": last.get("rows", 0), "state.mem_mb": last.get("mem_bytes", 0) / 1048576.0,
        "state.rows_updated": sum(s["updated"] for s in st),
        "state.rows_removed": sum(s["removed"] for s in st),
        "state.update_ms": sum(s["update_ms"] for s in st),
        "state.commit_ms": sum(s["commit_ms"] for s in st),
        "stream.batches": len(ps),
        "stream.batch_ms.p50": stats.median(trig),
        "stream.batch_ms.p99": stats.percentile(trig, 0.99),
        "stream.plan_ms": sum(dur(p, "queryPlanning") for p in ps) / max(len(ps), 1),
        "stream.add_batch_ms": sum(dur(p, "addBatch") for p in ps) / max(len(ps), 1),
        "stream.wal_ms": sum(dur(p, "walCommit") for p in ps) / max(len(ps), 1),
        "self_s.batch": self_batch,
    }
    for k in phases:
        out[f"self_s.stream.{k}"] = sum(dur(p, k) for p in ps) / 1e3
    return out


# ----------------------------------------------------------------- main --

# Per-layer metrics of a traced run, with units; a layer the workload does
# not exercise reports 0.
PER_LAYER = {
    "queries.build_s": "s", "queries.builds": "count",
    "catalyst.analysis_s": "s", "catalyst.optimize_s": "s", "catalyst.plan_s": "s",
    "catalyst.plan_nodes": "count", "catalyst.executions": "count",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "wscg.pipeline_s": "s", "wscg.coverage": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.tasks_per_stage": "ratio", "exec.task_s": "s", "exec.task_cpu_s": "s",
    "exec.core_util": "ratio", "exec.sched_delay_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.peak_mem_mb": "MB",
    "exec.stage_skew": "ratio", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "source.backlog_lines.max": "lines", "source.backlog_growth": "lines/s",
    "source.latest_offset_ms": "ms", "source.lines_per_batch.p50": "lines",
    "ingest.canonical_frac": "ratio", "ingest.canonicalize_s": "s",
    "state.rows": "count", "state.mem_mb": "MB", "state.rows_updated": "count",
    "state.rows_removed": "count", "state.update_ms": "ms", "state.commit_ms": "ms",
    "stream.batches": "count", "stream.batch_ms.p50": "ms", "stream.batch_ms.p99": "ms",
    "stream.plan_ms": "ms", "stream.add_batch_ms": "ms", "stream.wal_ms": "ms",
    "gen.lag_s.max": "s", "serve.queue_s.p95": "s", "serve.inflight.max": "count",
    "self_s.root": "s", "self_s.serve.queue": "s", "self_s.queries.build": "s",
    "self_s.catalyst.analysis": "s", "self_s.catalyst.optimize": "s",
    "self_s.catalyst.plan": "s", "self_s.exec.job": "s", "self_s.exec.stage": "s",
    "self_s.batch": "s", "self_s.stream.latestOffset": "s", "self_s.stream.walCommit": "s",
    "self_s.stream.getBatch": "s", "self_s.stream.queryPlanning": "s",
    "self_s.stream.addBatch": "s", "self_s.stream.commitOffsets": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
}


def per_layer(raw, w, summaries):
    """Per-layer metrics from the traced section, plus tracing overhead
    against the untraced section after it in the same run (that one is the
    warmer of the two, so the overhead is not understated)."""
    _, traced, after = summaries
    sec = raw["sections"][1]
    tr = sec.get("trace") or {}
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in tr.get("counters", {}).items() if k in PER_LAYER})
    spans = tr.get("spans", [])
    for layer, key in [("queries.build", "queries.build_s"),
                       ("catalyst.analysis", "catalyst.analysis_s"),
                       ("catalyst.optimize", "catalyst.optimize_s"),
                       ("catalyst.plan", "catalyst.plan_s")]:
        m[key] = sum(s["end"] - s["start"] for s in spans if s["layer"] == layer)
    m["queries.builds"] = sum(1 for s in spans if s["layer"] == "queries.build")
    for layer, v in stats.self_times(spans).items():
        m[f"self_s.{layer}"] = v
    m["gen.lag_s.max"] = traced["lag"]
    if w["kind"] == "open":
        m["serve.queue_s.p95"] = traced["queue_p95"]
        m["serve.inflight.max"] = traced["inflight_max"]
    if w["kind"] == "stream":
        m.update(stream_layers(raw, traced, sec))
        m["ingest.canonical_frac"] = raw["ingest"]["canonical_frac"]
        m["ingest.canonicalize_s"] = raw["ingest"]["canonicalize_s"]
    head = "total" if w["kind"] == "closed" else "p50"
    m["trace.overhead_s"], m["trace.overhead_frac"] = stats.overhead(traced[head], after[head])
    return m


def cpu_times():
    """The host's aggregate CPU counters (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of the host's CPU time stolen by the hypervisor between two
    readings: other guests' load, which slows a whole run down."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    t_start = time.time()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                                  ".bench_build")))
    phases = {}
    try:
        cp = build.build(build_dir)
    except (RuntimeError, subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    phases["build"] = time.time() - t_start
    # a traced run measures three sections in the same --seconds, so that it
    # takes about as long as an untraced one
    sections = 3 if args.trace else 1
    lad = ladder(w, args.seconds / sections) if "rungs" in w else []
    cores = os.cpu_count()
    cfg = {"workload": args.workload, "data": data, "work": work,
           "out": os.path.join(work, "raw.json"), "seed": args.seed,
           "seconds": args.seconds / sections,
           "trace": args.trace, "cores": cores, "setups": SETUPS,
           "ladder": [list(r) for r in lad], "stride": w.get("stride", 1)}
    truth = None
    if w["kind"] == "stream":
        per = sum(int(round(r * d)) for r, d in lad)
        lines, truth, final_wm = gen.ais_script(
            args.seed, w["vessels"], w["prefill"], sections * per, w["span_h"] * sections,
            w["ttl_s"], w["delay_s"])
        with open(os.path.join(data, "ais.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        cfg.update({"lines": os.path.join(data, "ais.jsonl"), "prefill": w["prefill"],
                    "watermark_delay": f"{w['delay_s']} seconds", "ttl_ms": w["ttl_s"] * 1000,
                    "final_watermark_ms": final_wm})
    else:
        gen.tables(data, args.seed, SF, DOCUMENTS)
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(cfg, f)
    opens = [a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                         "java.net", "java.nio", "java.util", "java.util.concurrent",
                         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                         "sun.security.action", "sun.util.calendar"]
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-XX:-UsePerfData", *w.get("jvm", []), f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}",
           "-cp", cp, "perfbench.Main", os.path.join(work, "config.json")]
    phases["inputs"] = time.time() - t_start - phases["build"]
    budget = max(30, 170 - (time.time() - t_start))
    cpu0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        try:
            proc = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=budget)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] JVM run exceeded {budget:.0f} s", file=sys.stderr)
            return 3
    if proc.returncode != 0:
        print(f"[perfbench] JVM run failed (exit {proc.returncode}); log: {work}/jvm.log",
              file=sys.stderr)
        return 3
    phases["jvm"] = time.time() - t_start - phases["build"] - phases["inputs"]
    cfg["steal"] = steal_share(cpu0, cpu_times())
    with open(cfg["out"]) as f:
        raw = json.load(f)
    t_check = time.time()
    result = summarise(args, w, raw, lad, truth, cfg, build_dir)
    if result["correct"]:
        shutil.rmtree(work, ignore_errors=True)
    else:
        log(f"inputs and outputs of this run kept in {work}")
    phases["checks"] = time.time() - t_check
    log("wall clock: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print(json.dumps(result))
    return 0


def summarise(args, w, raw, lad, truth, cfg, build_dir):
    kind = w["kind"]
    if kind == "stream":
        summaries = [stream_section(s, raw["progress"], raw["stage_cpu"], w)
                     for s in raw["sections"]]
    else:
        f = open_loop if kind == "open" else closed_loop
        summaries = [f(s, w) for s in raw["sections"]]
    main_s = summaries[0]
    attempted, failed = main_s["attempted"], main_s["failed"]
    wrong = {}
    if kind == "stream":
        import pyarrow.parquet as pq
        st = pq.read_table(raw["state_path"]).to_pydict()
        state = {m: (u, la, lo) for m, u, la, lo in
                 zip(st["mmsi"], st["lastUpdate"], st["lat"], st["lon"])}
        expected = check.expected_vessels(truth, w["ttl_s"], cfg["final_watermark_ms"])
        bad = check.vessel_mismatches(expected, state)
        attempted += len(expected)
        failed += bad
        log(f"vessel table: {len(state)} live rows, expected {len(expected)}, {bad} mismatched")
        if bad:
            wrong["vessel_table"] = f"{bad} rows differ from the generator's fold"
    else:
        oracles = raw["verify"]["oracle"]
        wrong = check.oracle_check(cfg["data"], raw["verify"]["dir"], oracles,
                                   os.path.join(build_dir, "oracle-cache"))
        for q, e in raw["errors"].items():
            wrong.setdefault(q, f"error: {e}")
        attempted += len(raw["queries"])
        failed += len(wrong)
        log(f"verification: {len(raw['queries']) - len(wrong)}/{len(raw['queries'])} outputs "
            f"correct ({len(oracles)} against a DuckDB twin)")
    for q, e in sorted(wrong.items()):
        log(f"WRONG {q}: {e}")
    reg = raw["registry"]
    log(f"registry: {reg['queries']} queries, {reg['llm_tagged']} LLM-tagged, "
        f"{reg['reference_surface']} reference-surface; measured {len(raw.get('queries', []))}")
    setup = stats.median(raw["setup_s"])
    metrics = {"setup_s": setup, "rss_peak_mb": raw["rss_peak_mb"],
               "ok_frac": 1.0 - failed / attempted,
               "latency_s.p50": main_s["p50"],
               "rate_per_s": main_s["rate"], "work_s.total": main_s["total"]}
    names = main_s["names"]
    q = main_s["q"]
    log(f"setup_s samples: {', '.join(f'{x:.3f}' for x in raw['setup_s'])}")
    if "rungs" in main_s:
        log(f"sustainable rung (p{pct(w['tail'])} <= {LIMIT_S:g} s, backlog steady): "
            f"{main_s['sustainable_rung']:g}/s; capacity at the saturating top rung: "
            f"{main_s['rate']:.4g}/s")
        for i, r in enumerate(main_s["rungs"]):
            lat = r["latencies"]
            tag = " (nominal)" if i == w["nominal"] else ""
            p = f"p50 {stats.median(lat):.4f} s, p{pct(q)} " \
                f"{stats.percentile(lat, q):.4f} s" if lat else "no completions"
            log(f"rung {r['rate']:.6g}/s{tag}: n={len(lat)}, {p}, failed {r['failed']}, "
                f"backlog {'grows' if r['grows'] else 'steady'}")
        top = main_s["rungs"][-1]
        log(f"top rung backlog slope over its second half: {top['slope']:.4g}/s "
            f"(grows above {0.1 * top['rate']:.4g}/s)")
        if w["kind"] == "open" and not main_s["saturated"]:
            log(f"WARNING the top rung's backlog did not grow: {names['rate']} may be "
                "capped by the offered rate")
    log(f"{names['tail']} = {main_s['tail']:.6g} s (not gated): n={main_s['n']}, "
        f"{stats.beyond(main_s['n'], q)} samples beyond"
        + ("" if q == w["tail"] else f" (p{pct(w['tail'])} would have fewer than ten)"))
    if main_s["lag"] > 0.05:
        log(f"WARNING generator fell behind its schedule by up to {main_s['lag']:.3f} s")
    named = {"setup_s": ("setup_s", "s"), "rss_peak_mb": ("rss_peak_mb", "MB"),
             "ok_frac": ("failed_frac", "ratio"), "latency_s.p50": (names["p50"], "s"),
             "rate_per_s": (names["rate"], "1/s"), "work_s.total": (names["total"], "s")}
    for k, v in metrics.items():
        own, unit = named[k]
        shown = 1.0 - v if k == "ok_frac" else v
        log(f"{k} = {v:.6g} {END_TO_END[k]}   ({own} = {shown:.6g} {unit})")
    if cfg["steal"] is not None:
        log(f"host CPU steal during the run: {100 * cfg['steal']:.1f}% (not corrected for)")
    correct = not wrong and failed == 0
    log(f"correct: {correct} (attempted {attempted}, failed {failed})")
    record = {"provenance": provenance(args, w, raw, lad, build_dir), "metrics": metrics,
              "summaries": [{k: v for k, v in s.items() if k != "rungs"} for s in summaries],
              "rungs": [[{k: v for k, v in r.items() if k != "latencies"}
                         for r in s.get("rungs", [])] for s in summaries],
              "wrong": wrong, "setup_samples": raw["setup_s"],
              "generator_behind": main_s["lag"] > 0.05, "host_steal": cfg["steal"],
              "top_rung_saturated": main_s.get("saturated"),
              "rows": [s.get("rows") for s in raw["sections"]] if kind != "stream" else None}
    if args.trace:
        layer = per_layer(raw, w, summaries)
        for k in sorted(layer):
            log(f"{k} = {layer[k]:.6g} {PER_LAYER[k]}")
        record["per_layer"] = layer
        record["spans"] = (raw["sections"][1].get("trace") or {}).get("spans", [])
        out = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    res_dir = os.path.join(build_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
