#!/usr/bin/env python3
"""graft's benchmark: runs one workload and prints its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine and the benchmark's JVM
side (`perfbench/build.py`). Each run then generates its tables
(`perfbench/gen_data.py`), starts one Spark driver on `local[3]`
(`graft.perfbench.PerfMain`), measures the workload for about
`--seconds`, checks every output it produced, and prints one JSON
object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics, with
`--trace 1` the per-layer metrics of a traced run. Per-query records,
spans and the raw measurement land in
`.bench_build/perfbench/results/<workload>_s<seed>_t<trace>/`.
See `perfbench/README.md` for every workload and metric.
"""
import argparse
import glob
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen_data  # noqa: E402
import stats  # noqa: E402

BASE = os.path.join(".bench_build", "perfbench")
DATA_SEED = 42  # the tables are the same in every run; --seed varies order, slices, requests
RUN_LIMIT_S = 170  # the whole run, build excluded, ends within this
DATAGEN_REPEATS = 3

# The catalog panel: a fixed, seed-independent set of `SparkEntry.queries`
# entries, run in seed order. Every fifteenth query of the catalog in
# numeric order (the per-query floor: construction, planning, job
# launch; q106 is one of them) plus q75 and q99: with q106, the three
# operator-bound queries whose full result costs far more than their
# count(). Of the panel, q121 probes the bigram-LM tier, q196 the
# phrase-index tier and q211 the aHash tier; set-up builds exactly those
# tiers, cold, in every run. Each pass ends with one CorpusPipeline.run
# (CORPUS_OP), the write side of the same layers.
CATALOG = ["q01_hourly_agg", "q16_union_dedup_reid", "q31_minhash_sig", "q46_pivot",
           "q61_session_window", "q76_quant_rt", "q91_epoch_expand", "q106_pipeline_funnel",
           "q121_bigram_lm", "q136_psi_drift", "q151_corpus_report", "q166_expectations",
           "q181_cdc_chunks", "q196_phrase_search", "q211_ahash_pairs", "q226_packing_sweep",
           "q241_mann_whitney", "q256_capped_epochs",
           "q75_gopher_gate", "q99_char_entropy"]
CATALOG_TIERS = ["bigram_lm", "phrase_idx", "ahash"]
# Set-up runs every light panel query once, untimed as an operation.
# JIT and whole-stage codegen otherwise keep warming through the pass:
# the first four queries of a cold pass ran about 19% slower than their
# median and the last four about 7% faster, so the seed's order decided
# a query's time. The three operator-bound queries run seconds each and
# warm up within their own run; warming them too would add 6 s to every
# run.
CATALOG_HEAVY = ["q75_gopher_gate", "q99_char_entropy", "q106_pipeline_funnel"]
CATALOG_WARMUP = [q for q in CATALOG if q not in CATALOG_HEAVY]
CORPUS_OP = "corpus_pipeline"  # one CorpusPipeline.run, after the shuffled panel

WORKLOADS = {
    "catalog_sf001": {"kind": "catalog", "sf": 0.01},
    "stream_infer": {"kind": "stream", "sf": None},
}
WINDOWS = 3  # each fixed-rate stream phase is scored as the median of this many windows

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms"),
              ("op_tail_ms", "ms"), ("peak_rss_mb", "MB")]

TIERS = ["ivf", "cc", "cc_old", "simhash", "simhash_old", "pq", "pq_old", "pair_families",
         "props", "ahash", "ann_gt", "token_tf", "arms", "textrank", "kmeans", "semcc",
         "semcc_old", "bigram_lm", "phrase_idx"]

PER_LAYER = (
    [("construct_s", "s"), ("construct_jobs", "count"), ("plan_s", "s"), ("jobs", "count"),
     ("stages", "count"), ("tasks", "count"), ("sched_delay_s", "s"), ("task_run_s", "s"),
     ("task_cpu_s", "s"), ("busy_share", "fraction"), ("gc_s", "s"),
     ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
     ("scan_mb", "MB"), ("write_mb", "MB"), ("write_amp", "ratio")]
    + [(f"site{i:02d}_s", "s") for i in range(1, 11)]
    + [(f"tier_build_s.{t}", "s") for t in TIERS] + [(f"tier_mb.{t}", "MB") for t in TIERS]
    + [("session_start_s", "s"), ("warmup_s", "s"), ("datagen_s", "s"), ("tiers_s", "s"),
       ("batches", "count"), ("rows_per_batch", "count"), ("trigger_ms", "ms"),
       ("addBatch_ms", "ms"), ("walCommit_ms", "ms"), ("queryPlanning_ms", "ms"),
       ("backlog_rows_max", "count"), ("gen_late_ms_max", "ms"),
       ("leaked_rdds", "count"), ("storage_mb", "MB"), ("trace_overhead", "fraction"),
       ("load_start", "load"), ("load_end", "load"), ("cal_probe_s", "s"),
       ("steal_share", "fraction"), ("nproc", "count"), ("heap_mb", "MB")])


class RunError(RuntimeError):
    pass


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def launch(classes, args, run_dir, deadline):
    """Runs PerfMain to completion, killing its process group on overrun."""
    jars = os.path.join(build.spark_jars(), "*")
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java"] + opens + ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g",
                               f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
                               "-cp", os.pathsep.join([os.path.abspath(classes), jars]),
                               "graft.perfbench.PerfMain"]
           + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGTERM)
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                raise RunError("the JVM side overran the run's time limit")
    if proc.returncode != 0 or not os.path.exists(args["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RunError(f"the JVM side exited with {proc.returncode}:\n{tail}")
    with open(args["out"]) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ metrics


def stream_latencies(rec):
    """(phase, response latencies in ms) per phase, in run order: the end
    of the epoch that committed a request minus the request's due time."""
    import numpy as np
    ends = {e["batch"]: e["endMs"] for e in rec["epochs"]}
    out = []
    for ph in rec["phases"]:
        first, n, rate = ph["firstId"], ph["n"], ph["rate"]
        lats = []
        for e in sorted(rec["epochIds"], key=lambda e: e["minId"]):
            lo, hi = max(e["minId"], first), min(e["maxId"], first + n - 1)
            if lo > hi or e["batch"] not in ends:
                continue
            ids = np.arange(lo, hi + 1)
            due = ph["startMs"] + (np.floor((ids - first) * 1000 / rate) if rate
                                   else np.zeros(len(ids)))
            lats.append(ends[e["batch"]] - due)
        out.append((ph["phase"], np.concatenate(lats).tolist() if lats else []))
    return out


def windowed(values, p, windows=WINDOWS):
    """Median over `windows` consecutive slices of the p-th percentile of each."""
    k = len(values) // windows
    return stats.median([stats.percentile(values[i * k:(i + 1) * k], p)
                         for i in range(windows)])


def end_to_end(kind, rec, datagen_s):
    setup = datagen_s + rec["sessionStartS"] + rec["warmupS"]
    if kind == "catalog":
        setup += sum(t["s"] for t in rec["tiers"]) + rec["warmQueriesS"]
        totals = [q["totalS"] * 1000 for q in rec["queries"] if q.get("ok")]
        wall = stats.median(rec["passWallS"])
        # 21 operations are too few for a percentile with samples beyond
        # it; the tail is the mean of the two ranked above p90
        p50, tail = stats.percentile(totals, 50), stats.tail_mean(totals, 90)
    else:
        setup += rec["streamWarmupS"]
        lat = stream_latencies(rec)
        low = [v for name, v in lat if name == "low"][0]
        high = [v for name, v in lat if name == "high"][0]
        p50, tail = windowed(low, 50), windowed(high, 99)
        wall = stats.median([max(v) / 1000 for name, v in lat if name == "drain"])
    return {"setup_s": setup, "wall_s": wall, "op_p50_ms": p50, "op_tail_ms": tail,
            "peak_rss_mb": rec["peakRssMb"]}


def measured_wall(kind, rec):
    """Seconds of the run's measured work whose length tracing can change:
    the catalog pass, or the stream's backlog drains (the fixed-rate
    phases last as long as their schedule whatever the system does)."""
    if kind == "catalog":
        return stats.median(rec["passWallS"])
    return sum(p["endMs"] - p["startMs"] for p in rec["phases"] if p["phase"] == "drain") / 1000


def trace_overhead(workload, kind, rec):
    """(traced / untraced - 1, untraced runs compared with). The untraced
    side is the median over this checkout's untraced runs of the workload
    so far; with none yet the overhead reads 0."""
    base = []
    for path in glob.glob(os.path.join(BASE, "results", f"{workload}_s*_t0", "record.json")):
        with open(path) as fh:
            base.append(measured_wall(kind, json.load(fh)))
    if not base:
        return 0.0, 0
    return measured_wall(kind, rec) / stats.median(base) - 1, len(base)


def per_layer(kind, rec, datagen_s):
    m = {name: 0.0 for name, _ in PER_LAYER}
    lay = rec.get("layers", {})
    wall = lay.get("wallS", 0.0)
    for key, name in [("constructS", "construct_s"), ("constructJobs", "construct_jobs"),
                      ("planS", "plan_s"), ("jobs", "jobs"), ("stages", "stages"),
                      ("tasks", "tasks"), ("schedDelayS", "sched_delay_s"),
                      ("taskRunS", "task_run_s"), ("taskCpuS", "task_cpu_s"), ("gcS", "gc_s"),
                      ("shuffleWriteMb", "shuffle_write_mb"),
                      ("shuffleReadMb", "shuffle_read_mb"), ("spillMb", "spill_mb"),
                      ("scanMb", "scan_mb"), ("writeMb", "write_mb")]:
        m[name] = float(lay.get(key, 0.0))
    cores = rec["stamp"]["cores"]
    m["busy_share"] = m["task_run_s"] / (wall * cores) if wall else 0.0
    m["write_amp"] = m["write_mb"] / m["scan_mb"] if m["scan_mb"] else 0.0
    for i, site in enumerate(lay.get("callSites", [])[:10], 1):
        m[f"site{i:02d}_s"] = site["s"]
    for t in rec.get("tiers", []):
        m[f"tier_build_s.{t['tier']}"] = t["s"]
        m[f"tier_mb.{t['tier']}"] = t["bytes"] / 1e6
    m["tiers_s"] = sum(t["s"] for t in rec.get("tiers", []))
    m["session_start_s"] = rec["sessionStartS"]
    m["warmup_s"] = rec["warmupS"] + rec.get("streamWarmupS", 0.0) + rec.get("warmQueriesS", 0.0)
    m["datagen_s"] = datagen_s
    if kind == "stream":
        measured = [p for p in rec["phases"] if p["phase"] in ("low", "high", "drain")]
        t0 = min(p["startMs"] for p in measured)
        eps = [e for e in rec["epochs"] if e["startMs"] >= t0]
        # requests per committed epoch (the source is scanned once per
        # routing branch, so Spark's input-row count is a multiple of it)
        reqs = {e["batch"]: e["n"] for e in rec["epochIds"]}
        if eps:
            m["batches"] = len(eps)
            m["rows_per_batch"] = stats.median([reqs.get(e["batch"], 0) for e in eps])
            for k in ("trigger", "addBatch", "walCommit", "queryPlanning"):
                key = "triggerExecution" if k == "trigger" else k
                m[f"{k}_ms"] = stats.median([e["durations"].get(key, 0) for e in eps])
            drain_start = min(p["startMs"] for p in measured if p["phase"] == "drain")
            m["backlog_rows_max"] = max([reqs.get(e["batch"], 0) for e in eps
                                         if e["startMs"] < drain_start], default=0)
        m["gen_late_ms_max"] = max(p["genLateMsMax"] for p in measured)
    rows = rec.get("queries", [])
    m["leaked_rdds"] = sum(r.get("leakedRdds", 0) for r in rows)
    m["storage_mb"] = max([r.get("storageMb", 0.0) for r in rows], default=0.0)
    m["trace_overhead"] = rec["traceOverhead"]
    st = rec["stamp"]
    m.update({"load_start": st["loadStart"], "load_end": st["loadEnd"],
              "cal_probe_s": st["calProbeS"], "steal_share": st["stealShare"],
              "nproc": st["nproc"], "heap_mb": st["heapMb"]})
    return m


# ------------------------------------------------------------------- checks


def check(kind, rec, data_dir, work):
    """(attempted, failed, problems) over every output the run produced."""
    if kind == "catalog":
        checker = checks.QueryChecker(data_dir, checks.load_oracle(
            os.path.join(work, "oracle_sql.json")))
        problems = []
        for q in rec["queries"]:
            if not q.get("ok"):
                bad = [q["error"]]
            elif q["query"] == CORPUS_OP:
                bad = checks.check_corpus(q["report"], os.path.join(q["out"], "shards"),
                                          os.path.join(q["out"], "jsonl"))
            else:
                bad = checker.check(q["query"], q["out"])
            q["problems"] = bad
            if bad:
                problems.append(f"{q['query']} pass {q['pass']}: {'; '.join(bad)}")
        return len(rec["queries"]), len(problems), problems
    sc = rec["streamCheck"]
    bad = checks.check_stream(sc, rec["epochIds"])
    failed = min(sc["requests"], max(1, sc["unmatched"] + sc["unexpected"])) if bad else 0
    return sc["requests"], failed, bad


def per_query_record(rec):
    keys = ["constructS", "planS", "executeS", "totalS", "constructJobs", "jobs", "stages",
            "tasks", "taskRunS", "schedDelayS", "shuffleWriteMb", "shuffleReadMb", "spillMb",
            "leakedRdds", "storageMb", "ok", "problems"]
    out = {}
    for q in rec["queries"]:
        out.setdefault(q["query"], []).append(
            dict({"pass": q["pass"]}, **{k: q[k] for k in keys + ["report"] if k in q}))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    # a termination request unwinds through launch(), which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    spec = WORKLOADS[a.workload]
    kind = spec["kind"]
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    start = time.time()
    tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    run_dir = os.path.join(BASE, "runs", tag)
    res_dir = os.path.join(BASE, "results", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(res_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(res_dir)
    data_dir = os.path.join(run_dir, "data")
    work = os.path.abspath(os.path.join(run_dir, "work"))
    try:
        gens = []
        if spec["sf"]:
            for _ in range(DATAGEN_REPEATS):
                t0 = time.perf_counter()
                gen_data.generate(data_dir, spec["sf"], DATA_SEED)
                gens.append(time.perf_counter() - t0)
        datagen_s = stats.median(gens) if gens else 0.0
        jvm_args = {"workload": kind, "seed": a.seed, "seconds": a.seconds,
                    "trace": a.trace, "data": os.path.abspath(data_dir), "work": work,
                    "out": os.path.abspath(os.path.join(run_dir, "record.json"))}
        if kind == "catalog":
            panel = list(CATALOG)
            random.Random(a.seed).shuffle(panel)
            jvm_args["queries"] = ",".join(panel + [CORPUS_OP])
            jvm_args["tiers"] = ",".join(CATALOG_TIERS)
            jvm_args["warm"] = ",".join(CATALOG_WARMUP)
        steal0, total0 = cpu_ticks()
        rec = launch(classes, jvm_args, run_dir, start + RUN_LIMIT_S)
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests while this run
        # measured: the shared host's drift, visible per run
        rec["stamp"]["stealShare"] = (steal1 - steal0) / max(1, total1 - total0)
        attempted, failed, problems = check(kind, rec, data_dir, work)
        if a.trace:
            rec["traceOverhead"], rec["stamp"]["traceOverheadBaseRuns"] = trace_overhead(
                a.workload, kind, rec)
            metrics = per_layer(kind, rec, datagen_s)
        else:
            metrics = end_to_end(kind, rec, datagen_s)
        units = dict(PER_LAYER if a.trace else END_TO_END)
        if kind == "catalog":
            with open(os.path.join(res_dir, "perquery.json"), "w") as fh:
                json.dump(per_query_record(rec), fh, indent=1)
        if "trace" in rec:
            with open(os.path.join(res_dir, "spans.json"), "w") as fh:
                json.dump(rec.pop("trace"), fh)
        with open(os.path.join(res_dir, "record.json"), "w") as fh:
            json.dump(rec, fh)
    except (RunError, OSError, KeyError, ValueError) as e:
        sys.exit(f"perfbench: {a.workload} failed: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems[:20]:
        print(f"perfbench: incorrect: {p}")
    print("perfbench: stamp " + json.dumps(dict(rec["stamp"], workload=a.workload,
                                                 seed=a.seed, trace=a.trace,
                                                 error_rate=failed / attempted,
                                                 run_s=round(time.time() - start, 2))))
    result = {"correct": failed == 0 and not problems, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
