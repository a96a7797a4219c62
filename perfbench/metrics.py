"""The benchmark's arithmetic: percentiles, interval unions and the
metrics built from one run's raw records (the JSON file the JVM side
writes). Kept free of I/O so test_perfbench.py can pin every rule.
"""
import math
import statistics

# candidate percentiles for the tail, highest first
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0,
               50.0)
MIN_BEYOND = 10


def pct(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples ranked above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values):
    """(value, percentile, n): the highest ladder percentile with at
    least MIN_BEYOND samples beyond it. With too few samples for even
    the median, the maximum is reported as percentile 100."""
    n = len(values)
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            return pct(values, p), p, n
    return (max(values) if values else float("nan")), 100.0, n


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [t0, t1] intervals, each clipped to
    [lo, hi] when given. Overlapping jobs count once."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def bad(op):
    """An op counts as failed when it threw or its output was wrong."""
    return bool(op["failed"] or op["wrong"])


def failures(ops, checks=()):
    """(failed, attempted): ops that threw or were wrong, plus whole-run
    checks (booleans) that did not hold."""
    return (sum(1 for o in ops if bad(o)) + sum(1 for ok in checks if not ok),
            len(ops) + len(checks))


def fail_frac(ops, checks=()):
    failed, attempted = failures(ops, checks)
    return failed / attempted if attempted else 0.0


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def wall(op):
    return op["t1"] - op["t0"]


def latency(ops):
    """p50 and tail of the ops' wall times, ms; 0 without ops."""
    ms = [wall(o) for o in ops]
    if not ms:
        return {"p50": 0.0, "tail": 0.0, "tail_pct": 0.0, "n": 0}
    t, p, n = tail(ms)
    return {"p50": pct(ms, 50), "tail": t, "tail_pct": p, "n": n}


def requests(raw):
    """The client's requests: the ops, or for a workload that runs a
    fixed chain of ops, one request per whole pass of the chain."""
    chain = raw.get("chain")
    if not chain:
        return raw["ops"]
    ops, k = raw["ops"], len(chain)
    return [{"t0": ops[i]["t0"], "t1": ops[i + k - 1]["t1"]}
            for i in range(0, len(ops) - k + 1, k)
            if [o["name"] for o in ops[i:i + k]] == list(chain)]


def warm_setups(raw):
    """The set-ups after the first, cold one (all of them if only one)."""
    return raw["setups"][1:] or raw["setups"]


def end_to_end(raw):
    reqs = requests(raw)
    w = raw["window"]
    end = max(max((o["t1"] for o in raw["ops"]), default=w["t1"]), w["t1"])
    lat = latency(reqs)
    return {
        "setup_s": median([s["total_s"] for s in warm_setups(raw)]),
        "ops_per_s": len(reqs) / ((end - w["t0"]) / 1000.0),
        "lat_p50_ms": lat["p50"],
        "lat_tail_ms": lat["tail"],
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def workload_figures(raw):
    """Workload-specific end-to-end figures: reads and writes apart,
    passes, data rates, space, failures. Reported in the summary and,
    from a traced run, as per-layer metrics."""
    ops = raw["ops"]
    ex = raw["extra"]
    w = raw["window"]
    secs = (max(max((o["t1"] for o in ops), default=w["t1"]), w["t1"]) -
            w["t0"]) / 1000.0
    reads = latency([o for o in ops if o["cls"] == "read"])
    writes = latency([o for o in ops if o["cls"] == "write"])
    out = {
        "rw.read_p50_ms": reads["p50"], "rw.read_tail_ms": reads["tail"],
        "rw.write_p50_ms": writes["p50"],
        "_tail": {"all": latency(requests(raw)), "read": reads,
                  "write": writes},
    }
    ps = [wall(p) / 1000.0 for p in requests(raw)] if raw.get("chain") else []
    out["curation.pass_s"] = median(ps)
    out["curation.docs_per_s"] = (ex.get("corpus_docs", 0.0) / median(ps)
                                  if ps else 0.0)
    out["ipc.mb_per_s"] = ex.get("egress_bytes", 0.0) / 1e6 / secs
    out["tablelog.space_amp"] = (ex["root_bytes"] / ex["fresh_bytes"]
                                 if ex.get("fresh_bytes") else 0.0)
    return out


def per_layer(raw, cores):
    """Per-layer metrics of a traced run; 0 where a layer is not used."""
    ops = raw["ops"]
    chain = raw.get("chain", [])
    ex = raw["extra"]
    ids = {o["id"]: o for o in ops}
    n = max(1, len(ops))
    spans = [s for s in raw["spans"] if s["op"] in ids]
    jobs = [j for j in raw.get("jobs", []) if j["t1"] >= 0]
    w = raw["window"]
    m = {}
    setups = warm_setups(raw)
    m["setup.cold_s"] = raw["setups"][0].get("total_s", 0.0)
    m["engine.session_ms"] = median([s["session_ms"] for s in setups])
    m["engine.warmup_ms"] = median([s["warmup_ms"] for s in setups])
    sql = [s for s in spans if s["name"] == "Session.sql"]
    read_sql = [s for s in sql if ids[s["op"]]["cls"] == "read"]
    m["sql.dispatch_ms"] = median([s["t1"] - s["t0"] for s in read_sql])
    m["sql.calls"] = len(sql) / n
    qes = [q for q in raw.get("qe", []) if q["op"] in ids]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = sum(q["phases"].get(ph, 0) for q in qes) / n
    m["catalyst.plans"] = len(qes) / n
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append(j)
    tasks = raw.get("tasks", {})
    job_ms = {i: union_ms([(j["t0"], j["t1"]) for j in by_op.get(i, [])],
                          ids[i]["t0"], ids[i]["t1"]) for i in ids}
    tk = [tasks.get(str(i), {}) for i in ids]

    def tsum(k):
        return sum(float(t.get(k, 0)) for t in tk)
    m["exec.jobs"] = sum(len(by_op.get(i, [])) for i in ids) / n
    m["exec.stages"] = sum(j["stages"] for i in ids
                           for j in by_op.get(i, [])) / n
    m["exec.tasks"] = tsum("tasks") / n
    m["exec.job_ms"] = sum(job_ms.values()) / n
    m["exec.task_run_ms"] = tsum("run_ms") / n
    m["exec.task_cpu_ms"] = tsum("cpu_ms") / n
    m["exec.gc_ms"] = tsum("gc_ms") / n
    busy = sum(job_ms.values()) * cores
    m["exec.parallel_eff"] = tsum("run_ms") / busy if busy else 0.0
    m["exec.shuffle_write_bytes"] = tsum("shuffle_write") / n
    m["exec.shuffle_read_bytes"] = tsum("shuffle_read") / n
    m["exec.spill_bytes"] = tsum("spill") / n
    m["exec.input_bytes"] = tsum("input_bytes") / n
    m["exec.failed_tasks"] = tsum("failed")
    m["exec.untagged_jobs"] = sum(
        1 for j in jobs if j["op"] not in ids and w["t0"] <= j["t0"] <= w["t1"])
    m["driver.gap_ms"] = sum(wall(o) - job_ms[o["id"]] for o in ops) / n
    m["op.build_ms"] = mean([o["build_ms"] for o in ops])
    m["op.exec_ms"] = mean([o["exec_ms"] for o in ops])

    writes = [o for o in ops if o["cls"] == "write"]
    for kind in ("insert", "merge", "update", "delete", "optimize"):
        m[f"tablelog.commit_ms.{kind}"] = median(
            [wall(o) for o in writes if o["name"] == kind])
    # a commit whose version is a multiple of the interval also writes
    # the checkpoint
    ci = ex.get("checkpoint_interval", 0)
    m["tablelog.commit_ms.checkpoint"] = median(
        [wall(o) for o in writes if ci and o["version"] > 0 and
         o["version"] % ci == 0])
    m["tablelog.commit_ms.max"] = max((wall(o) for o in writes), default=0.0)
    m["tablelog.snapshot_ms"] = median(
        [s["t1"] - s["t0"] for s in spans if s["name"] == "TableLog.snapshot"])
    m["tablelog.versions"] = (ex.get("version_at_end", 0) -
                              ex.get("version_at_start", 0))
    m["tablelog.checkpoints"] = ex.get("checkpoints_written", 0)
    m["tablelog.files_live"] = ex.get("files_live", 0)
    m["tablelog.files_on_disk"] = ex.get("files_on_disk", 0)
    m["tablelog.log_bytes"] = ex.get("log_bytes", 0)
    ub = ex.get("user_bytes", 0)
    m["tablelog.write_amp"] = ((ex.get("root_bytes", 0) -
                                ex.get("bytes_at_start", 0)) / ub if ub else 0.0)
    log_reads = [o for o in ops if o["cls"] == "read" and
                 o["name"].startswith("read_")]
    returned = sum(o["rows"] for o in log_reads)
    scanned = sum(float(tasks.get(str(o["id"]), {}).get("input_records", 0))
                  for o in log_reads)
    m["tablelog.rows_scanned_per_row_returned"] = (
        scanned / returned if returned else 0.0)

    ipc_w = [wall(o) for o in ops if o["name"].startswith("ipc_write_")]
    ipc_r = [wall(o) for o in ops if o["name"].startswith("ipc_read_")]
    m["ipc.write_ms"] = median(ipc_w)
    m["ipc.read_ms"] = median(ipc_r)
    m["ipc.bytes_written"] = ex.get("ipc_bytes_written", 0)
    for c in ("lz4", "zstd", "dict"):
        m[f"ipc.compression_ratio.{c}"] = ex.get(f"ratio_{c}", 0)
    m["ipc.batches"] = ex.get("ipc_batches", 0)
    m["ipc.pruned_frac"] = ex.get("pruned_frac", 0)
    puts = [o for o in ops if o["name"] == "flight_put"]
    gets = [o for o in ops if o["name"] == "flight_get"]
    m["flight.put_ms"] = median([wall(o) for o in puts])
    m["flight.get_ms"] = median([wall(o) for o in gets])
    m["flight.bytes"] = ex.get("flight_bytes", 0) / max(1, len(puts + gets))
    fl_ms = sum(wall(o) for o in puts + gets)
    fl_rows = sum(o["rows"] for o in puts + gets)
    m["flight.rows_per_s"] = fl_rows / (fl_ms / 1000.0) if fl_ms else 0.0

    for key in raw["curation_chain"]:
        m[f"curation.{key}_ms"] = median(
            [wall(o) for o in ops if o["name"] == key])
    obs = {}
    for q in raw.get("qe", []):
        if q["op"] in ids:
            for name, kv in q["observed"].items():
                obs[name] = kv
    cand = {"ngram": ("ngram_candidates", "n_candidate_pairs"),
            "simjoin": ("simjoin_candidates", "n_candidate_pairs"),
            "semantic": ("semantic_candidates", "n_cell_pairs")}
    for short, (name, field) in cand.items():
        m[f"dedup.candidate_pairs.{short}"] = float(
            obs.get(name, {}).get(field, 0))
    pairs = sum(o["rows"] for o in ops[-len(chain):]
                if o["name"] in ("dedup_ngram", "simjoin_topk")) if chain else 0
    c2 = m["dedup.candidate_pairs.ngram"] + m["dedup.candidate_pairs.simjoin"]
    m["dedup.verify_yield"] = pairs / c2 if c2 else 0.0
    return m
