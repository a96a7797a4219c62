#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the JVM program (perfbench/build.py, cached in
$CARGO_TARGET_DIR or .bench_build), generates the workload's inputs from
the seed (gen.py), runs the JVM program (scala/Main.scala) on
local[<cores>], checks the outputs (in the JVM, and against DuckDB with
the repository's tools/oracle_check.py) and prints one line per metric followed, as the last line, by
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero when any output is wrong. Everything it
writes stays under the build directory and is removed on exit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("lakehouse_rw", "curation_pipeline")
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "lat_p50_ms": "ms",
             "lat_tail_ms": "ms", "peak_rss_mb": "MB", "peak_heap_mb": "MB"}


def unit_of(name):
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if any(k in name for k in ("ratio", "frac", "eff", "amp", "yield",
                               "per_row")):
        return "ratio"
    return "count"


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, work):
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap: the resident size does not depend
        # on when the collector chose to grow the heap (peak_heap_mb
        # shows the heap in use)
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m",
        # no hsperfdata file outside the build directory
        "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"benchmark JVM failed ({code}):\n{tail}")


# DuckDB replays these keys' candidate generation in SQL, which takes
# minutes on the measured corpus: they are checked on the warm-up corpus
# (same code, smaller input) and, on the measured one, by every pass
# digesting equal to the first
WARM_ONLY_ORACLES = {"dedup_minhash", "dedup_ngram", "simjoin_topk"}


def connect(inputs_dir):
    """DuckDB with one view per generated parquet table."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for f in sorted(os.listdir(inputs_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(inputs_dir, f)}'")
    return con


def oracle_failures(raw, inputs):
    """(number of outputs compared, {key: reason} of those that differ
    from DuckDB's): the oracle's column types are linted and its result
    compared with the engine's parquet output by tools/oracle_check.py."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    import oracle_check
    cons, bad, n = {}, {}, 0
    for c in raw["checks"]:
        warm = c["inputs"] != inputs
        if warm != (c["key"] in WARM_ONLY_ORACLES):
            continue
        n += 1
        if c["inputs"] not in cons:
            cons[c["inputs"]] = connect(c["inputs"])
        con = cons[c["inputs"]]
        lint = oracle_check.lint_types(con, c["sql"])
        if lint:
            ok, msg = False, f"oracle column types {lint}"
        else:
            try:
                exp = con.execute(c["sql"]).df()
                got = duckdb.connect().execute(
                    f"SELECT * FROM '{c['path']}/*.parquet'").df()
                ok, msg = oracle_check.compare(exp, got)
            except Exception as e:  # the oracle or the result file failed
                ok, msg = False, f"oracle error: {e}"
        if not ok:
            bad[c["key"]] = ("warm-up corpus: " if warm else "") + msg
    return n, bad


def show(name, value, unit, note=""):
    print(f"  {name:<42} {value:>14.4f} {unit:<6} {note}".rstrip())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        t = time.time()
        gen.write(gen.inputs(a.workload, a.seed), inputs)
        gen.write(gen.inputs(a.workload, a.seed, warm=True),
                  os.path.join(inputs, "warm"))
        gen_s = time.time() - t
        out = os.path.join(work, "raw.json")
        n_cores = cores()
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--inputs", inputs, "--work", work, "--out", out,
                     "--cores", str(n_cores)],
                work)
        with open(out) as f:
            raw = json.load(f)
        n_compared, wrong_keys = oracle_failures(raw, inputs)
        for o in raw["ops"]:
            if o["name"] in wrong_keys:
                o["wrong"] = True
        report(a, raw, n_compared, wrong_keys, n_cores, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, raw, n_compared, wrong_keys, n_cores, gen_s):
    ops = raw["ops"]
    chain = raw.get("chain", [])
    e2e = metrics.end_to_end(raw)
    fig = metrics.workload_figures(raw)
    # whole-run checks beyond the ops, on the lakehouse: its final
    # snapshot, and that the window crossed TableLog checkpoints
    ex = raw["extra"]
    final = []
    if "final_snapshot_ok" in ex:
        final.append(("final snapshot equals the model",
                      ex["final_snapshot_ok"] == 1))
        n = ex["checkpoints_written"]
        final.append((f"{n:.0f} TableLog checkpoints written in the window "
                      f"(at least 2)", n >= 2))
    checks = [ok for _, ok in final]
    failed, attempted = metrics.failures(ops, checks)
    correct = failed == 0 and len(ops) > 0
    w = raw["window"]
    print(f"perfbench workload={a.workload} seed={a.seed} cores={n_cores} "
          f"trace={a.trace} window_s={(w['t1'] - w['t0']) / 1000:.2f} "
          f"ops={len(ops)} gen_s={gen_s:.2f}")
    if n_compared:
        print(f"  {n_compared} key outputs compared with DuckDB's, "
              f"{len(wrong_keys)} differ")
    for key, msg in sorted(wrong_keys.items()):
        print(f"  WRONG {key}: {msg}")
    for o in ops:
        if o["failed"]:
            print(f"  FAILED op {o['id']} {o['name']}: {o['err']}")
    for what, ok in final:
        if not ok:
            print(f"  FAILED check: {what}")
    print("end-to-end:")
    setups = " ".join(f"{s['total_s']:.2f}" for s in metrics.warm_setups(raw))
    cold = raw["setups"][0]["total_s"]
    t = fig["_tail"]["all"]
    notes = {"setup_s": f"median of warm set-ups {setups} (cold {cold:.2f})",
             "lat_tail_ms": f"p{t['tail_pct']:g} of {t['n']} "
                            f"{'passes' if chain else 'ops'}"}
    for m, unit in E2E_UNITS.items():
        show(m, e2e[m], unit, notes.get(m, ""))
    print("workload figures:")
    show("fail_frac", metrics.fail_frac(ops, checks), "ratio",
         f"{failed} of {attempted}")
    t = fig["_tail"]["read"]
    if t["n"]:
        show("read_p50_ms", fig["rw.read_p50_ms"], "ms")
        show("read_tail_ms", fig["rw.read_tail_ms"], "ms",
             f"p{t['tail_pct']:g} of {t['n']} ops")
        show("write_p50_ms", fig["rw.write_p50_ms"], "ms",
             f"of {fig['_tail']['write']['n']} commits")
    if chain:
        show("pass_s", fig["curation.pass_s"], "s")
        show("docs_per_s", fig["curation.docs_per_s"], "1/s",
             f"{raw['extra'].get('corpus_docs', 0):.0f} docs")
    if fig["ipc.mb_per_s"]:
        show("mb_per_s", fig["ipc.mb_per_s"], "MB/s")
    if fig["tablelog.space_amp"]:
        show("space_amp", fig["tablelog.space_amp"], "ratio")
    if a.trace:
        layer = metrics.per_layer(raw, n_cores)
        for k in ("rw.read_p50_ms", "rw.read_tail_ms", "rw.write_p50_ms",
                  "curation.pass_s", "curation.docs_per_s",
                  "ipc.mb_per_s", "tablelog.space_amp"):
            layer[k] = fig[k]
        print("per-layer:")
        for k in sorted(layer):
            show(k, layer[k], unit_of(k))
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
