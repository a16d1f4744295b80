#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, timed end to end or per
layer, with every output checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  ledger_ingest  10-minute ledger batches through drain, state merge,
                 current-state view, mart refresh and lake export
  gate_queries   a seeded mix of read-only warehouse and training-data
                 gate queries

The program is compiled from source (perfbench/build.py), the inputs are
generated from the seed, and one JVM, launched with build.sbt's run flags,
sets the program up, warms it, runs the closed loop for --seconds and runs
the checks that need Spark. The remaining checks run here. The last line
of stdout is one JSON object: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_ledger  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ["ledger_ingest", "gate_queries"]
CORES = 4
TABLES_SF = 0.02
# enough batches (after two warm-up batches) that the loop ends on time, not
# for lack of input, unless a batch gets ~5x faster than today's ~5 s
BATCHES_PER_SECOND = 1
JVM_TIMEOUT_S = 165
LEDGER_STAGES = ["streaming.drain", "operators.state_merge", "operators.current_state",
                 "operators.mart_refresh", "sinks.lake_export"]

# build.sbt's forked-run JVM flags
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
HEAP = os.environ.get("SPARK_DRIVER_MEM", "4g")


def jvm_flags(tmp):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p]
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    "-XX:ReservedCodeCacheSize=1g", f"-Xmx{HEAP}",
                    # scratch and Spark's local dirs stay inside the checkout
                    f"-Djava.io.tmpdir={tmp}"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def prepare_ledger(work, seed, seconds):
    """Stages genesis and the batches; returns (generator, per-batch (rows, bytes))."""
    led = gen_ledger.Ledger(seed)
    staged = os.path.join(work, "staged")
    led.write(staged, -1, led.genesis())
    n = 4 + int(seconds * BATCHES_PER_SECOND)
    sizes = [led.write(staged, b, led.batch(b)) for b in range(n)]
    first = gen_ledger.read_batch(staged, 0)
    if first != gen_ledger.batch_bytes(seed, 0) or first == gen_ledger.batch_bytes(seed + 1, 0):
        raise SystemExit("perfbench: the ledger generator is not deterministic in its seed")
    with open(os.path.join(staged, "batches.tsv"), "w") as f:
        for b in range(-1, n):
            first, last = led.batch_ledgers(b)
            start, end = led.window(b)
            f.write(f"{start}\t{end}\t{first}\t{last}\n")
    return led, sizes


def run_jvm(workload, seed, seconds, trace, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm_flags(tmp) + ["-cp", build.classpath(), "perfbench.Main",
           workload, str(seed), str(seconds), str(trace), work, str(CORES)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: the JVM failed ({rc})")
    with open(result) as f:
        return json.load(f)


def tail(values):
    """The highest percentile with at least 10 samples beyond it, but never
    below p90 (nearest rank), as (value, percentile, samples beyond). A run
    has tens of ops, not hundreds, so the p90 floor is what usually applies;
    it keeps the definition the same whatever the op count."""
    s = sorted(values)
    n = len(s)
    i = max(n - 11, math.ceil(0.9 * n) - 1)
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, spans, cores):
    """Per-op means of the traced spans' counters (0 for a layer the
    workload does not exercise)."""
    by = {}
    for s in spans:
        if s["op"] >= 0:
            by.setdefault(s["name"], []).append(s)
    m = {}
    written = [o.get("written", {}) for o in res["ops"]]
    for st in LEDGER_STAGES:
        ss = by.get(st, [])
        m[f"{st}.wall_s"] = mean([s["wall_s"] for s in ss])
        m[f"{st}.driver_s"] = mean([s["driver_s"] for s in ss])
        m[f"{st}.jobs"] = mean([s["jobs"] for s in ss])
        m[f"{st}.tasks"] = mean([s["tasks"] for s in ss])
        m[f"{st}.task_cpu_s"] = mean([s["task_cpu_s"] for s in ss])
        m[f"{st}.shuffle_mb"] = mean([s["shuffle_write_bytes"] / 2**20 for s in ss])
        m[f"{st}.written_mb"] = mean([w[st][0] / 2**20 for w in written if st in w])
        m[f"{st}.files_written"] = mean([w[st][1] for w in written if st in w])
    ex = by.get("exec.run", [])
    m["queries.build_s"] = mean([s["wall_s"] for s in by.get("queries.build", [])])
    m["plans.plan_s"] = mean([s["wall_s"] for s in by.get("plans.plan", [])])
    m["exec.run_s"] = mean([s["wall_s"] for s in ex])
    # the two halves of the catalog: warehouse gates and training (t_*) gates
    names = {i: o["name"] for i, o in enumerate(res["ops"])}
    m["exec.warehouse_run_s"] = mean([s["wall_s"] for s in ex if not names[s["op"]].startswith("t_")])
    m["exec.corpus_run_s"] = mean([s["wall_s"] for s in ex if names[s["op"]].startswith("t_")])
    m["exec.driver_s"] = mean([s["driver_s"] for s in ex])
    m["exec.jobs"] = mean([s["jobs"] for s in ex])
    m["exec.tasks"] = mean([s["tasks"] for s in ex])
    m["exec.task_cpu_s"] = mean([s["task_cpu_s"] for s in ex])
    wall = sum(s["wall_s"] for s in ex)
    m["exec.core_util"] = sum(s["task_run_s"] for s in ex) / (wall * cores) if wall else 0.0
    m["exec.task_skew"] = statistics.median([s["task_skew"] for s in ex]) if ex else 0.0
    m["exec.shuffle_mb"] = mean([s["shuffle_write_bytes"] / 2**20 for s in ex])
    m["exec.spill_mb"] = mean([s["spill_bytes"] / 2**20 for s in ex])
    m["exec.gc_s"] = mean([s["gc_s"] for s in ex])
    m["exec.codegen_compiles"] = mean([s["codegen_compiles"] for s in ex])
    ops = by.get("op", [])
    m["op.self_s"] = mean([s["self_s"] for s in ops])
    m["op.gc_s"] = mean([s["gc_s"] for s in ops])
    m["op.codegen_compiles"] = mean([s["codegen_compiles"] for s in ops])
    m["trace.op_p50_s"] = statistics.median([s["wall_s"] for s in ops]) if ops else 0.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build.build()

    work = os.path.join(build.OUT, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    if args.workload == "ledger_ingest":
        led, sizes = prepare_ledger(work, args.seed, args.seconds)
    else:
        gen_tables.write(os.path.join(work, "tables"), TABLES_SF, args.seed)
    log(f"inputs for seed {args.seed} generated in {time.time() - t0:.1f} s")

    t1 = time.time()
    res = run_jvm(args.workload, args.seed, args.seconds, args.trace, work)
    log(f"JVM ran {time.time() - t1:.1f} s")
    t2 = time.time()
    ops = res["ops"]
    if not ops:
        raise SystemExit("perfbench: the timed loop ran no op")
    failed_ops = {i for i, o in enumerate(ops) if not o["ok"]}
    results = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]

    loop_s = res["loop_s"]
    loop = res["loop"]
    if args.workload == "ledger_ingest":
        done = res["batches_done"]
        for name, path in [("current_state", res["current_path"]), ("state_table", res["state_path"])]:
            ok, detail = checks.state_check(name, path, led.latest_after(done))
            results.append((name, ok, detail))
        timed = [o["batch"] for o in ops]
        in_rows = sum(sizes[b][0] for b in timed)
        in_bytes = sum(sizes[b][1] for b in timed)
        out_bytes = sum(sum(w[0] for w in o["written"].values()) for o in ops)
        rows_per_s = in_rows / loop_s
        # a wrong warehouse is wrong for every batch that built it
        if not all(ok for _, ok, _ in results):
            failed_ops = set(range(len(ops)))
    else:
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        oracle = checks.oracle_checks(ROOT, os.path.join(work, "tables"),
                                      os.path.join(work, "verify"), oracle_sql)
        bad = set()
        for name, (ok, detail) in oracle.items():
            results.append((f"oracle:{name}", ok, detail))
            if not ok:
                bad.add(name)
        bad |= {n.split(":", 1)[1] for n, ok, _ in results if not ok and n.startswith("run:")}
        # every timed execution must reproduce the checked row count
        checked_rows = checks.result_rows(os.path.join(work, "verify"), res["catalog"])
        failed_ops |= {i for i, o in enumerate(ops)
                       if o["name"] in bad or o["rows"] != checked_rows.get(o["name"])}
        in_bytes = loop["bytes_read"]
        out_bytes = loop["shuffle_write_bytes"] + loop["spill_bytes"] + loop["output_bytes"]
        rows_per_s = loop["records_read"] / loop_s

    log(f"checks outside the JVM ran {time.time() - t2:.1f} s")
    times = [o["s"] for o in ops]
    tail_s, tail_pct, beyond = tail(times)
    failed = len(failed_ops)
    correct = failed == 0 and all(ok for _, ok, _ in results)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail_s,
        "ops_per_min": 60.0 * len(ops) / loop_s,
        "rows_per_s": rows_per_s,
        "bytes_written_per_input_byte": out_bytes / in_bytes if in_bytes else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }

    for name, ok, detail in results:
        if not ok or not name.startswith("oracle:"):
            log(f"check {name}: {'ok' if ok else 'FAILED'}: {detail}")
    log(f"checks: {sum(ok for _, ok, _ in results)}/{len(results)} passed")
    log(f"host: nproc {os.cpu_count()}, local[{res['cores']}], -Xmx{HEAP}, "
        f"java {res['java_version']}, spark {res['spark_version']}")
    log(f"ops {len(ops)}, failed {failed}, failed_frac {failed / len(ops):.4f}; "
        f"op_tail_s is p{tail_pct:.0f} with {beyond} samples beyond it; "
        f"setup runs {['%.3f' % s for s in res['setup_s']]}")
    for k, v in e2e.items():
        log(f"{k} = {v:.6g}")

    if args.trace:
        spans = res["spans"]
        trace_dir = os.path.join(build.OUT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)
        log(f"{len(spans)} spans written to {os.path.relpath(trace_file, ROOT)}")
        values = per_layer(res, spans, res["cores"])
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
