#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds graft and the harness from
source (`perfbench/build.py`), generates the workload's inputs from the
seed (`perfbench/gen.py`), runs the harness JVM (`perfbench/src`) under
an absolute scratch root `.perfbench/` of the checkout, checks every
output, and prints a report whose last line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A full
artifact (spans, per-pass readings, failed operation names, host state)
is written under `.perfbench/artifacts/`.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
SF = 0.01
COMPACT_EVERY = 8  # DeltaState.foreachBatchStoreFolds' default compaction window

# The registry query that writes index generations and runs stream legs
# before a plan exists: the delta/probe block (a bucketed index write, two
# DeltaState stores, a resumed two-leg stream). Other eager queries
# (graph_components, the cutovers) would not fit the run-time budget.
LIFECYCLE = ["dedup_simhash_delta_stats_probe"]

# state_ingest's traffic follows the repo's own CDC query,
# dedup_simhash_delta_stats_probe: the stores start from an index of the
# corpus, each feed batch adds 5 % of the corpus size as new documents and
# deletes 5 % (its `doc_id % 20` slices), and the probe batch is 10 % (its
# `doc_id % 10 == 5` slice). The corpus is the generated documents table
# (500 documents at scale factor 0.01). Two resumed legs of four triggers:
# the default compactEvery (8) compacts both stores on the last trigger.
INGEST_DOCS = gen.row_counts(SF)["documents"]
WORKLOADS = {
    "index_lifecycle": {"queries": LIFECYCLE},
    "state_ingest": {"docs": INGEST_DOCS, "legs": 2, "per_leg": 4, "adds": INGEST_DOCS // 20,
                     "dels": INGEST_DOCS // 20, "probes": INGEST_DOCS // 10},
}
# The harness JVM's limit: set-up, calibration and checks, plus twice the
# measured time (the passes run until the next one would not fit).
JVM_ALLOWANCE_S = 120


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(cp, args, log_path, timeout):
    tmp = os.path.join(WORK, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + build.java_opens() + ["-cp", cp, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "run", "local"))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=os.path.join(WORK, "run"),
                             env=env)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {timeout:.0f} s; log: {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {code}; log: {log_path}\n{tail}")


def oracle_check(data, out):
    """Runs tools/check_oracle.py; returns (names OK, names not OK, its log)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data, out],
                       capture_output=True, text=True)
    ok, bad = [], []
    for line in r.stdout.splitlines():
        m = re.match(r"^(OK|MISMATCH|ERROR)\s+([A-Za-z0-9_]+)", line)
        if m:
            (ok if m.group(1) == "OK" else bad).append(m.group(2))
    return ok, bad, r.stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a full checkout")
    w = WORKLOADS[a.workload]
    load_pre = os.getloadavg()
    cp = build.build()

    # inputs: generated from the seed, cached per seed and scale
    ingest = "queries" not in w
    data = os.path.join(WORK, "data", f"sf{SF}-d{w.get('docs', 0)}-seed{a.seed}")
    rows, gen_s = gen.ensure(data, SF, a.seed, docs=w.get("docs"))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_json = os.path.join(run_dir, "record.json")
    jvm = ["--workload", a.workload, "--data", data, "--work", run_dir, "--out", out_json,
           "--seconds", str(a.seconds), "--cores", str(len(os.sched_getaffinity(0)))]
    if ingest:
        feed = os.path.join(WORK, "data", f"feed-seed{a.seed}")
        batches = w["legs"] * w["per_leg"]
        _, feed_s = gen.ensure_feed(feed, a.seed, os.path.join(data, "documents.parquet"), batches,
                                    w["adds"], w["dels"], w["probes"])
        gen_s += feed_s
        jvm += ["--feed", feed, "--legs", str(w["legs"]), "--per-leg", str(w["per_leg"])]
    else:
        jvm += ["--queries", ",".join(w["queries"])]
    if a.trace:
        jvm.append("--trace")
    run_jvm(cp, jvm, os.path.join(run_dir, "harness.log"), JVM_ALLOWANCE_S + 2 * a.seconds)
    with open(out_json) as f:
        record = json.load(f)

    # output checks, outside every timed interval
    mismatched, oracle_log = [], ""
    if not ingest:
        ok, bad, oracle_log = oracle_check(data, os.path.join(run_dir, "out"))
        ran = {s["name"] for s in record["spans"] if s["kind"] == "query"}
        mismatched = sorted(ran - set(ok))
    attempted, failed = metrics.failures(record, mismatched)

    result = {"correct": not failed, "attempted": attempted, "failed": len(failed)}
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "gen_s": gen_s, "input_rows": rows, "failed_operations": failed,
              "fail_ratio": len(failed) / attempted,
              "host": {"loadavg_pre": load_pre, "loadavg_post": os.getloadavg(),
                       "calib_pre_s": record["calib_pre_s"], "calib_post_s": record["calib_post_s"],
                       "cores": record["cores"]}}
    lines = [f"workload {a.workload}  seed {a.seed}  trace {a.trace}  gen_s {gen_s:.3f}",
             f"host: loadavg {load_pre[0]:.2f} -> {report['host']['loadavg_post'][0]:.2f}, "
             f"calib {record['calib_pre_s']:.4f} s -> {record['calib_post_s']:.4f} s",
             f"operations: {attempted} attempted, {len(failed)} failed, fail_ratio {len(failed) / attempted:.4f}"]
    lines += [f"  FAILED {x}" for x in failed]
    ps = metrics.passes(record)
    lines.append(f"passes: {len(ps)} (" + ", ".join(
        f"{'cold' if p['index'] == 0 else 'traced' if p.get('traced') else 'steady'} {metrics.pass_wall(p):.3f}s"
        for p in ps) + ")")
    if a.trace:
        layers, tree = metrics.per_layer(record, COMPACT_EVERY)
        report["per_layer"] = layers
        result["metrics"] = {k: {"value": layers[k], "unit": u} for k, u in metrics.LAYER_UNITS.items()}
        lines.append("per-layer readings, per traced pass:")
        for title, prefix, moves, flat in metrics.LAYER_MAP:
            lines.append(f"  [{title}]  should move: {moves}  |  predicted flat on: {flat}")
            lines += [f"    {k:34s} {layers[k]:16.6f} {u}" for k, u in metrics.LAYER_UNITS.items()
                      if k.startswith(prefix)]
        lines.append(f"  tracing overhead: {layers['trace.overhead_s']:+.4f} s per pass "
                     f"({layers['trace.overhead_share']:+.2%}) traced vs untraced steady passes")
        lines.append("span self time by layer (whole run): kind  count  total_s  self_s")
        table = tree.layer_table()
        report["self_time"] = {k: {"count": n, "total_s": t, "self_s": s} for k, (n, t, s) in table.items()}
        lines += [f"  {k:10s} {n:6d} {t:10.3f} {s:10.3f}" for k, (n, t, s) in sorted(table.items())]
    else:
        e2e = metrics.end_to_end(record)
        figures = metrics.run_figures(record, metrics.steady(record))
        lat = metrics.op_latencies(record, metrics.steady(record))
        report["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        report["run_figures"] = figures
        report["op_samples"] = len(lat)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        lines += [f"  {k:20s} {v:12.6f} {u}" for k, (v, u) in e2e.items()]
        lines.append("figures without a bound (also per-layer metrics of a traced run):")
        lines += [f"  {k:32s} {v:14.6f} {metrics.LAYER_UNITS[k]}" for k, v in figures.items()]
        lines.append(f"  op latency samples: {len(lat)} ({'triggers' if ingest else 'queries'}), "
                     f"{metrics.beyond(lat, 0.9)} beyond p90")
        if ingest:
            fig = metrics.ingest_figures(record, metrics.steady(record))
            report["ingest"] = fig
            lines += [f"  {k:32s} {v:14.6f} {metrics.LAYER_UNITS[k]}" for k, v in fig.items()]
            pub, comp = metrics.trigger_split(record, metrics.steady(record), COMPACT_EVERY)
            report["trigger_split"] = {"publish_s": pub, "compact_s": comp}
            lines.append("  triggers (steady passes): publish median "
                         f"{statistics.median(pub):.3f} s (n={len(pub)}), compaction median "
                         f"{statistics.median(comp):.3f} s (n={len(comp)})")
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump({**report, "result": result, "oracle": oracle_log, "record": record}, f)
    lines.append(f"artifact: {os.path.relpath(art, ROOT)}")
    print("\n".join(lines))
    print(json.dumps(result))



if __name__ == "__main__":
    main()
