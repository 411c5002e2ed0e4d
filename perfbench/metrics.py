"""Metric arithmetic of the benchmark: percentiles, the span tree with
self times, per-layer readings and the end-to-end metrics, all computed
from the JSON record the harness JVM writes (see `src/perfbench/Main.scala`).
Kept free of I/O so `test_perfbench.py` can check it on hand-made records.
"""
import statistics

HARNESS_KINDS = ("run", "setup", "pass", "query", "build", "plan", "execute",
                 "hygiene", "leg", "probe", "read")


def percentile(values, q):
    """Linear-interpolation percentile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q):
    """How many samples lie strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    ivs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def dur(s):
    return (s["t1"] - s["t0"]) / 1e3


def pass_wall(p):
    """A pass's wall time without the live-heap readings made in it."""
    return dur(p) - p.get("heap_read_s", 0.0)


class Tree:
    """Spans with resolved parents. Jobs are parented through the job group
    the harness set (`pb-<query span id>-<phase>`), falling back to the
    innermost harness span or trigger containing the job's start; stages
    hang under their job; a stream under the harness span containing its
    start, and its triggers under it. An execute span with a recorded SQL execution is split
    into `plan` (up to the end of Catalyst planning) and `execute`."""

    def __init__(self, spans):
        self.spans = {s["id"]: dict(s) for s in spans}
        self._split_plan()
        by_phase = {}
        for s in self.spans.values():
            if s["kind"] in ("build", "execute"):
                by_phase[(s["parent"], s["kind"])] = s["id"]
        harness = [s for s in self.spans.values() if s["kind"] in HARNESS_KINDS]
        streams = [s for s in self.spans.values() if s["kind"] == "stream"]
        triggers = [s for s in self.spans.values() if s["kind"] == "trigger"]
        jobs = {}
        for s in self.spans.values():
            if s["kind"] == "job":
                jobs[s["job_id"]] = s
                parts = (s.get("group") or "").split("-")
                pid = None
                if len(parts) == 3 and parts[0] == "pb":
                    pid = by_phase.get((int(parts[1]), parts[2]))
                s["parent"] = pid if pid is not None else self._containing(s, harness + streams + triggers)
        for s in self.spans.values():
            if s["kind"] == "stage":
                job = jobs.get(s.get("job_id"))
                s["parent"] = job["id"] if job else self._containing(s, harness)
            elif s["kind"] == "stream":
                s["parent"] = self._containing(s, harness)
            elif s["kind"] == "trigger":
                s["parent"] = self._containing(s, harness + streams)
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)

    def _split_plan(self):
        qes = sorted((s for s in self.spans.values() if s["kind"] == "qe"), key=lambda s: s["t0"])
        nxt = max(self.spans) + 1 if self.spans else 0
        for x in [s for s in self.spans.values() if s["kind"] == "execute"]:
            qe = next((q for q in qes if x["t0"] <= q["t0"] <= x["t1"]), None)
            if qe is None:
                continue
            end = min(max(qe["t1"], x["t0"]), x["t1"])
            self.spans[nxt] = {"id": nxt, "parent": x["parent"], "kind": "plan", "name": x["name"],
                               "t0": x["t0"], "t1": end,
                               **{k: qe.get(k, 0.0) for k in ("analysis_s", "optimization_s", "planning_s")}}
            x["t0"] = end
            nxt += 1

    @staticmethod
    def _containing(s, candidates):
        best = None
        for c in candidates:
            if c["id"] != s["id"] and c["t0"] <= s["t0"] <= c["t1"]:
                if best is None or (c["t1"] - c["t0"]) < (best["t1"] - best["t0"]):
                    best = c
        return best["id"] if best else -1

    def kids(self, sid):
        return self.children.get(sid, [])

    def self_time(self, s):
        """Span duration minus the time its children cover (clipped to it)."""
        covered = union_length([(c["t0"], c["t1"]) for c in self.kids(s["id"])], s["t0"], s["t1"])
        return max(0.0, (s["t1"] - s["t0"]) - covered) / 1e3

    def under(self, root_id):
        """All spans below `root_id`."""
        out, stack = [], list(self.kids(root_id))
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.kids(s["id"]))
        return out

    def layer_table(self):
        """kind → (count, total seconds, self seconds) over the whole run."""
        table = {}
        for s in self.spans.values():
            if s["kind"] == "qe":
                continue
            n, tot, slf = table.get(s["kind"], (0, 0.0, 0.0))
            table[s["kind"]] = (n + 1, tot + dur(s), slf + self.self_time(s))
        return table


def passes(record):
    return sorted((s for s in record["spans"] if s["kind"] == "pass"), key=lambda s: s["index"])


def ops(record):
    """The operations a run attempted: queries, or ingest legs and probes."""
    kinds = ("leg", "probe") if record["workload"] == "state_ingest" else ("query",)
    return [s for s in record["spans"] if s["kind"] in kinds]


def failures(record, mismatched=()):
    """(attempted, names of failed operations). An operation fails when it
    threw or its output mismatched; `mismatched` names queries whose
    checked output the oracle did not confirm (counted once each)."""
    all_ops = ops(record)
    failed = [f"{s['name']} (pass {pass_of(record, s)}): {s.get('error', '')}"
              for s in all_ops if not s.get("ok", False)]
    failed += [f"{name}: output not confirmed by the oracle" for name in mismatched]
    return len(all_ops), failed


def pass_of(record, span):
    for p in passes(record):
        if p["t0"] <= span["t0"] <= p["t1"]:
            return p["index"]
    return -1


def in_passes(spans, ps):
    return [s for s in spans if any(p["t0"] <= s["t0"] <= p["t1"] for p in ps)]


def steady(record, traced=False):
    """Steady passes (all but the cold first one) with the given tracing state."""
    return [p for p in passes(record)[1:] if bool(p.get("traced")) == traced]


def op_latencies(record, ps):
    """Per-operation latencies in the given passes: query walls, or the wall
    of every ingest trigger that read rows."""
    if record["workload"] == "state_ingest":
        spans = [s for s in record["spans"] if s["kind"] == "trigger" and s.get("rows", 0) > 0]
    else:
        spans = [s for s in record["spans"] if s["kind"] == "query"]
    return [dur(s) for s in in_passes(spans, ps)]


def setup(record):
    """The run's one set-up span: JVM start to a warmed-up session."""
    (s,) = [s for s in record["spans"] if s["kind"] == "setup"]
    return s


def trigger_split(record, ps, compact_every=8):
    """Walls of the ingest triggers that read rows in the passes `ps`:
    (publish triggers, compaction triggers). Every `compact_every`-th batch
    of a stream compacts."""
    triggers = in_passes([s for s in record["spans"] if s["kind"] == "trigger" and s.get("rows", 0) > 0], ps)
    return ([dur(t) for t in triggers if (t["batch_id"] + 1) % compact_every != 0],
            [dur(t) for t in triggers if (t["batch_id"] + 1) % compact_every == 0])


def end_to_end(record):
    """The end-to-end metrics of an untraced run: the ones steady enough
    across seeds to carry a bound."""
    ps = steady(record)
    if not ps:
        raise ValueError("no steady pass recorded")
    return {
        "setup_s": (dur(setup(record)), "s"),
        "pass_s": (statistics.median(pass_wall(p) for p in ps), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in ps), "s"),
    }


def run_figures(record, ps):
    """End-to-end figures that vary too much from run to run to carry a
    bound: the cold first pass, operation latency over the passes `ps`
    (median and p90), the live-heap peak, and the JIT compiler's CPU time
    (left out of `cpu_s`)."""
    lat = op_latencies(record, ps)
    return {
        "run.first_pass_s": dur(passes(record)[0]),
        "run.op_p50_s": percentile(lat, 0.5),
        "run.op_p90_s": percentile(lat, 0.9),
        "run.heap_live_peak_mb": statistics.median(p["heap_peak_mb"] for p in ps),
        "run.jit_cpu_s": statistics.median(p["jit_cpu_s"] for p in ps),
    }


def ingest_figures(record, ps):
    """state_ingest's own results per pass, averaged over the passes `ps`:
    rows folded per drain second, probe latency, write and space amplification."""
    by_pass = {x["pass"]: x for x in record.get("ingest", [])}
    rows = [by_pass[p["index"]] for p in ps if p["index"] in by_pass]
    if not rows:
        return {}
    spans = record["spans"]
    drain = sum(dur(s) for s in in_passes([s for s in spans if s["kind"] == "leg"], ps))
    probes = [dur(s) for s in in_passes([s for s in spans if s["kind"] == "probe"], ps)]
    n = len(rows)
    return {
        "deltastate.ingest_rows_per_s": sum(r["feed_rows"] for r in rows) / drain if drain else 0.0,
        "deltastate.probe_p50_s": percentile(probes, 0.5) if probes else 0.0,
        "deltastate.write_amp": sum(r["state_bytes_written"] for r in rows) / sum(r["feed_bytes"] for r in rows),
        "deltastate.space_amp": sum(r["stored_bytes"] for r in rows) / sum(r["oneshot_bytes"] for r in rows),
        "deltastate.delta_bytes": sum(r["delta_bytes"] for r in rows) / n,
        "deltastate.base_bytes_rewritten": sum(r["base_bytes_rewritten"] for r in rows) / n,
    }


def per_layer(record, compact_every=8):
    """Per-layer readings of a traced run, per traced pass (the steady traced
    passes, or the first pass when there is none), plus the tracing overhead."""
    tree = Tree(record["spans"])
    ps = steady(record, traced=True) or passes(record)[:1]
    n = len(ps)
    spans = [s for p in ps for s in tree.under(p["id"])]
    kind = lambda k: [s for s in spans if s["kind"] == k]
    stages, jobs = kind("stage"), kind("job")
    total = lambda xs, k: sum(s.get(k, 0) for s in xs)
    build_jobs = [j for p in ps for b in tree.under(p["id"]) if b["kind"] == "build"
                  for j in tree.under(b["id"]) if j["kind"] == "job"]
    op_spans = kind("leg") + kind("probe") if record["workload"] == "state_ingest" else kind("query")
    op_wall = sum(dur(s) for s in op_spans)
    job_ivs = [(j["t0"], j["t1"]) for j in jobs]
    busy = sum(union_length(job_ivs, p["t0"], p["t1"]) for p in ps) / 1e3
    gap = sum(dur(s) - union_length(job_ivs, s["t0"], s["t1"]) / 1e3 for s in op_spans)
    wall = sum(pass_wall(p) for p in ps)
    triggers = [s for s in kind("trigger") if s.get("rows", 0) > 0]
    publishes, compacts = trigger_split(record, ps, compact_every)
    first_trigger = lambda st: min((t["t0"] for t in triggers if st["t0"] <= t["t0"] <= st["t1"]), default=st["t0"])
    out = {
        "session.start_s": setup(record)["start_s"],
        "session.warmup_s": setup(record)["warmup_s"],
        "queries.build_s": sum(dur(s) for s in kind("build")) / n,
        "queries.build_jobs": len(build_jobs) / n,
        "queries.build_share": (sum(dur(s) for s in kind("build")) / op_wall) if op_wall else 0.0,
        "plan.analysis_s": total(kind("plan"), "analysis_s") / n,
        "plan.optimization_s": total(kind("plan"), "optimization_s") / n,
        "plan.planning_s": total(kind("plan"), "planning_s") / n,
        "exec.s": busy / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": total(stages, "tasks") / n,
        "exec.task_cpu_s": total(stages, "task_cpu_s") / n,
        "exec.task_run_s": total(stages, "task_run_s") / n,
        "exec.util": total(stages, "task_run_s") / (wall * record["cores"]) if wall else 0.0,
        "exec.driver_gap_s": gap / n,
        "exec.gc_s": total(stages, "gc_s") / n,
        "exec.records_in": total(stages, "records_in") / n,
        "exec.shuffle_read_bytes": total(stages, "shuffle_read_bytes") / n,
        "exec.shuffle_write_bytes": total(stages, "shuffle_write_bytes") / n,
        "exec.spill_bytes": total(stages, "spill_bytes") / n,
        "io.scan_bytes": total(stages, "scan_bytes") / n,
        "io.output_bytes": total(stages, "output_bytes") / n,
        "io.fs_bytes_read": total(ps, "fs_bytes_read") / n,
        "io.fs_bytes_written": total(ps, "fs_bytes_written") / n,
        "streaming.triggers": len(triggers) / n,
        "streaming.start_s": sum((first_trigger(st) - st["t0"]) / 1e3 for st in kind("stream")) / n,
        "streaming.add_batch_s": total(triggers, "add_batch_s") / n,
        "streaming.wal_commit_s": total(triggers, "wal_commit_s") / n,
        "streaming.source_s": total(triggers, "source_s") / n,
        "streaming.query_planning_s": total(triggers, "query_planning_s") / n,
        "deltastate.publish_trigger_s": statistics.median(publishes) if publishes else 0.0,
        "deltastate.compact_trigger_s": statistics.median(compacts) if compacts else 0.0,
        "deltastate.read_s": statistics.median(dur(s) for s in kind("read")) if kind("read") else 0.0,
        "deltastate.pending_at_read": (total(kind("read"), "pending") / len(kind("read"))) if kind("read") else 0.0,
        "hygiene.s": sum(dur(s) for s in kind("hygiene")) / n,
    }
    ing = {"deltastate.ingest_rows_per_s": 0.0, "deltastate.probe_p50_s": 0.0,
           "deltastate.write_amp": 0.0, "deltastate.space_amp": 0.0,
           "deltastate.delta_bytes": 0.0, "deltastate.base_bytes_rewritten": 0.0}
    ing.update(ingest_figures(record, ps))
    out.update(ing)
    # in a traced run, the untraced steady pass gives the run figures
    out.update(run_figures(record, steady(record, traced=False) or ps))
    untraced = steady(record, traced=False)
    traced_walls = [pass_wall(p) for p in steady(record, traced=True)]
    if untraced and traced_walls:
        base = statistics.median(pass_wall(p) for p in untraced)
        out["trace.overhead_s"] = statistics.median(traced_walls) - base
        out["trace.overhead_share"] = out["trace.overhead_s"] / base
    else:
        out["trace.overhead_s"] = out["trace.overhead_share"] = 0.0
    return out, tree


# Every per-layer metric with its unit, in report order.
LAYER_UNITS = {
    "run.first_pass_s": "s", "run.op_p50_s": "s", "run.op_p90_s": "s",
    "run.heap_live_peak_mb": "MB", "run.jit_cpu_s": "s",
    "session.start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.util": "ratio",
    "exec.driver_gap_s": "s", "exec.gc_s": "s", "exec.records_in": "count",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "io.scan_bytes": "bytes", "io.output_bytes": "bytes", "io.fs_bytes_read": "bytes",
    "io.fs_bytes_written": "bytes",
    "streaming.triggers": "count", "streaming.start_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.source_s": "s", "streaming.query_planning_s": "s",
    "deltastate.publish_trigger_s": "s", "deltastate.compact_trigger_s": "s",
    "deltastate.read_s": "s", "deltastate.pending_at_read": "count",
    "deltastate.ingest_rows_per_s": "1/s", "deltastate.probe_p50_s": "s",
    "deltastate.write_amp": "ratio", "deltastate.space_amp": "ratio",
    "deltastate.delta_bytes": "bytes", "deltastate.base_bytes_rewritten": "bytes",
    "hygiene.s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}

# layer → (metrics prefix, should move → on, predicted flat on)
LAYER_MAP = [
    ("run figures (no bound)", "run.", "-", "-"),
    ("session", "session.", "setup_s on all", "-"),
    ("Queries* build", "queries.", "pass_s, run.op_p90_s on index_lifecycle", "state_ingest"),
    ("plan (Catalyst phases)", "plan.", "run.op_p50_s on index_lifecycle", "state_ingest"),
    ("ops + functions execution", "exec.",
     "driver_gap_s/jobs -> pass_s, run.op_p50_s; task_cpu/shuffle/spill -> pass_s, cpu_s", "-"),
    ("io", "io.", "pass_s on index_lifecycle; deltastate.write_amp on state_ingest", "-"),
    ("streaming", "streaming.",
     "pass_s, deltastate.ingest_rows_per_s on state_ingest; pass_s on index_lifecycle", "-"),
    ("DeltaState", "deltastate.",
     "compact_trigger_s -> run.op_p90_s, pass_s; pending_at_read -> probe_p50_s; "
     "bytes -> write/space_amp on state_ingest", "index_lifecycle"),
    ("Hygiene", "hygiene.", "pass_s on all", "-"),
    ("tracing", "trace.", "-", "-"),
]
