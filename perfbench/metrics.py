"""Turns a raw run record from the JVM side into the benchmark's metrics.

All arithmetic lives here so it can be tested without Spark
(`python3 -m unittest discover -s perfbench`). Times in the record are
epoch milliseconds; per-layer figures are totals over the traced window
divided by the number of traced passes, i.e. per pass.
"""
import statistics

# phase names of Spark's QueryPlanningTracker
PHASES = {"analysis": "catalyst.analysis_ms",
          "optimization": "catalyst.optimization_ms",
          "planning": "catalyst.planning_ms"}

LAKE_CALLS = ["ingest", "refresh_silver", "refresh_gold", "merge", "delete",
              "update", "optimize", "vacuum", "resolve", "read"]
LLM_CALLS = ["minhash", "components", "ann", "text"]

# per-op listener sums, in the order the JVM side writes them
OP_FIELDS = ["tasks", "task_ms", "task_cpu_ns", "scan_bytes", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "output_bytes", "stages"]


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 100]) and the sample count
    it rests on; (None, 0) for no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, each first
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, jobs):
    """Self time of every span: its duration minus the time its children
    cover. Children are the spans naming it as parent plus the Spark jobs
    that started inside it (the innermost span of the same op).

    spans: dicts with id, name, start, end, parent, op
    jobs:  dicts with op, start, end
    Returns {span id: self ms}.
    """
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append((s["start"], s["end"]))
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for j in jobs:
        inner = None
        for s in by_op.get(j["op"], []):
            if s["start"] <= j["start"] <= s["end"]:
                if inner is None or s["end"] - s["start"] < inner["end"] - inner["start"]:
                    inner = s
        if inner is not None:
            children[inner["id"]].append((j["start"], j["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(children[s["id"]], s["start"], s["end"])
            for s in spans}


def ratio(num, den):
    return num / den if den else 0.0


def slot_util(task_ms, job_ms, cores):
    """Share of the task slots busy while jobs run: task time over job
    wall time times the slot count."""
    return ratio(task_ms, job_ms * cores)


def commit_yield(versions, mutations):
    """Table versions created per mutating lake call."""
    return ratio(versions, mutations)


def bytes_per_user_byte(lake_bytes, user_bytes):
    """Bytes the lake holds after the final vacuum per Parquet byte of
    the input batches."""
    return ratio(lake_bytes, user_bytes)


def _ops(rec):
    keys = ["id", "pass", "kind", "name", "start", "end", "ok", "err", "value"]
    return [dict(zip(keys, o)) for o in rec["ops"]]


def op_latencies(rec, kind=None):
    """Latencies (ms) of the ops that succeeded, optionally of one kind."""
    return [o["end"] - o["start"] for o in _ops(rec)
            if o["ok"] and (kind is None or o["kind"] == kind)]


def setup_s(rec):
    """Set-up the engine does before the window: session start (with the
    graft extensions), loading the inputs and the untimed warm-up."""
    return rec["session_s"] + rec["load_s"] + rec["warmup_s"]


def end_to_end(rec):
    """The user-visible metrics of an untraced run."""
    return {
        "setup_s": (setup_s(rec), "s"),
        "pass_s": (statistics.median(rec["pass_s"]), "s"),
        "retained_heap_mb": (rec["retained_heap_mb"], "MB"),
    }


def per_layer(rec):
    """The per-layer metrics of a traced run, per traced pass."""
    ops = _ops(rec)
    passes = len(rec["pass_s"])
    cores = rec["cores"]
    spans = [dict(zip(["id", "name", "start", "end", "parent", "op"], s)) for s in rec["spans"]]
    jobs = [dict(zip(["job", "op", "start", "end"], j)) for j in rec["jobs"]]
    out = {}

    def put(name, value, unit, per_pass=True):
        out[name] = ((value / passes if per_pass else value), unit)

    for q in (50, 90):
        put("ops.p%d_ms" % q, percentile(op_latencies(rec), q)[0], "ms", per_pass=False)

    phase_ms = {p: 0.0 for p in PHASES}
    for name, s, e in rec["phases"]:
        if name in phase_ms:
            phase_ms[name] += e - s
    for p, metric in PHASES.items():
        put(metric, phase_ms[p], "ms")
    put("catalyst.executions", rec["executions"], "count")

    selfs = self_times(spans, jobs)
    put("registry.build_ms", sum(selfs[s["id"]] for s in spans if s["name"] == "registry.build"), "ms")

    jobs_by_op = {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append((j["start"], j["end"]))
    job_ms = gap_ms = 0.0
    for o in ops:
        covered = union_length(jobs_by_op.get(o["id"], []), o["start"], o["end"])
        job_ms += covered
        gap_ms += (o["end"] - o["start"]) - covered
    sums = [0] * len(OP_FIELDS)
    for v in rec["op_metrics"].values():
        sums = [a + b for a, b in zip(sums, v)]
    m = dict(zip(OP_FIELDS, sums))
    put("exec.jobs", len(jobs), "count")
    put("exec.stages", m["stages"], "count")
    put("exec.tasks", m["tasks"], "count")
    put("exec.job_ms", job_ms, "ms")
    put("exec.driver_gap_ms", gap_ms, "ms")
    put("exec.task_ms", m["task_ms"], "ms")
    put("exec.task_cpu_ms", m["task_cpu_ns"] / 1e6, "ms")
    put("exec.slot_util", slot_util(m["task_ms"], job_ms, cores), "ratio", per_pass=False)
    for f in ["scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes"]:
        put("io." + f, m[f], "bytes")

    def span_ms(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    for call in LAKE_CALLS:
        # optimize and vacuum run once, after the last pass
        put("lake.%s_ms" % call, span_ms("lake." + call), "ms",
            per_pass=call not in ("optimize", "vacuum"))
    put("lake.self_ms", sum(selfs[s["id"]] for s in spans if s["name"].startswith("lake.")), "ms")
    facts = rec["facts"]
    stats = [s for s in facts.get("pass_stats", []) if s["pass"] >= 0]
    versions = sum(s["versions"] for s in stats)
    put("lake.commits", versions, "count")
    put("lake.commit_yield", commit_yield(versions, sum(s["mutations"] for s in stats)),
        "ratio", per_pass=False)
    put("lake.files_written", sum(s["files_written"] for s in stats), "count")
    # sizes after the final vacuum
    final = facts.get("final_stats", {})
    put("lake.data_bytes", final.get("data_bytes", 0), "bytes", per_pass=False)
    put("lake.log_bytes", final.get("log_bytes", 0), "bytes", per_pass=False)
    put("lake.bytes_per_user_byte",
        bytes_per_user_byte(final.get("lake_bytes", 0), final.get("user_bytes", 0)),
        "ratio", per_pass=False)
    for kind in ("commit", "read"):
        lat = op_latencies(rec, kind)
        for q in (50, 90):
            put("lake.%s_p%d_ms" % (kind, q), percentile(lat, q)[0] or 0.0, "ms", per_pass=False)

    for call in LLM_CALLS:
        put("llm.%s_ms" % call, span_ms("llm." + call), "ms")
    put("llm.self_ms", sum(selfs[s["id"]] for s in spans if s["name"].startswith("llm.")), "ms")
    put("llm.dup_pairs", facts.get("dup_pairs", 0), "count", per_pass=False)
    put("llm.survivors", facts.get("survivors", 0), "count", per_pass=False)
    put("llm.ann_recall", facts.get("ann_recall", 0.0), "ratio", per_pass=False)

    put("jvm.gc_ms", rec["gc_ms"], "ms")
    put("jvm.gc_count", rec["gc_count"], "count")
    put("jvm.jit_ms", rec["jit_ms"], "ms")

    # the untraced pass runs right after the last traced one
    put("trace.traced_pass_s", rec["pass_s"][-1], "s", per_pass=False)
    put("trace.untraced_pass_s", rec["untraced_pass_s"] or 0.0, "s", per_pass=False)
    return out
