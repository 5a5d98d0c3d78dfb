"""Turns the JVM's raw run records into the benchmark's metrics.

Pure functions over the JSON `perfbench.Main` writes: the median rule,
call-site attribution of Spark jobs to the library's modules, self
time per layer, and the end-to-end and per-layer metric sets.
"""
import statistics

# Layers, named after the library's modules; "harness" is the
# benchmark's own time between the spans it opens.
LAYERS = ("tables", "queries", "operators", "catalyst", "exec",
          "streaming", "lake", "harness")

# First matching frame prefix of a job's call stack -> layer.
FRAME_LAYERS = (
    ("graft.Tables", "tables"),
    ("graft.operators.", "operators"),
    ("graft.lake.", "lake"),
    ("graft.streaming.", "streaming"),
    ("graft.", "queries"),
    ("perfbench.", "exec"),
)

LAKE_CALLS = {
    "LakeTable.append": "lake.append_ms",
    "LakeTable.merge": "lake.merge_ms",
    "LakeTable.deleteWhereMor": "lake.delete_mor_ms",
    "LakeTable.compact": "lake.compact_ms",
    "LakeTable.scanPruned": "lake.scan_pruned_ms",
    "LakeTable.scan": "lake.scan_ms",
    "LakeTable.snapshot": "lake.snapshot_ms",
}


def job_layer(callsite_long, callsite_short="", stream=False):
    """The module a Spark job is attributed to.

    Micro-batch jobs belong to streaming. Otherwise the innermost
    library or harness frame of the job's call stack decides; a stack
    with neither falls back to the short call site's file name
    (`Tables.scala` is the tables layer), then to exec.
    """
    if stream:
        return "streaming"
    for line in (callsite_long or "").splitlines():
        frame = line.strip()
        for prefix, layer in FRAME_LAYERS:
            if frame.startswith(prefix):
                return layer
    if " at Tables.scala:" in (callsite_short or ""):
        return "tables"
    return "exec"


def nest(root, spans):
    """Depth of each span under `root` by interval containment: a
    span's parent is the innermost span that contains it whole; spans
    that contain nothing but the root sit at depth 1. Returns a list of
    depths aligned with `spans`."""
    order = sorted(range(len(spans)),
                   key=lambda i: (spans[i]["start"], -spans[i]["end"]))
    depth = [0] * len(spans)
    stack = []  # indices of open candidate parents
    for i in order:
        s = spans[i]
        while stack and spans[stack[-1]]["end"] <= s["start"]:
            stack.pop()
        parent_depth = 0
        for j in reversed(stack):
            if spans[j]["start"] <= s["start"] and s["end"] <= spans[j]["end"]:
                parent_depth = depth[j]
                break
        depth[i] = parent_depth + 1
        stack.append(i)
    return depth


def self_times(root, spans):
    """Exclusive time per layer inside `root` (a span with start/end).

    The root's interval is cut at every span boundary; each piece goes
    to the deepest span covering it (split evenly between equally deep
    spans, e.g. concurrent jobs), or to the root's own layer when no
    span covers it. For properly nested spans this is each span's
    duration minus the part its children cover, and the layers' times
    always sum to the root's duration.
    """
    clipped = []
    for s in spans:
        a, b = max(s["start"], root["start"]), min(s["end"], root["end"])
        if b > a:
            clipped.append({"start": a, "end": b, "layer": s["layer"]})
    depth = nest(root, clipped)
    cuts = sorted({root["start"], root["end"]} |
                  {s["start"] for s in clipped} | {s["end"] for s in clipped})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [i for i, s in enumerate(clipped) if s["start"] <= a and b <= s["end"]]
        if not live:
            out[root["layer"]] = out.get(root["layer"], 0) + (b - a)
            continue
        deepest = max(depth[i] for i in live)
        owners = [clipped[i]["layer"] for i in live if depth[i] == deepest]
        for layer in owners:
            out[layer] = out.get(layer, 0) + (b - a) / len(owners)
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _walls(ops):
    return [(o["end_us"] - o["start_us"]) / 1e6 for o in ops]


def client(ops):
    """Median op wall (the mean of the two middle walls for an even
    count) and ops per second of op wall, with units. Not end-to-end
    metrics: on a shared host they follow the hypervisor's CPU steal
    (see README.md), so they are reported without a bound."""
    walls = _walls(ops)
    return {
        "latency_p50_s": (_median(walls), "s"),
        "throughput_ops_s": (len(walls) / sum(walls), "1/s"),
    }


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, with units."""
    ops = raw["ops"]
    return {
        # the JIT compiler's CPU is JVM warm-up still running after the
        # warm-up pass, not the program's work (see README.md)
        "cpu_s_per_op": (sum(o["cpu_s"] - o["jit_cpu_s"] for o in ops) / len(ops), "s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        "setup_s": ((raw["first_op_ms"] - raw["spawn_ms"]) / 1000.0, "s"),
    }


def tracing_overhead(traced, plain):
    """(median over request keys of traced minus untraced median wall,
    median over the same keys of the untraced median wall), in seconds.
    Pairing by key compares the same request with and without
    listeners; keys run only one way are left out."""
    def by_key(ops):
        out = {}
        for o, w in zip(ops, _walls(ops)):
            out.setdefault(o["key"], []).append(w)
        return {k: statistics.median(ws) for k, ws in out.items()}
    t, p = by_key(traced), by_key(plain)
    keys = sorted(t.keys() & p.keys())
    if not keys:
        return 0.0, 0.0
    return (statistics.median(t[k] - p[k] for k in keys),
            statistics.median(p[k] for k in keys))


def per_layer(raw):
    """The per-layer metrics of a traced run, with units. Counts and
    times are per traced operation unless the name says otherwise."""
    traced = [o for o in raw["ops"] if o["traced"]]
    plain = [o for o in raw["ops"] if not o["traced"]]
    spans = [dict(s, start=s["start_us"], end=s["end_us"],
                  layer=s["layer"] or job_layer(s.get("callsite_long"),
                                                s.get("callsite_short"),
                                                s.get("stream", False)))
             for s in raw["spans"]]
    n = max(1, len(traced))
    per_op = []
    for o in traced:
        root = {"start": o["start_us"], "end": o["end_us"], "layer": "harness"}
        # listener times are whole milliseconds: allow one either side
        mine = [s for s in spans
                if root["start"] - 1000 <= s["start"] <= root["end"] + 1000]
        per_op.append((o, root, mine))

    def jobs(layer):
        return [s for _, _, ss in per_op for s in ss
                if s["name"] == "job" and s["layer"] == layer]

    def ms(ss):
        return sum(s["end"] - s["start"] for s in ss) / 1000.0

    def job_sum(layer, field):
        return sum(s.get(field, 0) for s in jobs(layer))

    m = {}
    for layer, names in (("tables", ("tables.schema_jobs", "tables.schema_ms")),
                         ("operators", ("operators.eager_jobs", "operators.eager_ms"))):
        m[names[0]] = (len(jobs(layer)) / n, "count/op")
        m[names[1]] = (ms(jobs(layer)) / n, "ms/op")
    selfs = [self_times(root, ss) for _, root, ss in per_op]
    for layer in LAYERS:
        # the queries layer's self time is the build's own time
        name = "queries.build_ms" if layer == "queries" else "self." + layer + "_ms"
        m[name] = (sum(st.get(layer, 0) for st in selfs) / 1000.0 / n, "ms/op")
    m["queries.build_jobs"] = (len(jobs("queries")) / n, "count/op")
    m["operators.persisted_rdds"] = (_mean(o["persisted_rdds"] for o in traced), "count/op")

    phases = [s for _, _, ss in per_op for s in ss if s["layer"] == "catalyst"]
    for phase in ("analysis", "optimization", "planning"):
        m["catalyst." + phase + "_ms"] = (ms(s for s in phases if s["name"] == phase) / n, "ms/op")
    m["codegen.compile_ms"] = (_mean(o["codegen_ms"] for o in traced), "ms/op")
    m["codegen.classes"] = (_mean(o["codegen_classes"] for o in traced), "count/op")
    m["jvm.jit_cpu_ms"] = (_mean(o["jit_cpu_s"] * 1000.0 for o in traced), "ms/op")

    m["exec.jobs"] = (len(jobs("exec")) / n, "count/op")
    for field, unit in (("stages", "count/op"), ("tasks", "count/op"),
                        ("task_ms", "ms/op"), ("sched_delay_ms", "ms/op"),
                        ("shuffle_write_bytes", "bytes/op"),
                        ("shuffle_read_bytes", "bytes/op"),
                        ("spill_bytes", "bytes/op"), ("gc_ms", "ms/op"),
                        ("input_bytes", "bytes/op")):
        m["exec." + field] = (job_sum("exec", field) / n, unit)
    m["exec.peak_exec_mem_mb"] = (_mean(
        max([s.get("peak_exec_mem_bytes", 0) for s in ss
             if s["name"] == "job" and s["layer"] == "exec"] or [0])
        for _, _, ss in per_op) / 2**20, "MB")
    exec_wall = ms(s for _, _, ss in per_op for s in ss
                   if s["name"] != "job" and s["layer"] == "exec")
    m["exec.busy_ratio"] = (job_sum("exec", "task_ms") / (exec_wall * raw["cores"])
                            if exec_wall else 0.0, "ratio")

    batches = [s for _, _, ss in per_op for s in ss if s["name"] == "micro_batch"]
    m["stream.batches"] = (len(batches) / n, "count/op")
    m["stream.data_batch_ratio"] = (
        sum(1 for b in batches if b["input_rows"] > 0) / len(batches)
        if batches else 0.0, "ratio")
    m["stream.trigger_ms_p50"] = (_median((b["end"] - b["start"]) / 1000.0
                                          for b in batches), "ms")
    for field in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms"):
        m["stream." + field] = (sum(b[field] for b in batches) / n, "ms/op")
    m["state.commit_ms"] = (sum(b["state_commit_ms"] for b in batches) / n, "ms/op")
    m["state.rows_total"] = (_mean(max([b["state_rows_total"] for b in ss
                                        if b["name"] == "micro_batch"] or [0])
                                   for _, _, ss in per_op), "rows")
    m["state.mem_bytes"] = (_mean(max([b["state_mem_bytes"] for b in ss
                                       if b["name"] == "micro_batch"] or [0])
                                  for _, _, ss in per_op), "bytes")

    for call, name in LAKE_CALLS.items():
        m[name] = (_median((s["end"] - s["start"]) / 1000.0 for _, _, ss in per_op
                           for s in ss if s["name"] == call), "ms")
    plain_walls = {k: [w for o, w in zip(plain, _walls(plain)) if o["kind"] == k]
                   for k in ("write", "read")}
    m["lake.write_p50_s"] = (_median(plain_walls["write"]), "s")
    m["lake.read_p50_s"] = (_median(plain_walls["read"]), "s")
    st = raw.get("stats", {})
    m["lake.versions"] = (st.get("lake_versions", 0), "count")
    m["lake.files_added"] = (st.get("lake_adds", 0), "count")
    m["lake.files_rewritten"] = (st.get("lake_removes", 0), "count")
    reads = [o for o in raw["ops"] if o.get("files_total")]
    m["lake.files_read_ratio"] = (
        sum(o["files_read"] for o in reads) / sum(o["files_total"] for o in reads)
        if reads else 0.0, "ratio")
    m["lake.log_bytes"] = (st.get("lake_log_bytes", 0), "bytes")
    m["lake.data_bytes"] = (st.get("lake_data_bytes", 0), "bytes")
    live = st.get("lake_live_rows", 0)
    m["lake.space_bytes_per_row"] = (
        (st.get("lake_log_bytes", 0) + st.get("lake_data_bytes", 0)) / live
        if live else 0.0, "bytes/row")

    wall = sum(r["end"] - r["start"] for _, r, _ in per_op)
    m["trace.unattributed_ratio"] = (
        sum(st_.get("harness", 0) for st_ in selfs) / wall if wall else 0.0, "ratio")
    over, base = tracing_overhead(traced, plain)
    m["trace.overhead_ms"] = (over * 1000.0, "ms")
    m["trace.overhead_ratio"] = (over / base if base else 0.0, "ratio")
    m["trace.ops"] = (len(traced), "count")
    for name, value in client(plain).items():
        m["client." + name] = value
    return m
