"""Metric arithmetic over one run record (`run.json` written by the JVM).

Pure functions, no Spark and no I/O, so `tests/` can pin them:
percentiles and the tail rule, span self time, the union of task
intervals inside a span, attribution of engine events to spans, and
the end-to-end and per-layer metrics.
"""
import statistics

# ---------------------------------------------------------------- percentiles


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (value, percentile, n). None when n <= beyond."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    k = n - beyond - 1  # s[k] has exactly `beyond` samples after it
    return s[k], 100.0 * (k + 1) / n, n


# ------------------------------------------------------------------- intervals


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given. Overlaps count once."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id, in seconds: the span's duration minus the
    part of its interval that its direct children cover. Children may
    overlap each other; covered time counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered_ms = union_length([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                                  s["start_ms"], s["end_ms"])
        out[s["id"]] = max(0.0, s["dur_s"] - covered_ms / 1000.0)
    return out


def descendants(spans):
    """span id -> set of ids in its subtree (itself included)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i in out:
            return out[i]
        acc = {i}
        for k in kids.get(i, []):
            acc |= walk(k)
        out[i] = acc
        return acc

    for s in spans:
        walk(s["id"])
    return out


def innermost(spans, t_ms):
    """The innermost span whose interval holds `t_ms`, or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"] and s["end_ms"] <= best["end_ms"]:
                best = s
    return best


def attribute(rec):
    """Map every stage, query execution and block event to a span id.

    Jobs carry the span's job group; a job under another group (a
    streaming query sets its own) falls back to the innermost span
    open at its submission time. Query executions and block events
    carry no group and are attributed by time: the client is single
    threaded and span boundaries drain the listener bus."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    stage_span = {}
    for j in rec["jobs"]:
        g = j.get("group") or ""
        sid = None
        if g.startswith("span-") and int(g[5:]) in by_id:
            sid = int(g[5:])
        else:
            s = innermost(spans, j["t_ms"])
            sid = s["id"] if s else None
        for st in j["stages"]:
            stage_span.setdefault(st, sid)
    stages = [dict(st, span=stage_span.get(st["stage"])) for st in rec["stages"]]
    queries = []
    for q in rec["queries"]:
        s = innermost(spans, q["t_ms"])
        queries.append(dict(q, span=s["id"] if s else None))
    blocks = []
    for b in rec["blocks"]:
        s = innermost(spans, b["t_ms"])
        blocks.append(dict(b, span=s["id"] if s else None))
    return stages, queries, blocks


# ---------------------------------------------------------------------- metrics

E2E = ("setup_s", "wall_s", "retained_heap_mb")


def end_to_end(rec, setup_s):
    """Metrics a user sees, from untraced passes only."""
    untraced = [p for p in rec["passes"] if not p["traced"]]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median([p["wall_s"] for p in untraced]), "s"),
        "retained_heap_mb": (median([p["retained_heap_mb"] for p in untraced]), "MiB"),
    }


def named(rec, docs=None):
    """The workload-named end-to-end figures of the report, with sample
    counts. Only the classes the workload issues appear."""
    out = {}
    by = {}
    for r in rec["requests"]:
        if not r["traced"]:
            by.setdefault(r["cls"], []).append(r["s"])

    def p50(name, cls):
        if cls in by:
            out[name] = {"value": median(by[cls]), "unit": "s", "n": len(by[cls])}

    def tl(name, cls):
        t = tail(by.get(cls, []))
        if t:
            out[name] = {"value": t[0], "unit": "s", "percentile": round(t[1], 2), "n": t[2]}
        elif cls in by:
            out[name] = {"value": None, "unit": "s", "n": len(by[cls]),
                         "note": "fewer than 11 samples: no percentile has 10 beyond it"}

    p50("bulk_s", "bulk")
    p50("increment_p50_s", "increment")
    p50("hop_p50_s", "hop")
    tl("hop_tail_s", "hop")
    p50("hop_json_p50_s", "hop_json")
    all_lat = [x for v in by.values() for x in v]
    out["request_p50_s"] = {"value": median(all_lat), "unit": "s", "n": len(all_lat)}
    t = tail(all_lat)
    out["request_tail_s"] = ({"value": t[0], "unit": "s", "percentile": round(t[1], 2), "n": t[2]}
                             if t else {"value": None, "unit": "s", "n": len(all_lat)})
    if docs and "curate" in by:
        out["curated_docs_per_s"] = {"value": docs / median(by["curate"]), "unit": "docs/s",
                                     "n": len(by["curate"]), "docs": docs}
    b = [x["batch_s"] for x in rec["batches"] if not x["traced"]]
    if b:
        out["ingest_batch_p50_s"] = {"value": median(b), "unit": "s", "n": len(b)}
    return out


PIPELINES = ("pipelines.bulk", "pipelines.etlIncrement", "pipelines.hopQuery",
             "pipelines.hopQueryJson", "pipelines.curate")
SINK_SPANS = {"sinks.rdf_write": "sinks.rdf_write_s", "sinks.state_write": "sinks.state_write_s"}
# GraphOps calls on the benchmarked workloads; graph_iter (run by hand)
# also reports the calls only it makes
GRAPH_OPS = ("pageRank", "kCorePeel")
GRAPH_ITER_OPS = ("louvain", "sgnsTrain", "coOccurrencePairs")
CURATE_STAGES = ("operators.TextOps.qualityScore", "operators.TextOps.repetitionStats",
                 "operators.Dedup.contamination", "operators.Dedup.exactDedup",
                 "operators.Dedup.simhashSignatures", "operators.Dedup.simhashPairs",
                 "operators.Dedup.connectedComponents", "operators.TextOps.hashSplit",
                 "operators.Similarity.cosineNearDupPairs")
FUNCTIONS = ("functions.shingleHashes_rows_per_s", "functions.portableHash_rows_per_s")

PER_LAYER = tuple(
    ["spark.plan_s", "spark.no_task_s", "spark.jobs", "spark.stages", "spark.tasks",
     "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.core_util", "spark.spill_bytes",
     "spark.task_skew", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
     "spark.shuffle_fetch_wait_s", "spark.broadcast_joins", "spark.shuffle_joins",
     "sources.input_bytes", "sources.input_rows", "sources.rows_examined_per_result"]
    + [f"{m}{sfx}" for m in PIPELINES for sfx in ("_s", "_self_s")]
    + ["sinks.rdf_write_s", "sinks.state_write_s", "sinks.bytes_written", "sinks.files_written"]
    + [f"operators.GraphOps.{o}{sfx}" for o in GRAPH_OPS for sfx in ("_s", "_jobs")]
    + ["checkpoints.blocks_created", "checkpoints.bytes_created",
       "checkpoints.blocks_held_after", "checkpoints.bytes_held_after",
       "checkpoints.release_ratio"]
    + [f"{s}_s" for s in CURATE_STAGES] + ["dedup.pair_yield"]
    + list(FUNCTIONS)
    + ["streaming.batch_s", "streaming.input_rows_per_s",
       "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_ratio",
       "jvm.peak_rss_mb"])

def unit_of(name):
    if name.endswith("_mb"):
        return "MiB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_util", "_skew", "_yield")):
        return "ratio"
    return "count"


def _stage_wall(st):
    return max(0, st.get("complete_ms", 0) - st.get("submit_ms", 0))


def per_layer(rec, cores):
    """Per-layer metrics from traced passes (medians over them), plus
    the layer probes, plus tracing overhead."""
    spans = rec["spans"]
    stages, queries, blocks = attribute(rec)
    selfs = self_times(spans)
    subtree = descendants(spans)
    by_id = {s["id"]: s for s in spans}
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        pid = p["pass"]
        ps = [s for s in spans if s["pass"] == pid]
        ids = {s["id"] for s in ps}
        pst = [st for st in stages if st["span"] in ids]
        pq = [q for q in queries if q["span"] in ids]
        pb = [b for b in blocks if b["span"] in ids]
        tops = [s for s in ps if s["parent"] == 0]
        m = {}
        tasks = [t for st in pst for t in st["tasks"]]
        m["spark.plan_s"] = sum(q["plan_s"] for q in pq)
        no_task = 0.0
        for s in tops:
            sub = subtree[s["id"]]
            iv = [(t[0], t[1]) for st in pst if st["span"] in sub for t in st["tasks"]]
            no_task += max(0.0, s["dur_s"] - union_length(iv, s["start_ms"], s["end_ms"]) / 1000)
        m["spark.no_task_s"] = no_task
        job_ids = {j["job"] for j in rec["jobs"]
                   if any(st["stage"] in j["stages"] for st in pst)}
        m["spark.jobs"] = len(job_ids)
        m["spark.stages"] = len(pst)
        m["spark.tasks"] = len(tasks)
        m["spark.task_s"] = sum(st.get("run_ms", 0) for st in pst) / 1000
        m["spark.cpu_s"] = sum(st.get("cpu_ns", 0) for st in pst) / 1e9
        m["spark.gc_s"] = sum(st.get("gc_ms", 0) for st in pst) / 1000
        m["spark.core_util"] = m["spark.task_s"] / (p["wall_s"] * cores) if p["wall_s"] else 0.0
        m["spark.spill_bytes"] = sum(st.get("spill_bytes", 0) for st in pst)
        longest = max(pst, key=_stage_wall, default=None)
        if longest and longest["tasks"]:
            d = [t[1] - t[0] for t in longest["tasks"]]
            m["spark.task_skew"] = max(d) / max(1e-9, median(d))
        else:
            m["spark.task_skew"] = 0.0
        m["spark.shuffle_write_bytes"] = sum(st.get("shuffle_write_bytes", 0) for st in pst)
        m["spark.shuffle_read_bytes"] = sum(st.get("shuffle_read_bytes", 0) for st in pst)
        m["spark.shuffle_fetch_wait_s"] = sum(st.get("fetch_wait_ms", 0) for st in pst) / 1000
        m["spark.broadcast_joins"] = sum(q["broadcast_joins"] for q in pq)
        m["spark.shuffle_joins"] = sum(q["shuffle_joins"] for q in pq)
        m["sources.input_bytes"] = sum(st.get("input_bytes", 0) for st in pst)
        m["sources.input_rows"] = sum(st.get("input_rows", 0) for st in pst)
        examined = []
        for s in ps:
            if s.get("rows_out", 0) > 0:
                top = s
                while top["parent"] != 0:
                    top = by_id[top["parent"]]
                sub = subtree[top["id"]]
                rows_in = sum(st.get("input_rows", 0) for st in pst if st["span"] in sub)
                examined.append(rows_in / s["rows_out"])
        m["sources.rows_examined_per_result"] = median(examined)

        def calls(name):
            return [s for s in ps if s["name"] == name]

        for name in PIPELINES:
            c = calls(name)
            m[f"{name}_s"] = median([s["dur_s"] for s in c])
            m[f"{name}_self_s"] = median([selfs[s["id"]] for s in c])
        for name, key in SINK_SPANS.items():
            m[key] = median([s["dur_s"] for s in calls(name)])
        m["sinks.bytes_written"] = sum(st.get("output_bytes", 0) for st in pst)
        m["sinks.files_written"] = sum(s.get("files_written", 0) for s in ps)
        for o in GRAPH_OPS + GRAPH_ITER_OPS:
            c = calls(f"operators.GraphOps.{o}")
            if not c and o in GRAPH_ITER_OPS:
                continue
            m[f"operators.GraphOps.{o}_s"] = median([s["dur_s"] for s in c])
            njobs = []
            for s in c:
                sub = subtree[s["id"]]
                njobs.append(len({j["job"] for j in rec["jobs"] for st in pst
                                  if st["span"] in sub and st["stage"] in j["stages"]}))
            m[f"operators.GraphOps.{o}_jobs"] = median(njobs)
        seen, created_bytes = set(), 0
        for b in pb:
            if b["valid"] and b["block"] not in seen:
                seen.add(b["block"])
                created_bytes += b["bytes"]
        # a removal is not reported per block, so what the pass released
        # is what it created minus what it still holds at its end
        kept = max(0, p["blocks_held_after"] - p.get("blocks_held_before", 0))
        m["checkpoints.blocks_created"] = len(seen)
        m["checkpoints.bytes_created"] = created_bytes
        m["checkpoints.blocks_held_after"] = p["blocks_held_after"]
        m["checkpoints.bytes_held_after"] = p["bytes_held_after"]
        m["checkpoints.release_ratio"] = max(0, len(seen) - kept) / len(seen) if seen else 0.0
        m["operators.Similarity.cosineNearDupPairs_s"] = median(
            [s["dur_s"] for s in calls("operators.Similarity.cosineNearDupPairs")])
        b = [x for x in rec["batches"] if x["pass"] == pid]
        m["streaming.batch_s"] = median([x["batch_s"] for x in b])
        bs = sum(x["batch_s"] for x in b)
        m["streaming.input_rows_per_s"] = sum(x["rows"] for x in b) / bs if bs else 0.0
        per_pass.append(m)

    out = {}
    for k in per_pass[0] if per_pass else []:
        out[k] = median([m[k] for m in per_pass])
    probe_spans = [s for s in spans if s["pass"] == -1]
    for st in CURATE_STAGES[:-1]:
        out[f"{st}_s"] = median([s["dur_s"] for s in probe_spans if s["name"] == st])
    probes = rec.get("probes", {})
    for k in FUNCTIONS + ("dedup.pair_yield",):
        out[k] = probes.get(k, 0.0)
    tw = median([p["wall_s"] for p in traced])
    uw = median([p["wall_s"] for p in untraced])
    out["trace.wall_s"] = tw
    out["trace.untraced_wall_s"] = uw
    out["trace.overhead_ratio"] = tw / uw if uw else 0.0
    # the collector sizes the heap by allocation and timing, so the
    # resident set is the runtime's figure, not the program's
    out["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    extra = [k for k in out if k.startswith(tuple(f"operators.GraphOps.{o}_" for o in GRAPH_ITER_OPS))]
    return {k: (float(out.get(k, 0.0)), unit_of(k)) for k in PER_LAYER + tuple(extra)}


def breakdown(rec, span_id):
    """One request split into planning, task time and driver gaps, with
    its stages and child spans, from the run record alone."""
    spans = rec["spans"]
    stages, queries, _ = attribute(rec)
    sub = descendants(spans)[span_id]
    s = next(x for x in spans if x["id"] == span_id)
    st = [x for x in stages if x["span"] in sub]
    iv = [(t[0], t[1]) for x in st for t in x["tasks"]]
    busy = union_length(iv, s["start_ms"], s["end_ms"]) / 1000
    plan = sum(q["plan_s"] for q in queries if q["span"] in sub)
    selfs = self_times(spans)
    return {
        "span": s["name"], "wall_s": s["dur_s"], "plan_s": plan, "tasks_busy_s": busy,
        "no_task_s": max(0.0, s["dur_s"] - busy),
        "driver_gap_s": s["dur_s"] - busy - plan,
        "children": [{"span": c["name"], "dur_s": c["dur_s"], "self_s": selfs[c["id"]]}
                     for c in spans if c["parent"] == span_id],
        "stages": [{"stage": x["stage"], "name": x.get("name", ""), "tasks": len(x["tasks"]),
                    "wall_s": _stage_wall(x) / 1000, "task_s": x.get("run_ms", 0) / 1000}
                   for x in sorted(st, key=lambda x: x.get("submit_ms", 0))],
    }
