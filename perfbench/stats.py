"""The benchmark's arithmetic: percentiles, span self time, recall, and the
mapping from one run's raw measurements to its reported metrics."""
import math
import statistics

# The operations behind the end-to-end metrics of each workload: the
# interactive query and the second operation (throughput is defined in
# end_to_end).
WORKLOADS = {
    "point_serve": {"query": "point", "second": "filtered"},
    "ingest_fresh": {"query": "fresh", "second": "compact"},
}

END_TO_END = ["setup_s", "build_s", "recall_at_10", "heap_mb", "ok_ratio",
              "query_p50_ms", "second_p50_ms", "throughput_per_s"]
UNITS = {"setup_s": "s", "build_s": "s", "recall_at_10": "ratio", "heap_mb": "MB",
         "ok_ratio": "ratio", "query_p50_ms": "ms", "second_p50_ms": "ms",
         "throughput_per_s": "1/s"}

SPARK_OPS = ["point", "filtered", "sql", "batch", "append", "fresh", "compact"]
SPARK_FIELDS = ["jobs", "stages", "tasks", "input_bytes", "shuffle_bytes", "scheduler_delay_ms"]
PER_LAYER = (
    ["functions.hamming_ns", "functions.exact_dist_ns", "functions.sbq_quantize_ns",
     "graph.search_us", "graph.filtered_search_us", "graph.nodes_visited",
     "graph.quantized_cmps", "graph.exact_cmps", "graph.ns_per_quantized_cmp",
     "vamana.insert_us",
     "index.point_glue_us", "index.build_train_s", "index.build_graph_s",
     "index.build_finalize_s", "index.bytes_per_row", "index.cache_entries",
     "index.cold_bytes_per_query",
     "plans.sql_plan_ms", "plans.sql_exec_ms", "plans.sql_search_ms", "plans.sql_fetch_ms",
     "streaming.append_ms", "streaming.delete_ms", "streaming.fresh_overhead_ms",
     "streaming.delta_rows", "streaming.compact_shards_rebuilt",
     "streaming.first_read_after_compact_ms"]
    + [f"spark.{op}.{f}" for op in SPARK_OPS for f in SPARK_FIELDS]
    + ["jvm.gc_ms", "trace.overhead_ratio", "trace.root_self_us",
       "query.samples", "query.tail_pct", "query.tail_ms"])


def layer_unit(name):
    """Unit of a per-layer metric, read from its name's suffix."""
    for suffix, unit in [("tail_pct", "percentile"), ("_ns", "ns"), ("ns_per_quantized_cmp", "ns"), ("_us", "us"),
                         ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("bytes_per_row", "bytes"), ("bytes_per_query", "bytes"),
                         ("_ratio", "ratio")]:
        if name.endswith(suffix):
            return unit
    return "count"


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_percentile(n, ladder=(50, 75, 90, 95, 99, 99.9)):
    """The highest percentile of the ladder with at least ten samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in ladder if beyond(n, p) >= 10]
    return ok[-1] if ok else None


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover. `spans` are (op, id, parent, name, start,
    end) tuples; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s[2], []).append(s)
    out = {}
    for op, sid, parent, name, start, end in spans:
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(children.get(sid, []), key=lambda c: c[4]):
            cs, ce = max(c[4], start), min(c[5], end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def recall(pairs):
    """Mean recall@k over (returned ids, exact top-k ids) pairs: the share of
    the exact top-k that the answer contains."""
    vals = [len(set(got) & set(want)) / len(want) for got, want in pairs if want]
    if not vals:
        raise ValueError("no recall pairs")
    return sum(vals) / len(vals)


def _ops(raw, kind):
    return raw["ops"].get(kind, {"lat_ms": [], "attempted": 0, "failed": 0})


def end_to_end(raw):
    """The end-to-end metrics of one untraced run."""
    w = WORKLOADS[raw["workload"]]
    v = raw["values"]
    q, second = _ops(raw, w["query"]), _ops(raw, w["second"])
    if raw["workload"] == "point_serve":
        done = len(q["lat_ms"]) + len(second["lat_ms"])
        throughput = done / v["window_s"]
    else:
        # sustained: rows appended per second of rounds that also serve the
        # reads and run the compaction
        throughput = 250 * len(_ops(raw, "append")["lat_ms"]) / v["window_s"]
    attempted = sum(o["attempted"] for o in raw["ops"].values())
    failed = sum(o["failed"] for o in raw["ops"].values())
    return {
        "setup_s": statistics.median(v["setup_s"]),
        "build_s": v["build_s"],
        "recall_at_10": recall(raw["recall"]),
        "heap_mb": v["heap_mb"],
        "ok_ratio": (attempted - failed) / attempted,
        "query_p50_ms": statistics.median(q["lat_ms"]),
        "second_p50_ms": statistics.median(second["lat_ms"]),
        "throughput_per_s": throughput,
    }


def tail(samples):
    """(samples, percentile, value) of the highest percentile with at least
    ten samples beyond it; percentile and value read 0 when even the median
    has fewer."""
    p = highest_percentile(len(samples))
    return len(samples), p or 0, percentile(samples, p) if p else 0.0


def _median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(raw):
    """The per-layer metrics of one traced run. A layer the workload does
    not exercise reads 0."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update(raw["layer"])
    spans = [tuple(s) for s in raw["spans"]]
    selfs = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s[0], []).append(s)
    roots = {op: next((s for s in ss if s[1] == op), None) for op, ss in by_op.items()}

    def dur(s):
        return s[5] - s[4]

    def per_op(root_name, f):
        vals = []
        for op, ss in by_op.items():
            r = roots[op]
            if r is None or r[3] != root_name:
                continue
            named = {}
            for s in ss:
                named.setdefault(s[3], []).append(dur(s))
            x = f(named)
            if x is not None:
                vals.append(x)
        return vals

    ns_ms, ns_us = 1e6, 1e3
    glue = per_op("point", lambda n: (n["DiskannIndex.searchPoint"][0] - sum(n.get("GraphSearcher.search", [])))
                  if "DiskannIndex.searchPoint" in n else None)
    out["index.point_glue_us"] = _median_or_zero(glue) / ns_us
    plan = per_op("sql", lambda n: n["SparkSession.sql"][0] + n["QueryExecution.executedPlan"][0]
                  if "QueryExecution.executedPlan" in n else None)
    execs = per_op("sql", lambda n: n["Dataset.collect"][0] if "Dataset.collect" in n else None)
    search = per_op("sql", lambda n: n["StreamingIngest.searchFresh"][0]
                    if "StreamingIngest.searchFresh" in n else None)
    fetch = per_op("sql", lambda n: n["Dataset.collect"][0] - n["StreamingIngest.searchFresh"][0]
                   if "StreamingIngest.searchFresh" in n and "Dataset.collect" in n else None)
    out["plans.sql_plan_ms"] = _median_or_zero(plan) / ns_ms
    out["plans.sql_exec_ms"] = _median_or_zero(execs) / ns_ms
    out["plans.sql_search_ms"] = _median_or_zero(search) / ns_ms
    out["plans.sql_fetch_ms"] = _median_or_zero(fetch) / ns_ms
    for metric, root, name in [("streaming.append_ms", "append", "StreamingIngest.appendBatchToDelta"),
                               ("streaming.delete_ms", "delete", "DiskannIndex.deleteRows")]:
        out[metric] = _median_or_zero(per_op(root, lambda n: n[name][0] if name in n else None)) / ns_ms

    # tracing overhead: the query op of the traced half against the same op
    # in the untraced half, which does the same work without spans
    q = WORKLOADS[raw["workload"]]["query"]
    traced, untraced = _ops(raw, q)["lat_ms"], _ops(raw, q + ".untraced")["lat_ms"]
    out["query.samples"], out["query.tail_pct"], out["query.tail_ms"] = tail(untraced)
    if traced and untraced:
        out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced) - 1.0
    out["trace.root_self_us"] = _median_or_zero([selfs[op] for op, r in roots.items() if r]) / ns_us
    return {name: out[name] for name in PER_LAYER}
