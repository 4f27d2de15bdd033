"""Per-layer metrics from the traced in-process replay (perfbench.Trace).

Each metric names a layer by its module (sexp, server, drl, catalog, scl,
dml, icl, dcl, persist = engine/Persist, operators, pipeline, streaming,
spark). A call a workload never makes reads 0: e.g. no `persist.*` work
on memory storage, no `operators.*` work on a server workload.
"""

import json
import os
import statistics

import stats
import workloads

PER_LAYER = {
    "sexp.parse_us": "us",
    "server.handle_ms": "ms",
    "server.wire_ms": "ms",
    "server.queue_ms": "ms",
    "server.conflict_retries": "count",
    "server.commit_success_ratio": "ratio",
    "drl.parse_us": "us",
    "drl.gate_ms": "ms",
    "drl.compile_ms": "ms",
    "catalog.resolves_per_read": "count",
    "spark.plan_ms": "ms",
    "spark.jobs_per_read": "count",
    "spark.jobs_per_write": "count",
    "scl.begin_ms": "ms",
    "scl.fetch_ms": "ms",
    "dml.insert_tuple_ms": "ms",
    "dml.delete_tuple_ms": "ms",
    "icl.validate_insert_ms": "ms",
    "dml.insert_from_ms": "ms",
    "dml.delete_where_ms": "ms",
    "dcl.diff_ms": "ms",
    "dcl.merge_ms": "ms",
    "server.commit_ms": "ms",
    "persist.save_snapshot_ms": "ms",
    "persist.store_file_ms": "ms",
    "persist.reopen_ms": "ms",
    "persist.bytes_per_commit": "bytes",
    "persist.files_per_commit": "count",
    "persist.restore_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_cpu_s": "s",
    "spark.driver_gap_s": "s",
    "spark.peak_cached_bytes": "bytes",
    **{f"{m}.{q}_s": "s" for m, q in workloads.BATCH_QUERIES},
    "batch.pass_s": "s",
    "batch.spark_jobs": "count",
    "batch.shuffle_write_bytes": "bytes",
    "trace.coverage": "ratio",
    "trace.overhead_ms": "ms",
    "trace.spans_per_request": "count",
    "peak_rss_mb": "MB",
    "host.calibration_ms": "ms",
}

# span name -> (metric, scale from ns)
SPAN_TIMES = {
    "sexp.parse": ("sexp.parse_us", 1e3), "drl.parse": ("drl.parse_us", 1e3),
    "drl.gate": ("drl.gate_ms", 1e6), "drl.compile": ("drl.compile_ms", 1e6),
    "scl.begin": ("scl.begin_ms", 1e6), "scl.fetch": ("scl.fetch_ms", 1e6),
    "dml.insert_tuple": ("dml.insert_tuple_ms", 1e6),
    "dml.delete_tuple": ("dml.delete_tuple_ms", 1e6),
    "icl.validate_insert": ("icl.validate_insert_ms", 1e6),
    "dml.insert_from": ("dml.insert_from_ms", 1e6),
    "dml.delete_where": ("dml.delete_where_ms", 1e6),
    "dcl.diff": ("dcl.diff_ms", 1e6), "dcl.merge": ("dcl.merge_ms", 1e6),
    "server.commit": ("server.commit_ms", 1e6),
    "persist.save_snapshot": ("persist.save_snapshot_ms", 1e6),
    "persist.store_file": ("persist.store_file_ms", 1e6),
    "persist.reopen": ("persist.reopen_ms", 1e6),
}
READS = ("sel", "begin")
WRITES = ("ins", "del", "insert_from", "delete_where", "merge")
# request kinds of the measured phases (a drain is its begin and fetches)
TIMED = READS + WRITES + ("fetch", "close", "drain")
# Spark counter slots written by Trace.scala after the span columns
SLOTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
         "spill_bytes", "cpu_ns", "job_ns")


def load_spans(path):
    spans = []
    with open(path) as f:
        for ln in f:
            p = ln.rstrip("\n").split("\t")
            spans.append({"req": int(p[0]), "id": int(p[1]), "parent": int(p[2]),
                          "name": p[3], "kind": p[4], "start": int(p[5]), "end": int(p[6]),
                          **{k: int(v) for k, v in zip(SLOTS, p[7:])}})
    return spans


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def per_kind_diff(a, b, least=1):
    """Sample-weighted mean over kinds of median(a[k]) - median(b[k]),
    over the kinds with at least `least` samples on both sides."""
    total = n = 0
    for k in a:
        if len(a[k]) >= least and len(b.get(k, [])) >= least:
            total += (med(a[k]) - med(b[k])) * len(a[k])
            n += len(a[k])
    return total / n if n else 0.0


def split_walls(walls, timed_kinds):
    """In-process walls in ms by kind: (traced, bare)."""
    traced, bare = {}, {}
    for _, k, ns, on in walls:
        if k in timed_kinds:
            (traced if on else bare).setdefault(k, []).append(ns / 1e6)
    return traced, bare


def untraced_gaps(walls, timed_kinds):
    """Kinds the traced replay ran only traced: the tracing overhead
    would leave them out."""
    traced, bare = split_walls(walls, timed_kinds)
    return sorted(set(traced) - set(bare))


def layer_metrics(spans, side, timed_kinds, wire):
    """Per-layer metrics from spans (measured phase) and the side file.

    `wire` holds the untraced wire run's latencies in ms: `solo` (one
    connection) and `loaded` (the measured phase), each by kind.
    `side["handles"]` holds the times of the server's own
    `Listener.handle` on the same requests."""
    m = {}
    requests = [s for s in spans if s["name"] == "request" and s["req"] > 0
                and s["kind"] in timed_kinds]
    req_ids = {s["req"] for s in requests}
    in_req = [s for s in spans if s["req"] in req_ids]
    for name, (metric, scale) in SPAN_TIMES.items():
        xs = [(s["end"] - s["start"]) / scale for s in spans if s["name"] == name
              and (s["req"] in req_ids or -s["req"] in req_ids)]
        m[metric] = med(xs)

    by_req = {}
    for s in in_req:
        by_req.setdefault(s["req"], []).append(s)
    kind = {s["req"]: s["kind"] for s in requests}

    def per_req(fn, kinds):
        return mean([fn(by_req[r]) for r in by_req if kind[r] in kinds])

    def total(slot):
        return lambda ss: sum(s[slot] for s in ss)

    m["spark.jobs_per_read"] = per_req(total("jobs"), READS)
    m["spark.jobs_per_write"] = per_req(total("jobs"), WRITES)
    for slot, metric, scale in (("jobs", "spark.jobs", 1), ("stages", "spark.stages", 1),
                                ("tasks", "spark.tasks", 1),
                                ("shuffle_write_bytes", "spark.shuffle_write_bytes", 1),
                                ("shuffle_read_bytes", "spark.shuffle_read_bytes", 1),
                                ("spill_bytes", "spark.spill_bytes", 1),
                                ("cpu_ns", "spark.task_cpu_s", 1e9)):
        m[metric] = per_req(total(slot), timed_kinds) / scale
    # time a request spends outside Spark jobs; jobs of one request can
    # overlap, so the gap is floored at zero
    m["spark.driver_gap_s"] = mean([
        max(0, (r["end"] - r["start"]) - sum(s["job_ns"] for s in by_req[r["req"]])) / 1e9
        for r in requests])

    # coverage: the share of the median request's wall that its layer
    # spans account for (1 - the request span's own self time)
    selfs = stats.self_times({s["id"]: (s["parent"] or None, s["start"], s["end"])
                              for s in in_req})
    by_wall = sorted(requests, key=lambda r: r["end"] - r["start"])
    if by_wall:
        r = by_wall[len(by_wall) // 2]
        m["trace.coverage"] = 1 - selfs[r["id"]] / max(r["end"] - r["start"], 1)
    else:
        m["trace.coverage"] = 0.0
    m["trace.spans_per_request"] = len(in_req) / max(len(requests), 1)

    traced, bare = split_walls(side["walls"], timed_kinds)
    m["trace.overhead_ms"] = per_kind_diff(traced, bare)
    handles = {}
    for k, ns in side["handles"]:
        if k in timed_kinds:
            handles.setdefault(k, []).append(ns / 1e6)
    m["server.handle_ms"] = med([x for k in handles for x in handles[k]])
    # across processes, only kinds with enough samples to outweigh their
    # different warm-up; a drain is one wire op but several requests here
    m["server.wire_ms"] = per_kind_diff({k: v for k, v in wire["solo"].items()
                                         if k != "drain"}, handles, least=5)
    m["server.queue_ms"] = per_kind_diff(wire["loaded"], wire["solo"], least=5)

    reads = {r for r in req_ids if kind[r] in READS}
    m["catalog.resolves_per_read"] = mean([n for r, n in side["resolves"] if r in reads])
    m["spark.plan_ms"] = med([ms for r, ms in side["plan_ms"] if r in req_ids])
    commits = side["commits"]
    m["persist.bytes_per_commit"] = med([b for b, _ in commits])
    m["persist.files_per_commit"] = med([f for _, f in commits])
    m["persist.restore_ms"] = side["restore_ms"] or 0.0
    m["spark.peak_cached_bytes"] = side["peak_cached_bytes"]
    return m


def batch_metrics(res, spans):
    """The operator batch's figures from its traced pass: each query's
    time (its `<module>.<query>` span), the pass's wall, and its Spark
    jobs and shuffle bytes. Zero without a batch."""
    m = {f"{mod}.{q}_s": 0.0 for mod, q in workloads.BATCH_QUERIES}
    m.update({"batch.pass_s": 0.0, "batch.spark_jobs": 0, "batch.shuffle_write_bytes": 0})
    if res is None:
        return m
    for s in spans:
        if s["name"] in {f"{mod}.{q}" for mod, q in workloads.BATCH_QUERIES}:
            m[s["name"] + "_s"] = (s["end"] - s["start"]) / 1e9
    m["batch.pass_s"] = sum(ns for _, ns, _, _ in res["traced"]) / 1e9
    m["batch.spark_jobs"] = sum(s["jobs"] for s in spans)
    m["batch.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in spans)
    return m


def run(args, inputs, work, report, run_jvm, batch=None):
    """Replay the workload in-process with tracing; returns the metrics
    and the failures of the replay's own checks. `batch` is the operator
    batch's (result, spans file, failures), when the run made one."""
    plans, tables = os.path.join(work, "plans"), os.path.join(work, "tables")
    store = os.path.join(work, "trace-store")
    out = os.path.join(work, "trace")
    run_jvm("perfbench.Trace", [plans, tables, out, str(inputs.w["rounds"])]
            + ([store] if inputs.w["storage"] == "disk" else []), work, timeout=170, spark=True)
    spans = load_spans(out + ".spans.tsv")
    with open(out + ".json") as f:
        side = json.load(f)
    wire = {"solo": stats.by_kind_ms(report["raw_solo"]),
            "loaded": stats.by_kind_ms(report["raw_ops"])}
    m = layer_metrics(spans, side, TIMED, wire)
    m.update(batch_metrics(batch[0], load_spans(batch[1])) if batch else batch_metrics(None, []))
    gaps = untraced_gaps(side["walls"], TIMED)
    failures = [f"trace: no untraced sample of {', '.join(gaps)}"] if gaps else []
    retries = report["retries"]
    writes = sum(len(v) for k, v in report["loaded"].items() if k in WRITES)
    m["server.conflict_retries"] = retries
    m["server.commit_success_ratio"] = writes / (writes + retries) if writes else 1.0
    m["peak_rss_mb"] = report["peak_rss_mb"]
    return {k: {"value": v, "unit": PER_LAYER[k], "n": None} for k, v in m.items()}, failures
