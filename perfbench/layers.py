"""Per-layer metrics of a traced run, and the trace file written at its end.

Every traced run reports every metric below; a layer a workload does not
touch reports 0 (see the prediction table in README.md).
"""
import json

import metrics as M

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "maintenance_s": "s",
    "bytes_written_per_user_byte": "ratio",
}

CLASSES = ("read", "write", "maint")

# Median duration of the spans of that name.
SPAN_MS = [
    "GraftTable.append", "GraftTable.delete", "GraftTable.deleteMergeOnRead",
    "GraftTable.update", "GraftTable.merge", "GraftTable.optimize",
    "GraftTable.zorderBy", "GraftTable.vacuum", "GraftTable.readWhere",
    "TxnLog.latestVersion", "TxnLog.readCommit", "TxnLog.append_ckpt",
    "TxnLog.append_plain",
    "Snapshot.at.cold", "Snapshot.at.warm",
    "Pruning.prune.partition", "Pruning.prune.range", "Pruning.prune.point",
    "Pruning.prune.in",
    "GraftSql.sql.plan", "GraftCatalog.read",
    "Dedup.dedupExact", "Dedup.dedupMinhashLsh", "Dedup.dedupClusters",
    "TextOps.textGopherFilter", "TextOps.textSearchBm25",
    "Similarity.simIvf", "Similarity.simPq", "Pipeline.pipeEndToEnd",
]

# Sums of counters recorded at layer boundaries.
COUNTERS = {
    "GraftTable.files_added": "count",
    "GraftTable.files_removed": "count",
    "GraftTable.data_bytes_written": "bytes",
    "TxnLog.commits": "count",
    "TxnLog.log_bytes": "bytes",
    "TxnLog.checkpoints": "count",
    "TxnLog.checkpoint_bytes": "bytes",
    "Pruning.files_in": "count",
    "Pruning.files_kept_stats": "count",
    "Pruning.files_kept_bloom": "count",
}

# Medians of sampled values.
SAMPLES = {
    "Snapshot.tail_commits": "count",
    "Snapshot.active_files": "count",
    "jvm.heap_after_gc_mb": "MB",
    "Dedup.planted_recall": "ratio",
    "Similarity.simIvf.recall_at_5": "ratio",
    "Similarity.simPq.recall_at_5": "ratio",
    "GraftTable.bytes_stored_per_user_byte": "ratio",
}

SPARK = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "job_covered_ms": "ms", "driver_gap_ms": "ms", "executor_run_ms": "ms",
    "executor_cpu_ms": "ms", "gc_ms": "ms", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "tasks_failed": "count",
}

# Corpus stages whose executors evaluate graft.functions expressions
# (MinHash signatures, vector distances, PQ codes).
FUNCTION_STAGES = ["dedupMinhashLsh", "dedupClusters", "simIvf", "simPq"]


def spec():
    """[(name, unit, better)] of every per-layer metric, in report order."""
    out = [(f"{n}.ms", "ms", "lower") for n in SPAN_MS]
    out += [(n, u, "lower") for n, u in COUNTERS.items()]
    out += [(n, u, "higher" if u == "ratio" and "recall" in n else "lower")
            for n, u in SAMPLES.items()]
    out += [("Pruning.useful_ratio", "ratio", "higher"),
            ("sources.read_overhead_ratio", "ratio", "lower"),
            ("Pipeline.docs_per_s", "doc/s", "higher"),
            ("Similarity.knn_queries_per_s", "q/s", "higher")]
    out += [(f"functions.executor_cpu_ms.{s}", "ms", "lower") for s in FUNCTION_STAGES]
    out += [(f"spark.{k}.{c}", u, "lower") for c in CLASSES for k, u in SPARK.items()]
    out += [("trace.recorder_share", "ratio", "lower")]
    return out


def _spark_by_class(ops):
    acc = {c: {k: 0.0 for k in SPARK} for c in CLASSES}
    for o in ops:
        if o["cls"] not in acc:
            continue
        a = acc[o["cls"]]
        sp = o["spark"]
        for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "tasks_failed"):
            a[k] += sp[k]
        a["job_covered_ms"] += M.union_length(sp["job_intervals"], o["start_ms"], o["end_ms"])
        a["driver_gap_ms"] += M.driver_gap(o["start_ms"], o["end_ms"], sp["job_intervals"])
    return acc


def per_layer(res):
    spans = res["spans"]
    counters = res["counters"]
    samples = res["samples"]
    ops = res["ops"]
    values, units = {}, {}
    durations = {}
    for s in spans:
        durations.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e6)
    for name, unit, _ in spec():
        units[name] = unit
    for n in SPAN_MS:
        values[f"{n}.ms"] = M.median(durations.get(n, [])) or 0.0
    for n in COUNTERS:
        values[n] = float(counters.get(n, 0.0))
    for n in SAMPLES:
        values[n] = M.median(samples.get(n, [])) or 0.0
    kept = counters.get("Pruning.useful_files_kept", 0.0)
    values["Pruning.useful_ratio"] = M.ratio(counters.get("Pruning.useful_files", 0.0), kept) or 0.0
    cat = M.median(durations.get("GraftCatalog.read", []))
    base = M.median(durations.get("probe.readWhere", []))
    values["sources.read_overhead_ratio"] = (cat / base) if cat and base else 0.0
    values["Pipeline.docs_per_s"] = M.median(samples.get("Pipeline.docs_per_s", [])) or 0.0
    values["Similarity.knn_queries_per_s"] = (
        M.median(samples.get("Similarity.knn_queries_per_s", [])) or 0.0)
    for st in FUNCTION_STAGES:
        values[f"functions.executor_cpu_ms.{st}"] = sum(
            o["spark"]["executor_cpu_ms"] for o in ops if o["kind"] == st)
    acc = _spark_by_class(ops)
    for c in CLASSES:
        for k in SPARK:
            values[f"spark.{k}.{c}"] = float(acc[c][k])
    # the recorder's own bookkeeping time as a share of traced op time
    values["trace.recorder_share"] = _recorder_share(res)
    return values, units


def _recorder_share(res):
    ops = res["ops"]
    total = sum(o["ms"] for o in ops)
    return (res.get("recorder_ms", 0.0) / total) if total else 0.0


def layer_table(spans):
    """{span name: {n, total_ms, self_ms}} with self time = span minus covered children."""
    st = M.self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["n"] += 1
        row["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        row["self_ms"] += st[s["id"]] / 1e6
    return table


def write_trace(path, res, values):
    with open(path, "w") as f:
        json.dump({"per_layer": values, "layer_table": layer_table(res["spans"]),
                   "spans": res["spans"], "ops": res["ops"]}, f)
