"""Attribute a change between two sets of benchmark runs to a layer.

    python3 perfbench/compare.py before.jsonl after.jsonl

Each file holds the detail records run.py appends (`--results`). Per
workload it prints the end-to-end deltas (medians over all records),
then the per-layer deltas (medians over the traced records),
listing first the layer metrics that LAYER_MAP says should move the
end-to-end metric that changed most.
"""
import json
import statistics
import sys
from collections import defaultdict

E2E_NAMES = {  # the generic end-to-end names under their per-workload meaning
    "etl_batch": {"items_per_s": "etl_rows_per_s"},
    "serve_lookup": {"latency_p50_ms": "lookup_p50_ms", "latency_tail_ms": "lookup_tail_ms"},
    "stream_arrivals": {"latency_p50_ms": "freshness_p50_ms", "latency_tail_ms": "freshness_tail_ms"},
    "curate_ingest": {"items_per_s": "curate_docs_per_s"},
}
ALL = list(E2E_NAMES)
ETL, SERVE, STREAM, CURATE = ALL


def on(e2e, *workloads):
    return {w: e2e for w in workloads}


# per-layer metric -> {workload: the end-to-end metric it should move there}
LAYER_MAP = {
    "sources.input_bytes": on("items_per_s", ETL),
    "sources.bytes_read": on("items_per_s", ETL),
    "sources.scan_amplification": {ETL: "items_per_s", STREAM: "latency_p50_ms"},
    "sources.read_s": on("items_per_s", ETL),
    "ingest.rows_in": {ETL: "items_per_s", STREAM: "latency_p50_ms"},
    "ingest.rows_dropped": on("items_per_s", ETL),
    "ingest.self_s": on("items_per_s", ETL),
    "analytics.self_s": {ETL: "items_per_s", STREAM: "latency_p50_ms"},
    "analytics.shuffle_write_bytes": {ETL: "items_per_s", STREAM: "latency_p50_ms"},
    "serve.write_s": on("items_per_s", ETL),
    **{f"serve.{m}": on("latency_p50_ms", SERVE) for m in (
        "l1_p50_ms", "l2_p50_ms", "l3_p50_ms", "rows_scanned_per_row_returned",
        "files_read_per_lookup")},
    "serve.store_files": {ETL: "items_per_s", SERVE: "latency_p50_ms"},
    "serve.store_bytes": {ETL: "items_per_s", SERVE: "latency_p50_ms"},
    **{f"stream.{m}": on("latency_p50_ms", STREAM) for m in (
        "start_ms", "trigger_ms", "query_planning_ms", "latest_offset_ms", "add_batch_ms",
        "wal_commit_ms", "commit_offsets_ms", "batches_per_trigger", "backlog_max_files",
        "generator_lag_s")},
    **{f"ext.{m}": on("items_per_s", CURATE) for m in (
        "quality_gate_s", "admission_s", "accepted", "rejected_quality", "rejected_near_dup",
        "corpus_files")},
    **{f"spark.{m}": {ETL: "items_per_s", SERVE: "latency_p50_ms", STREAM: "latency_p50_ms",
                      CURATE: "items_per_s"} for m in (
        "actions", "jobs", "stages", "tasks", "plan_s", "exec_s", "task_busy_share",
        "shuffle_write_bytes", "spill_bytes")},
    "jvm.gc_s": on("latency_tail_ms", *ALL),
    "jvm.heap_peak_mb": on("latency_tail_ms", *ALL),
    "trace.overhead_share": on("latency_p50_ms", *ALL),
}


def load(path):
    """workload -> part ("end_to_end" / "per_layer") -> metric -> values.
    A traced record carries its untraced window's end-to-end values too.
    """
    by = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                for part in ("end_to_end", "per_layer"):
                    for k, v in r[part].items():
                        if v is not None:
                            by[r["workload"]][part][k].append(v)
    return by


def med(xs):
    return statistics.median(xs) if xs else None


def rel(a, b):
    return (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))


def main(a_path, b_path):
    a, b = load(a_path), load(b_path)
    for wl in ALL:
        if wl not in a or wl not in b:
            continue
        e_a, e_b = a[wl]["end_to_end"], b[wl]["end_to_end"]
        l_a, l_b = a[wl]["per_layer"], b[wl]["per_layer"]
        print(f"== {wl}")
        moved = []
        for k in sorted(set(e_a) & set(e_b)):
            ma, mb = med(e_a[k]), med(e_b[k])
            name = E2E_NAMES[wl].get(k, "")
            print(f"  {k:<18} {ma:>14.6g} -> {mb:<14.6g} {rel(ma, mb):+8.2%}  "
                  f"(n={len(e_a[k])}/{len(e_b[k])}) {name}")
            if k != "setup_s":
                moved.append((abs(rel(ma, mb)), k))
        top = max(moved)[1] if moved else None
        rows = []
        for k in sorted(set(l_a) & set(l_b)):
            ma, mb = med(l_a[k]), med(l_b[k])
            if ma == mb == 0:
                continue
            t = LAYER_MAP.get(k, {}).get(wl)
            rows.append((t != top, -abs(rel(ma, mb)), k, ma, mb, t))
        if rows:
            print(f"  per-layer (metrics that should move {top} first):")
        for _, _, k, ma, mb, t in sorted(rows):
            print(f"    {k:<38} {ma:>14.6g} -> {mb:<14.6g} {rel(ma, mb):+8.2%}  -> {t or '-'}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    main(sys.argv[1], sys.argv[2])
