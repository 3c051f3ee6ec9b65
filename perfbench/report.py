"""Per-layer reduction of a traced run.

``per_layer`` gives the metrics a traced run prints: the median over steady
rounds of each round's census totals (the codegen figures come from the
cold round, the only one that compiles), the kernel probes, and the session
build time. ``write`` stores the span tree (``trace.json``) and a self-time
report per layer (``report.txt``) in the run's work directory.
"""
import json
import os
import statistics

# Read from the cold round: steady rounds hit the codegen cache.
COLD = ("driver.codegen_compile_s", "driver.codegen_classes")
# The census metrics every workload produces, with their units.
CENSUS = {
    "driver.plan_s": "s", "driver.gap_s": "s", "driver.codegen_compile_s": "s",
    "driver.codegen_classes": "count", "driver.sched_delay_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.busy_ratio": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.skew": "ratio",
}
PROBES = {
    "functions.cosine_rows_per_s": "rows/s", "functions.sorted_intersect_rows_per_s": "rows/s",
    "functions.minhash_rows_per_s": "rows/s", "operators.global_rank_s": "s",
    "operators.pq_encode_s": "s", "operators.ivf_assign_s": "s",
    "operators.island_merge_s": "s",
}


def steady_rounds(res):
    return {int(r): m for r, m in res["census"].items() if int(r) > 0}


def per_layer(res):
    rounds = steady_rounds(res)
    cold = res["census"]["0"]
    out = {k: {"value": cold[k] if k in COLD else
               statistics.median(m[k] for m in rounds.values()), "unit": u}
           for k, u in CENSUS.items()}
    out.update({k: {"value": res["probes"][k], "unit": u} for k, u in PROBES.items()})
    out["core.session_s"] = {"value": statistics.median(res["session_s"]), "unit": "s"}
    return out


def _med_steady(samples):
    xs = [t for r, t in samples if r > 0]
    return statistics.median(xs) if xs else 0.0


def workload_layers(res, plan=None):
    """Per-layer figures that exist on one workload only. They are printed
    in the detail line and the report, not in the result's metrics, which
    carry the same names on every workload."""
    census = steady_rounds(res)
    out = {}
    if plan is None:
        rounds = res["rounds"]
        out["queries.build_s"] = statistics.median(
            sum(v[r] for v in res["build_s"].values()) for r in range(1, rounds))
        for n, v in res["samples"].items():
            m = "queries." + res["modules"][n] + "_s"
            out[m] = out.get(m, 0.0) + statistics.median(v[1:])
        out["core.warehouse_build_s"] = res["warehouse_build_s"]
        out["core.warehouse_builds"] = res["warehouse_builds"]
        out["core.warehouse_builds_in_samples"] = res["builds_in_samples"]
        return out
    s = res["samples"]
    for name, key in (("core.snapshot_publish_s", "publish"), ("core.snapshot_read_s", "read_snapshot"),
                      ("sources.jdbc_upsert_s", "upsert"), ("streaming.drain_s", "drain"),
                      ("streaming.quarantine_s", "quarantine"), ("streaming.compact_s", "compact"),
                      ("streaming.read_store_s", "read_store")):
        out[name] = _med_steady(s.get(key, []))
    for k in ("streaming.batches", "streaming.batch_add_s", "streaming.batch_overhead_s",
              "streaming.start_s"):
        out[k] = statistics.median(m[k] for m in census.values())
    out["streaming.compact_rewritten_mb"] = (
        statistics.median(res["compacted_bytes"]) / 2**20 if res["compacted_bytes"] else 0.0)
    rows = {f["path"]: f["rows"] for f in plan}
    written = sum(rows[p] for c in res["cycles"] for p in
                  {p for i in c["files"] if not plan[i]["dirty"] for p in plan[i]["notify"]})
    landed = sum(plan[i]["rows"] for i in res["arrived_files"] if not plan[i]["dirty"])
    out["streaming.useful_row_ratio"] = landed / written if written else 0.0
    out["streaming.status_records"] = res.get("status_records", 0)
    out["store.files"] = res["store_files"]
    out["store.mb"] = res["store_bytes"] / 2**20
    out["store.versions"] = res["store_versions"]
    return out


def self_times(spans):
    """Self time per layer: each span's wall time minus its children's."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["dur_s"] - child.get(s["id"], 0.0)
    return out


def write(res, work, layers):
    with open(os.path.join(work, "trace.json"), "w") as f:
        json.dump({"spans": res["spans"], "census": res["census"],
                   "probes": res["probes"], "workload_layers": layers}, f)
    steady = [s for s in res["spans"] if s["round"] > 0]
    lines = ["self time per layer over steady rounds (s)"]
    for layer, t in sorted(self_times(steady).items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:28s} {t:10.3f}")
    lines.append("census, median over steady rounds")
    rounds = steady_rounds(res)
    keys = sorted({k for m in rounds.values() for k in m})
    for k in keys:
        lines.append(f"  {k:28s} {statistics.median(m[k] for m in rounds.values()):12.4f}")
    lines.append("workload layers")
    for k, v in layers.items():
        lines.append(f"  {k:38s} {v:14.4f}")
    lines.append("probes")
    for k, v in res["probes"].items():
        lines.append(f"  {k:38s} {v:14.4f}")
    with open(os.path.join(work, "report.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
