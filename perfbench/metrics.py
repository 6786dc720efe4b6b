"""Turn request records, spans and event-log counts into the benchmark's
metrics.

End-to-end metrics (``--trace 0``) share one set of names across the
workloads so every run reports every one of them:

- ``setup_s``: JVM launch plus the median of three set-up repetitions.
- ``cold_s``: the first invocation of every operation the workload runs.
- ``p50_s``: median of the workload's steady-state unit of work: a
  ``copy-row`` command (kv_tools), a whole pipeline pass (corpus_pipeline).
- ``peak_rss_mb``: high-water mark of the process tree's resident memory.

Each run also reports the workload's own metrics under their names in
``named`` (for example ``copy_row_p50_s``, ``copy_row_tail_s``,
``write_amp``, ``query_p50_s``, ``pipeline_s``).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from measure import median, timing
from tracing import self_times

#: each workload's own name for ``cold_s``, ``p50_s`` and the tail
WORKLOAD_NAMES = {
    "kv_tools": ("kv_cold_round_s", "copy_row_p50_s", "copy_row_tail_s"),
    "corpus_pipeline": ("cold_pipeline_s", "pipeline_s", "pipeline_tail_s"),
}

#: per-layer self-time metrics: metric name -> span layer
OPERATOR_LAYERS = {
    "copy_row.read_s": "copy_row",
    "audit.s": "audit",
    "repair.s": "repair",
    "compaction.s": "compaction",
    "dedup.s": "dedup",
    "contamination.s": "contamination",
    "text_analysis.s": "text_analysis",
    "similarity.s": "similarity",
    "packing.s": "packing",
    "catalog.overwrite_s": "catalog",
}

CLI_OPS = [
    "copy_row", "corrupt_rows", "repair", "compact",
    "dedup_containment", "decontaminate", "select", "pack", "mine_negatives",
]

EXEC_COUNTERS = [
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "scan_bytes", "gc_s", "python_s",
]


def _m(value, unit, n=None, percentile=None):
    out = {"value": float(value), "unit": unit}
    if n is not None:
        out["n"] = n
    if percentile is not None:
        out["percentile"] = percentile
    return out


def steady_units(workload: str, records: list[dict]) -> list[float]:
    """Durations of the workload's steady-state unit of work."""
    steady = [r for r in records if r["phase"] == "steady"]
    if workload == "kv_tools":
        return [r["s"] for r in steady if r["op"] == "copy-row"]
    if workload == "corpus_pipeline":
        passes = defaultdict(float)
        for r in steady:
            passes[r["pass"]] += r["s"]
        return list(passes.values())
    raise ValueError(workload)


def end_to_end(workload: str, records: list[dict], setup: dict, peak_rss: int) -> dict:
    cold = [r["s"] for r in records if r["phase"] == "cold"]
    t = timing(steady_units(workload, records))
    failed = sum(not r["ok"] for r in records)
    metrics = {
        "setup_s": _m(setup["setup_s"], "s", n=len(setup["reps"])),
        "cold_s": _m(sum(cold), "s", n=len(cold)),
        "p50_s": _m(t["p50"], "s", n=t["n"], percentile=50),
        "peak_rss_mb": _m(peak_rss / 2**20, "MB"),
    }
    cold_name, p50_name, tail_name = WORKLOAD_NAMES[workload]
    named = {
        "setup_s": metrics["setup_s"],
        "setup_cold_s": _m(setup["setup_cold_s"], "s"),
        "peak_rss_mb": metrics["peak_rss_mb"],
        "ops_failed_frac": _m(failed / max(1, len(records)), "ratio", n=len(records)),
        cold_name: metrics["cold_s"],
        p50_name: metrics["p50_s"],
        tail_name: _m(t["tail"], "s", n=t["n"], percentile=t["tail_pct"]),
    }
    if workload == "kv_tools":
        queries = [r for r in records if r.get("query")]
        named["cold_pass_s"] = _m(sum(r["s"] for r in queries if r["phase"] == "cold"), "s")
        q = timing([r["s"] for r in queries if r["phase"] == "steady"])
        named["query_p50_s"] = _m(q["p50"], "s", n=q["n"], percentile=50)
        named["query_tail_s"] = _m(q["tail"], "s", n=q["n"], percentile=q["tail_pct"])
        for op, name in (("corrupt-rows", "audit_s"), ("repair", "repair_s"), ("compact", "compact_s")):
            xs = [r["s"] for r in records if r["op"] == op]
            named[name] = _m(median(xs), "s", n=len(xs), percentile=50)
        amp = [r["bytes_written"] / r["bytes_put"] for r in records if r["op"] == "copy-row" and r["ok"]]
        named["write_amp"] = _m(median(amp), "ratio", n=len(amp), percentile=50)
    return {"metrics": metrics, "named": named}


def per_layer(records: list[dict], spans: list[dict], log: dict, setup: dict) -> dict:
    """Per-layer metrics of a traced run (see BENCHMARK.json ``per_layer``)."""
    selfs = self_times(spans)
    dur = [s["end"] - s["start"] for s in spans]
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])

    def subtree_count(sid: int, key: str) -> float:
        total, stack = 0.0, [sid]
        while stack:
            i = stack.pop()
            total += log["by_span"].get(i, {}).get(key, 0.0)
            stack.extend(kids[i])
        return total

    def named_spans(name):
        return [s["id"] for s in spans if s["name"] == name]

    out = {
        "session.launch_s": _m(setup["launch_s"], "s"),
        "session.build_s": _m(setup["build_s"], "s", n=len(setup["reps"])),
    }
    ids = named_spans("registry.construct")
    out["registry.construct_s"] = _m(median([dur[i] for i in ids]), "s", n=len(ids))
    out["registry.construct_jobs"] = _m(
        sum(subtree_count(i, "jobs") for i in ids) / max(1, len(ids)), "count", n=len(ids)
    )
    for phase in ("analyze", "plan", "execute"):
        ids = named_spans(f"query.{phase}")
        out[f"query.{phase}_s"] = _m(median([dur[i] for i in ids]), "s", n=len(ids))

    n_req = max(1, len(records))
    for key in EXEC_COUNTERS:
        total = sum(log["by_group"].get(r["id"], {}).get(key, 0.0) for r in records)
        unit = "s" if key.endswith("_s") else ("bytes" if key.endswith("bytes") else "count")
        out[f"exec.{key}"] = _m(total / n_req, unit, n=len(records))

    for op in CLI_OPS:
        ids = named_spans(f"cli.{op}")
        out[f"cli.{op}_s"] = _m(median([dur[i] for i in ids]), "s", n=len(ids))
        out[f"cli.{op}_jobs"] = _m(
            sum(subtree_count(i, "jobs") for i in ids) / max(1, len(ids)), "count", n=len(ids)
        )

    layer_self = defaultdict(lambda: defaultdict(float))  # layer -> rid -> self time
    for s, st in zip(spans, selfs):
        layer_self[s["name"].split(".")[0]][s["rid"]] += st
    for metric, layer in OPERATOR_LAYERS.items():
        per_req = list(layer_self[layer].values())
        out[metric] = _m(median(per_req), "s", n=len(per_req))

    out["sources.bytes_written"] = _m(sum(r["bytes_written"] for r in records) / n_req, "bytes", n=len(records))
    queries = [r for r in records if r.get("query")]
    out["query.bytes_written"] = _m(
        sum(r["bytes_written"] for r in queries) / max(1, len(queries)), "bytes", n=len(queries)
    )
    out["sources.files_written"] = _m(sum(r["files_written"] for r in records) / n_req, "count", n=len(records))
    fracs = []
    for r in records:
        if r["op"] != "copy-row":
            continue
        read_ids = [s["id"] for s in spans if s["rid"] == r["id"] and s["name"] == "copy_row.copy_row"]
        scanned = sum(subtree_count(i, "scan_bytes") for i in read_ids)
        fracs.append(scanned / r["table_bytes"])
    out["sources.point_read_scan_frac"] = _m(median(fracs), "ratio", n=len(fracs), percentile=50)
    out["cache.relations_held"] = _m(max((r["cache_relations"] for r in records), default=0), "count")
    out["cache.bytes_held"] = _m(max((r["cache_bytes"] for r in records), default=0), "bytes")
    return out


def overhead(work: str, record: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, against the newest untraced
    record of the same workload and seed in this checkout (if any)."""
    pattern = os.path.join(work, "records", f"{record['workload']}-s{record['seed']}-t0-*.json")
    paths = sorted(p for p in glob.glob(pattern) if not p.endswith(".spans.json"))
    if not paths:
        return None
    with open(paths[-1]) as f:
        base = json.load(f)["end_to_end"]
    return {
        "untraced_record": os.path.basename(paths[-1]),
        **{
            k: m["value"] - base[k]["value"]
            for k, m in record["end_to_end"].items()
            if k in base
        },
    }


def _fmt(name: str, m: dict) -> str:
    extra = []
    if "percentile" in m:
        extra.append(f"p{m['percentile']:g}")
    if "n" in m:
        extra.append(f"n={m['n']}")
    tail = f"  ({', '.join(extra)})" if extra else ""
    return f"# {name} = {m['value']:.6g} {m['unit']}{tail}"


def print_summary(record: dict, out) -> None:
    """Human-readable lines (prefixed ``#``) before the JSON result line."""
    print(f"# workload {record['workload']} seed {record['seed']} trace {record['trace']}", file=out)
    print(f"# host steal during set-up and loop: {record['host_steal_s']:.1f} CPU-s", file=out)
    for name, m in record["workload_metrics"].items():
        print(_fmt(name, m), file=out)
    for name, m in record.get("per_layer", {}).items():
        print(_fmt(name, m), file=out)
    if record.get("overhead_vs_untraced"):
        ov = record["overhead_vs_untraced"]
        print("# tracing overhead (traced - untraced): " + ", ".join(
            f"{k}={v:+.4g}" for k, v in ov.items() if k != "untraced_record"), file=out)
