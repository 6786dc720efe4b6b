"""Tracing for the ``--trace 1`` run: spans recorded from the benchmark's own
files, and per-job-group execution counts from Spark's event log.

Spans wrap the calls the benchmark makes into each layer (registry
constructor, ``df.schema``, ``executedPlan()``, ``toPandas``, ``cli.main``)
and the operator and ``sources`` functions that ``cli`` binds, patched in
their module's namespace for this run only. Each span tags the Spark jobs
it starts, so the event log attributes jobs, stages and bytes to the
innermost span that was open. Spans stay in memory and are written out when
the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import time
from collections import defaultdict

#: (module, function names, layer). The first block is bound in ``cli``'s own
#: namespace by its module-level imports; the others are imported inside
#: ``cli.main`` at call time, so patching the defining module reaches them.
WRAPPED = [
    ("symat_hbase_tools_spark.cli", ["main"], "cli"),
    ("symat_hbase_tools_spark.cli", ["copy_row"], "copy_row"),
    ("symat_hbase_tools_spark.cli", ["audit", "counters_of", "write_report_tsv"], "audit"),
    ("symat_hbase_tools_spark.cli", ["overwrite_table_in_place"], "catalog"),
    ("symat_hbase_tools_spark.cli", ["resolve_table", "_load_cells"], "sources"),
    ("symat_hbase_tools_spark.operators.repair", ["repair", "repair_counters"], "repair"),
    ("symat_hbase_tools_spark.operators.compaction", ["major_compact", "compaction_report"], "compaction"),
    ("symat_hbase_tools_spark.operators.dedup", ["containment_pairs"], "dedup"),
    ("symat_hbase_tools_spark.operators.contamination", ["benchmark_contamination"], "contamination"),
    ("symat_hbase_tools_spark.operators.text_analysis", ["token_budget_select"], "text_analysis"),
    ("symat_hbase_tools_spark.operators.similarity", ["embedding_hard_negatives_ann"], "similarity"),
    ("symat_hbase_tools_spark.operators.packing", ["pack_sequences", "packing_stats"], "packing"),
    ("symat_hbase_tools_spark.sources.tables", ["load_table"], "sources"),
    ("symat_hbase_tools_spark.sources.bloom", ["with_row_bloom"], "sources"),
]

#: SQL timing metric of every Python-UDF operator, in milliseconds
PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._rid = None
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "rid": self._rid,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.addJobTag(f"span{idx}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.removeJobTag(f"span{idx}")

    @contextlib.contextmanager
    def request(self, rid: str, op: str):
        self._rid = rid
        try:
            with self.span(f"request.{op}"):
                yield
        finally:
            self._rid = None

    def install(self) -> None:
        """Patch every function in ``WRAPPED`` with a span-opening wrapper."""
        for mod_name, names, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            for fname in names:
                orig = getattr(mod, fname)
                setattr(mod, fname, self._wrapper(orig, f"{layer}.{fname}"))
                self._patched.append((mod, fname, orig))

    def uninstall(self) -> None:
        while self._patched:
            mod, fname, orig = self._patched.pop()
            setattr(mod, fname, orig)

    def _wrapper(self, fn, name):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            span_name = name
            if name == "cli.main":
                span_name = f"cli.{cli_op(args[0] if args else kwargs.get('argv'))}"
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapped

    def cache_state(self, spark) -> dict:
        """Cached relations and their bytes held once a request returned."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "cache_relations": len(infos),
            "cache_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def cli_op(argv) -> str:
    """Metric name of a CLI invocation: the command, plus ``--method``."""
    argv = list(argv or [])
    op = argv[0] if argv else "none"
    if "--method" in argv and op in ("dedup", "curate"):
        op = f"{op}_{argv[argv.index('--method') + 1]}"
    return op.replace("-", "_")


def self_times(spans: list[dict]) -> list[float]:
    """Span duration minus the time its child spans cover. Children of one
    span run one after another on the client thread, so they never
    overlap and their durations add."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


# --------------------------------------------------------------- event log


def _innermost(tags: str) -> int | None:
    ids = [int(t[4:]) for t in (tags or "").split(",") if t.startswith("span")]
    return max(ids) if ids else None


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Per job group and per innermost span: jobs, executed stages, tasks
    and the byte, spill, GC and Python-worker counters of their tasks."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    blank = lambda: defaultdict(float)  # noqa: E731
    by_group: dict = defaultdict(blank)
    by_span: dict = defaultdict(blank)
    stage_owner: dict = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (props.get("spark.jobGroup.id"), _innermost(props.get("spark.job.tags")))
                    by_group[key[0]]["jobs"] += 1
                    by_span[key[1]]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    key = (props.get("spark.jobGroup.id"), _innermost(props.get("spark.job.tags")))
                    stage_owner[sid] = key
                    by_group[key[0]]["stages"] += 1
                    by_span[key[1]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_owner.get(ev["Stage ID"])
                    if key is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = (ev.get("Task Info") or {}).get("Accumulables") or []
                    py_ms = sum(
                        float(a.get("Update", 0)) for a in acc if a.get("Name") == PYTHON_TIME_METRIC
                    )
                    vals = {
                        "tasks": 1,
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "scan_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "python_s": py_ms / 1000.0,
                    }
                    for k, v in vals.items():
                        by_group[key[0]][k] += v
                        by_span[key[1]][k] += v
    return {"by_group": dict(by_group), "by_span": dict(by_span)}
