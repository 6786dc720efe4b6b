"""The benchmark workloads. Each is a closed loop with one client
thread: the next request starts when the previous one has returned.

Every timed request redoes all of its work: it calls the CLI command or the
registry constructor again and pulls the full result, so no request can
reuse a previous request's plan or shuffle output. ``Runner.request`` counts
the stages each request executed; a request that executes fewer stages than
the first invocation of the same operation counts as failed.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import time

import numpy as np

import gen
from measure import group_stage_counts, result_hash


def dir_state(root: str) -> dict:
    """``{path: (inode, size, mtime_ns)}`` for every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """Bytes and files that are new or rewritten between two snapshots."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[1] for v in new), len(new)


class Runner:
    """Issues timed requests and keeps one record per request."""

    def __init__(self, spark, storage_roots, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.storage_roots = storage_roots
        self.tracer = tracer
        self.records: list[dict] = []
        self._first_stages: dict[str, int] = {}

    def _storage(self) -> dict:
        state = {}
        for root in self.storage_roots:
            state.update(dir_state(root))
        return state

    def request(self, phase: str, op: str, fn) -> dict:
        """Time ``fn`` (which returns ``(ok, detail)``) as one request."""
        rid = f"req{len(self.records)}"
        before = self._storage()
        self.sc.setJobGroup(rid, op)
        span = self.tracer.request(rid, op) if self.tracer else contextlib.nullcontext()
        error = None
        t0 = time.perf_counter()
        with span:
            try:
                ok, detail = fn()
            except Exception as exc:  # noqa: BLE001 - a failed request is data
                ok, detail, error = False, {}, f"{type(exc).__name__}: {exc}"
        elapsed = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        counts = group_stage_counts(self.sc, rid)
        bytes_written, files_written = written_since(before, self._storage())
        first = self._first_stages.setdefault(op, counts["stages"])
        reused = counts["stages"] < first
        rec = {
            "id": rid,
            "phase": phase,
            "op": op,
            "s": elapsed,
            "ok": bool(ok) and not reused,
            "reused_stages": reused,
            "bytes_written": bytes_written,
            "files_written": files_written,
            **counts,
            **detail,
        }
        if error:
            rec["error"] = error
        if self.tracer:
            rec.update(self.tracer.cache_state(self.spark))
        self.records.append(rec)
        return rec


def run_cli(argv: list[str]) -> tuple[int, str]:
    from symat_hbase_tools_spark import cli

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        try:
            rc = cli.main(argv)
        except SystemExit as exc:
            rc = exc.code if isinstance(exc.code, int) else 1
    return rc, out.getvalue()


def counters(text: str) -> dict:
    """``KEY=value`` counters printed by a CLI command."""
    return {k: float(v) if "." in v else int(v) for k, v in re.findall(r"\b([A-Z_]+)=(-?[\d.]+)", text)}


# ------------------------------------------------------- registry queries

REGISTRY_SF = 0.01
#: relational, event-time and kv-read queries whose plans hold no pin and
#: run no Python kernel (customer_abc_analysis, price_percentiles_exact_rank,
#: users_rfm_segments and kv_split_points persist an intermediate that the
#: next invocation reuses, so they are left out)
REGISTRY_QUERIES = [
    "kv_latest_version", "kv_audit_report", "kv_region_stats",
    "q1_pricing_summary", "q3_shipping_priority", "events_sessionize",
]
#: the tables those queries read
REGISTRY_TABLES = ("customer", "orders", "lineitem", "events")


class RegistryQueries:
    """The query-service requests: a registry constructor called per request
    and the full result pulled with ``toPandas``. Every result must
    hash-equal the DuckDB oracle computed during set-up."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng([seed, 11])
        self.tracer = None

    def make_inputs(self) -> dict:
        self.base_dir = self.sf_dir = os.path.join(self.work, "tables")
        return gen.make_tables(self.base_dir, self.seed, REGISTRY_SF)

    def oracle(self) -> None:
        """Hash every query's DuckDB oracle result (set-up, not timed)."""
        import duckdb

        from symat_hbase_tools_spark.registry import ORACLE_SQL

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() or 4}")
        for t in REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.base_dir}/{t}.parquet')")
        self.want = {q: result_hash(con.execute(ORACLE_SQL[q]).fetchdf()) for q in REGISTRY_QUERIES}
        con.close()

    def setup(self, spark, rep: int) -> None:
        """Register the tables (the engine caches one scan per table, so
        the parquet schema is read here once, not by whichever query comes
        first) and materialize the kv queries' cells fixtures. Each set-up
        repetition reads its own hard-linked copy of the tables, so both
        are built again every time."""
        from symat_hbase_tools_spark.registry.wrappers import prewarm_fixtures
        from symat_hbase_tools_spark.sources.tables import register_views

        rep_dir = f"{self.base_dir}-rep{rep}"
        os.makedirs(rep_dir, exist_ok=True)
        for f in os.listdir(self.base_dir):
            os.link(os.path.join(self.base_dir, f), os.path.join(rep_dir, f))
        self.sf_dir = rep_dir
        register_views(spark, self.sf_dir, REGISTRY_TABLES)
        prewarm_fixtures(spark, self.sf_dir)

    def _query(self, spark, name):
        from symat_hbase_tools_spark.registry import QUERIES

        def fn():
            t = self.tracer
            with t.span("registry.construct") if t else contextlib.nullcontext():
                df = QUERIES[name](spark, self.sf_dir)
            with t.span("query.analyze") if t else contextlib.nullcontext():
                df.schema
            with t.span("query.plan") if t else contextlib.nullcontext():
                df._jdf.queryExecution().executedPlan()
            with t.span("query.execute") if t else contextlib.nullcontext():
                pdf = df.toPandas()
            return result_hash(pdf) == self.want[name], {"query": True, "rows": len(pdf)}

        return fn

    def round(self, runner: Runner, phase: str) -> None:
        """Every query once, in a new seeded order."""
        self.tracer = runner.tracer
        for i in self.rng.permutation(len(REGISTRY_QUERIES)):
            name = REGISTRY_QUERIES[i]
            runner.request(phase, name, self._query(runner.spark, name))


# ------------------------------------------------------------------ kv_tools

KV_ROWS = 15_000
#: the cold round runs every command once, in a fixed order: the first
#: command absorbs most of the JVM's warm-up, so a seeded order would move
#: that cost between commands from seed to seed
KV_COLD = ["repair", "corrupt-rows", "copy-row", "compact"]
#: the steady mix: mostly copy-row, the other commands mixed in at fixed
#: points, so every seed runs the same command sequence (the seed picks
#: the data and the copy-row keys)
KV_STEADY = (["copy-row"] * 4 + ["corrupt-rows"] + ["copy-row"] * 4 + ["repair"]
             + ["copy-row"] * 4 + ["compact"])
#: the steady window always holds at least this many requests
KV_MIN_STEADY = 9


class KvTools:
    """The reference surface: ``cli.main`` commands over one cells table,
    next to the registry queries a query service would serve.

    A cold round runs every command once, then every registry query once.
    The steady phase is mostly ``copy-row`` (a point read of one row plus
    an in-place rewrite of the table with the row's cells at a new
    version), with ``corrupt-rows``, ``repair`` and ``compact`` mixed in,
    followed by one more round of the queries. ``copy-row`` targets follow
    a seeded Zipf skew over the row keys, a tenth of which are binary. Each
    command's printed counters are checked against what the generator
    planted, updated for the cells earlier copies added; each query's
    result against its DuckDB oracle.
    """

    name = "kv_tools"
    #: whether requests run Python-worker kernels (set-up warms the workers)
    python_workers = False

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng([seed, 7])
        self.queries = RegistryQueries(work, seed)

    def make_inputs(self) -> dict:
        self.cells = gen.make_cells(self.work, self.seed, KV_ROWS)
        self.expect = dict(self.cells["expect"])
        self.out = os.path.join(self.work, "out")
        # Zipf-ranked hot keys over a seeded permutation of the rows
        self.order = self.rng.permutation(len(self.cells["keys"]))
        self.copies = 0
        return {"cells": self.cells["facts"], "registry": self.queries.make_inputs()}

    def oracle(self) -> None:
        self.queries.oracle()

    def setup(self, spark, rep: int) -> None:
        self.queries.setup(spark, rep)

    def _copy_row(self):
        rank = min(int(self.rng.zipf(1.3)) - 1, len(self.order) - 1)
        key = self.cells["keys"][self.order[rank]]
        self.copies += 1
        ts = gen.CELL_TS + 10_000 + self.copies
        table_bytes = gen.dir_bytes(self.cells["table"])
        rc, out = run_cli([
            "copy-row", "--sourceTable", self.cells["table"],
            "--destinationTable", self.cells["table"],
            "--rowKey", gen.escape_key(key), "--override", "--timestamp", str(ts),
        ])
        n = self.cells["visible_per_row"][key]
        m = re.search(r"copied (\d+) cells of row", out)
        ok = rc == 0 and m is not None and int(m.group(1)) == n
        if ok:
            self.expect["cells"] += n
        return ok, {
            "cells_put": n,
            "bytes_put": self.cells["visible_bytes_per_row"][key],
            "table_bytes": table_bytes,
        }

    def _corrupt_rows(self):
        rc, out = run_cli(["corrupt-rows", "--table", self.cells["table"],
                           "--outputDir", os.path.join(self.out, "report")])
        c, e = counters(out), self.expect
        ok = rc == 2 and c == {
            "TOTAL_ROWS": e["total_rows"],
            "SUCCESS_ROWS": e["total_rows"] - e["failed_rows"],
            "FAILED_ROWS": e["failed_rows"],
        }
        return ok, {}

    def _repair(self):
        rc, out = run_cli([
            "repair", "--authoritativeTable", self.cells["table"],
            "--replicaTable", self.cells["replica"],
            "--output", os.path.join(self.out, "repaired"),
            "--repairTimestamp", str(gen.CELL_TS + 5_000_000),
        ])
        c, e = counters(out), self.expect
        ok = rc == 2 and c == {
            "RESTORED_CELLS": e["restored"],
            "BACKFILLED_CELLS": e["backfilled"],
            "DELETED_CELLS": e["deleted"],
        }
        return ok, {}

    def _compact(self):
        rc, out = run_cli(["compact", "--table", self.cells["table"],
                           "--output", os.path.join(self.out, "compacted")])
        c, e = counters(out), self.expect
        ok = rc == 0 and c == {
            "CELLS_BEFORE": e["cells"],
            "CELLS_AFTER": e["visible_cells"],
            "RECLAIMED": e["cells"] - e["visible_cells"],
        }
        return ok, {}

    def run(self, runner: Runner, seconds: float) -> None:
        ops = {
            "copy-row": self._copy_row,
            "corrupt-rows": self._corrupt_rows,
            "repair": self._repair,
            "compact": self._compact,
        }
        for op in KV_COLD:
            runner.request("cold", op, ops[op])
        self.queries.round(runner, "cold")
        t_end = time.perf_counter() + seconds
        i = 0
        while i < KV_MIN_STEADY or time.perf_counter() < t_end:
            op = KV_STEADY[i % len(KV_STEADY)]
            runner.request("steady", op, ops[op])
            i += 1
        self.queries.round(runner, "steady")


# ----------------------------------------------------------- corpus_pipeline

CORPUS_SF = 0.01
PIPELINE = [
    ("dedup_containment", ["dedup", "--method", "containment"]),
    ("decontaminate", ["decontaminate"]),
    ("select", ["select"]),
    ("pack", ["pack"]),
    ("mine_negatives", ["mine-negatives"]),
]


def _pipeline_consistent(step: str, c: dict) -> bool:
    """Each command's counters must agree with each other."""
    g = c.get
    if step.startswith("dedup"):
        return g("DOCS_BEFORE", -1) - g("DOCS_AFTER", 0) == g("DROPPED") and g("DROPPED", 0) > 0
    if step == "decontaminate":
        return g("DOCS_BEFORE", -1) - g("BENCHMARK_DOCS", 0) - g("CONTAMINATED_DROPPED", 0) == g("DOCS_AFTER")
    if step == "select":
        return g("DOCS_TOTAL", 0) > g("DOCS_SELECTED", -1) > 0 and g("TOKENS_SELECTED", 0) > 0
    if step == "pack":
        # fill counts every token of the documents that start in a sequence,
        # so it can pass 1; its mean must be the token total over the budget
        # of all sequences (printed to 4 decimals)
        seqs, toks, budget = g("SEQUENCES", 0), g("TOTAL_TOKENS", 0), g("BUDGET", 0)
        return seqs > 0 and abs(g("MEAN_FILL", -1) - toks / (seqs * budget)) <= 5e-5
    if step == "mine_negatives":
        return g("NEGATIVE_PAIRS", 0) >= g("QUERIES", -1) > 0
    return False


class CorpusPipeline:
    """The LLM data-pipeline batch: each pass runs five ``cli.main``
    commands in order over a generated corpus. The first pass is what a
    one-shot run pays; later passes are timed as a whole. Counters must be
    self-consistent and identical in every pass."""

    name = "corpus_pipeline"
    #: whether requests run Python-worker kernels (set-up warms the workers)
    python_workers = True

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def make_inputs(self) -> dict:
        self.base_dir = os.path.join(self.work, "corpus")
        self.out = os.path.join(self.work, "out")
        return gen.make_corpus(self.base_dir, self.seed, CORPUS_SF)

    def _pass_dir(self, n_pass: int) -> str:
        """Each pass reads its own hard-linked copy of the corpus, as a batch
        job reads each day's new partition: a plan persisted by an earlier
        pass can never stand in for this pass's work."""
        d = f"{self.base_dir}-pass{n_pass}"
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(self.base_dir):
            os.link(os.path.join(self.base_dir, f), os.path.join(d, f))
        return d

    def oracle(self) -> None:
        pass

    def setup(self, spark, rep: int) -> None:
        pass

    def _step(self, step, argv, first, n_pass, sf_dir):
        def fn():
            out_dir = os.path.join(self.out, step)
            rc, out = run_cli([*argv, "--sfDir", sf_dir, "--output", out_dir])
            c = counters(out)
            ok = rc == 0 and _pipeline_consistent(step, c)
            if first.setdefault(step, c) != c:
                ok = False
            return ok, {"counters": c, "pass": n_pass}

        return fn

    def run(self, runner: Runner, seconds: float) -> None:
        first: dict = {}
        t_end = None
        passes = 0
        while passes < 2 or time.perf_counter() < t_end:
            if passes == 1:
                t_end = time.perf_counter() + seconds
            phase = "cold" if passes == 0 else "steady"
            sf_dir = self._pass_dir(passes)
            for step, argv in PIPELINE:
                runner.request(phase, step, self._step(step, argv, first, passes, sf_dir))
            passes += 1


WORKLOADS = {w.name: w for w in (KvTools, CorpusPipeline)}
