"""Prepared-plan and scan cache invalidation: regenerated testdata (new file
mtimes) must never be served a stale plan, and both caches stay bounded."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from symat_hbase_tools_spark import entry
from tests.conftest import SF_DIR


def _copy_sf(tmp_path, name="sf"):
    d = str(tmp_path / name)
    os.makedirs(d)
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_DIR, f), os.path.join(d, f))
    return d


def test_plan_cache_invalidates_on_regenerated_testdata(spark, tmp_path):
    d = _copy_sf(tmp_path)
    q = entry.QUERIES["q1_pricing_summary"]
    df1 = q(spark, d)
    assert q(spark, d) is df1, "same (session, query, sf_dir, mtime) must hit"
    # regenerate one table: halve lineitem
    li_path = os.path.join(d, "lineitem.parquet")
    half = spark.read.parquet(li_path).filter(F.col("l_orderkey") % 2 == 0)
    tmp_out = str(tmp_path / "li_new")
    half.coalesce(1).write.parquet(tmp_out)
    part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
    shutil.rmtree(li_path) if os.path.isdir(li_path) else os.remove(li_path)
    shutil.copy(os.path.join(tmp_out, part), li_path)
    os.utime(li_path)  # ensure a fresh mtime even on coarse filesystems
    df2 = q(spark, d)
    assert df2 is not df1, "regenerated testdata must miss the plan cache"
    assert df2.count() > 0  # the fresh plan executes against the new file


def test_plan_cache_bounded(spark, tmp_path):
    entry._PLAN_CACHE.clear()
    entry._PLAN_CACHE.update(
        {("fake", i): None for i in range(entry._PLAN_CACHE_MAX)}
    )
    q = entry.QUERIES["q1_pricing_summary"]
    q(spark, SF_DIR)
    assert len(entry._PLAN_CACHE) <= entry._PLAN_CACHE_MAX
    entry._PLAN_CACHE.clear()


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE name must be a registered query (a typo here
    would fail the per-round bench artifact, not CI, without this guard) and
    oracle-paired (the embedded DuckDB control times the same names). The
    SUMMARY_KEEP names must resolve too, once each, and be HEADLINE names:
    a renamed query would otherwise fall silently into the dropped set."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from symat_hbase_tools_spark.entry import ORACLE_SQL, QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert missing == [], missing
    unpaired = [n for n in bench.HEADLINE if n not in ORACLE_SQL]
    assert unpaired == [], unpaired
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    missing = [n for n in bench.SUMMARY_KEEP if n not in QUERIES]
    assert missing == [], missing
    assert len(set(bench.SUMMARY_KEEP)) == len(bench.SUMMARY_KEEP)
    outside = [n for n in bench.SUMMARY_KEEP if n not in bench.HEADLINE]
    assert outside == [], outside


def test_dedup_pin_hygiene_bounded(spark, tmp_path):
    """Serve-many hygiene: repeated dedup-operator calls keep at most ONE
    outstanding pinned table per pin site — each previous call's pin is
    released in Spark's cache before the new pin (plans/serve_cache.py).
    Each call reads its own corpus copy, so every call pins a distinct
    plan and a released handle reads StorageLevel.NONE."""
    from pyspark import StorageLevel

    from symat_hbase_tools_spark.operators import dedup
    from symat_hbase_tools_spark.plans import serve_cache

    handles = []
    for i in range(3):
        d = _copy_sf(tmp_path, f"sf{i}")
        dedup.ngram_jaccard_pairs(spark, d).collect()
        dedup.containment_pairs(spark, d).collect()
        handles.append(serve_cache._PINS["intersection_pairs"])
    for i, h in enumerate(handles[:-1]):
        assert h.storageLevel == StorageLevel.NONE, (
            f"call {i}'s pin is still cached — release-before-pin broken"
        )
    assert handles[-1].storageLevel == StorageLevel.MEMORY_AND_DISK


def test_once_per_plan_pins_release_previous_call(spark, tmp_path):
    """pack_sequences, repair_visible and benchmark_contamination_fuzzy pin
    once per call: a second call on a distinct input copy releases the
    first call's pin instead of leaving it cached for the session's life."""
    from pyspark import StorageLevel

    from symat_hbase_tools_spark.operators import contamination, packing, repair
    from symat_hbase_tools_spark.plans import serve_cache
    from symat_hbase_tools_spark.registry.wrappers import _corrupted_replica
    from symat_hbase_tools_spark.sources.cells import customer_cells
    from symat_hbase_tools_spark.sources.tables import load_table

    def pack(d):
        docs = load_table(spark, d, "documents")
        packing.pack_sequences(docs, budget=2048).collect()

    def fix(d):
        auth = customer_cells(load_table(spark, d, "customer"))
        repair.repair_visible(auth, _corrupted_replica(auth), 1).collect()

    def fuzzy(d):
        contamination.benchmark_contamination_fuzzy(spark, d).collect()

    first, second = _copy_sf(tmp_path, "a"), _copy_sf(tmp_path, "b")
    for call, sites in [
        (pack, ["pack_sequences"]),
        (fix, ["repair_authoritative", "repair_replica"]),
        (fuzzy, ["contamination_fuzzy_hs"]),
    ]:
        call(first)
        held = [serve_cache._PINS[s] for s in sites]
        call(second)
        for site, h in zip(sites, held):
            assert h.storageLevel == StorageLevel.NONE, site
            now = serve_cache._PINS[site].storageLevel
            assert now == StorageLevel.MEMORY_AND_DISK, site


def test_shared_plan_pin_release_keeps_pushdown_barrier(spark):
    """Round-16 regression (caught by the HOF plan gate): several operators
    pin the SAME shared subplan (_doc_shingles serves the contamination
    family AND incremental_dedup), and Spark's CacheManager matches entries
    by analyzed plan — so releasing another operator's pin removed the
    InMemoryRelation pushdown barrier and Catalyst re-inlined the
    interpreted shingle HOF into a Filter (double-eval class). The pin-site
    release-then-repin discipline must keep the barrier intact for a plan
    built before the other operator ran."""
    from symat_hbase_tools_spark.operators import contamination, dedup
    from symat_hbase_tools_spark.plans.explain import assert_no_hof_in_filters

    df = contamination.contamination_overlap_census(spark, SF_DIR)
    # a different operator re-pinning the same shingle subplan must not
    # strip df's barrier (the old entry-point release did exactly that)
    dedup.incremental_dedup(spark, SF_DIR).collect()
    assert_no_hof_in_filters(df)
    assert df.count() > 0


def test_repin_with_other_n_keeps_shared_plan_barrier(spark):
    """A slot re-pinned with a different plan must not unpersist its old
    plan while another slot still holds the same plan: minhash_lsh_pairs
    and contamination_overlap_census (n=3) pin the same hashed-shingle
    subplan, and re-pinning the census at n=5 used to strip minhash's
    InMemoryRelation, re-inlining the shingle HOF into a Filter."""
    from symat_hbase_tools_spark.operators import contamination, dedup
    from symat_hbase_tools_spark.plans.explain import assert_no_hof_in_filters

    df = dedup.minhash_lsh_pairs(spark, SF_DIR)
    df.collect()
    contamination.contamination_overlap_census(spark, SF_DIR, n=3).collect()
    contamination.contamination_overlap_census(spark, SF_DIR, n=5).collect()
    assert_no_hof_in_filters(df)
    # df's own executed plan is memoized; the plan df.count() runs is
    # analyzed now, against the cache as the re-pin left it
    assert_no_hof_in_filters(df.groupBy().count())
    assert df.count() > 0
