"""Serve-many persist hygiene: the one place an operator pins an
intermediate DataFrame that its plan references more than once.

A long-lived session (the ``entry`` plan cache, the bench loop, an
in-process ``cli.main``) calls the same operators repeatedly. Each call
persists a small intermediate; without a release the cached blocks pile up
until the context cleaner happens to GC them. ``pin`` keeps one
process-wide ``site -> DataFrame`` registry and releases a site's previous
pin before it persists the new one, so outstanding cache is bounded at one
table per pin site. Sites that must share that bound share one name (the
three IVF probe paths pin ``"ivf_probe"``).

The release never strips another operator's pushdown barrier: Spark's
CacheManager matches entries by analyzed plan, several sites pin the same
shared subplan, and a cache removed under a live plan lets Catalyst
re-inline an interpreted HOF into a Filter (the double-evaluation class).
Guarded by the HOF plan gate: ``tests/test_plans.py::
test_no_interpreted_hof_reinlined_into_filters`` and the pin-release tests
in ``tests/test_caches.py``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: the DataFrame each pin site holds persisted
_PINS: dict[str, DataFrame] = {}


def _same(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:
        # a handle from a stopped session compares as different
        return False


def pin(df: DataFrame, site: str) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) as ``site``'s pin and return it,
    releasing the site's previous pin first.

    Release rule: if the previous plan is the same as ``df``
    (``sameSemantics``) it is unpersisted and ``df`` re-pinned, so data
    rewritten under the same path is re-read, never served stale. A
    different previous plan is unpersisted only if no other site holds the
    same plan, since unpersisting it would drop that site's cache too. A
    handle from a stopped session is dropped without raising.

    A plan built with different parameters (a non-default shingle ``n``)
    is its own plan: it takes the site over but leaves the default plan
    cached while another site still pins it.

    Cached intermediates are per call, not per DataFrame: callers
    materialize each result before the next call that pins the same site.
    Composing two lazy results that pin one site before collecting loses
    the first call's cache, which costs a recompute, never correctness.
    """
    prev = _PINS.pop(site, None)
    if prev is not None and (
        _same(prev, df) or not any(_same(prev, o) for o in _PINS.values())
    ):
        try:
            prev.unpersist(blocking=False)
        except Exception:
            # the session that persisted it was stopped: its blocks died
            # with the context, and a throw would wedge the new session
            pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINS[site] = df
    return df
