"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: no engine code runs while inputs are
made, so none of it is billed to ``setup_s``. The same seed always gives the
same files. Each generator returns a dict of input facts (row counts, file
bytes, seed) that the run record stores next to the metrics.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- relational

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> dict:
    table = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _emitter(out_dir: str, seed: int, facts: dict):
    os.makedirs(out_dir, exist_ok=True)

    def emit(name, build):
        # every table draws from its own child stream, so adding or dropping
        # a table never changes the values of another
        facts[name] = _write(out_dir, name, build(np.random.default_rng([seed, zlib.crc32(name.encode())])))

    return emit


def make_tables(out_dir: str, seed: int, sf: float) -> dict:
    """TPC-H-shaped customer, orders and lineitem tables plus events at scale
    ``sf`` (sf0.1 = 600k lineitems), in the column layout the engine's table
    loaders read."""
    facts = {}
    emit = _emitter(out_dir, seed, facts)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = n_ord * 4
    n_users = max(20, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))

    emit("customer", lambda r: {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)].tolist(),
    })
    order_day = np.random.default_rng(seed).integers(0, 2405, n_ord)

    emit("orders", lambda r: {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(r, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)].tolist(),
    })

    def lineitem(r):
        okey = r.integers(0, n_ord, n_line).astype(np.int64)
        ship = order_day[okey] + r.integers(1, 122, n_line)
        return {
            "l_orderkey": okey,
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)].tolist(),
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)].tolist(),
            "l_shipdate": _ts(_EPOCH_1995 + ship * _US_PER_DAY),
        }

    emit("lineitem", lineitem)

    def events(r):
        ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _US_PER_DAY, n_events))
        return {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": r.integers(0, n_users, n_events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)].tolist(),
            "value": np.round(r.exponential(40.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }

    emit("events", events)
    return {"seed": seed, "sf": sf, "tables": facts}


def make_corpus(out_dir: str, seed: int, sf: float) -> dict:
    """Documents and embeddings at scale ``sf`` (sf0.1 = 5000 documents and
    2000 vectors)."""
    facts = {}
    emit = _emitter(out_dir, seed, facts)
    emit("documents", lambda r: _documents(r, max(200, int(50_000 * sf))))
    emit("embeddings", lambda r: _embeddings(r, max(100, int(20_000 * sf))))
    return {"seed": seed, "sf": sf, "tables": facts}


def _fixed_counts(shares, n: int) -> np.ndarray:
    """``n`` split by ``shares`` into whole counts that sum to ``n``."""
    counts = np.floor(np.asarray(shares) * n).astype(int)
    counts[: n - counts.sum()] += 1
    return counts


def _documents(r, n_docs: int) -> dict:
    """Uniform-vocabulary documents of 10-100 words, 6% of them planted
    near duplicates (a copy of another document with a few words replaced
    and a ``dup`` token appended), so dedup and contamination have work to
    find.

    The corpus has the same shape for every seed: one fixed multiset of
    document lengths, exactly 6% duplicates whose sources span the length
    range evenly, and fixed per-language counts. The seed picks the words,
    the positions and the order, so seeds differ in content, not in the
    amount of work they ask for."""
    n_dups = int(0.06 * n_docs)
    n_orig = n_docs - n_dups
    is_dup = np.zeros(n_docs, bool)
    is_dup[r.choice(n_docs, n_dups, replace=False)] = True
    orig_ids = np.flatnonzero(~is_dup)
    lengths = r.permutation(np.linspace(10, 100, n_orig).round().astype(int))
    texts = [""] * n_docs
    for i, n in zip(orig_ids, lengths):
        texts[i] = " ".join(WORDS[k] for k in r.integers(0, len(WORDS), n))
    by_length = orig_ids[np.argsort(lengths, kind="stable")]
    sources = r.permutation(by_length[np.linspace(0, n_orig - 1, n_dups).round().astype(int)])
    for i, src in zip(np.flatnonzero(is_dup), sources):
        words = texts[src].split()
        for j in r.choice(len(words), max(1, len(words) // 20), replace=False):
            words[j] = WORDS[int(r.integers(0, len(WORDS)))]
        words.append("dup")
        texts[i] = " ".join(words)
    langs = r.permutation(np.repeat(LANGS, _fixed_counts(LANG_P, n_docs)))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(r, n_vecs: int, dim: int = 64, n_labels: int = 10) -> dict:
    """Unit vectors around one random centre per label, with the same
    number of vectors per label for every seed."""
    centres = r.normal(size=(n_labels, dim))
    labels = r.permutation(np.repeat(np.arange(n_labels), _fixed_counts([1 / n_labels] * n_labels, n_vecs)))
    v = centres[labels] + r.normal(scale=1.5, size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


# --------------------------------------------------------------------- cells

CELL_TS = 1_704_067_200_000
QUALIFIERS = [b"addr", b"email", b"name", b"phone", b"score", b"tier"]
CELLS_SCHEMA = pa.schema([
    pa.field("row", pa.binary(), False),
    pa.field("family", pa.string(), False),
    pa.field("qualifier", pa.binary(), False),
    pa.field("ts", pa.int64(), False),
    pa.field("type", pa.string(), False),
    pa.field("value", pa.binary(), True),
])


def escape_key(b: bytes) -> str:
    """HBase ``Bytes.toStringBinary``: printable ASCII except backslash
    verbatim, every other byte as an uppercase ``\\xNN`` escape."""
    return "".join(
        chr(c) if 0x20 <= c <= 0x7E and c != 0x5C else f"\\x{c:02X}" for c in b
    )


def _row_keys(r, n_rows: int) -> list[bytes]:
    """Printable ``user#`` keys, with every tenth row a binary key that
    carries non-printable bytes (``\\x00``-style) after a fixed prefix."""
    keys = []
    for i in range(n_rows):
        if i % 10 == 3:
            keys.append(b"bin\x00" + struct.pack(">I", i) + bytes([int(r.integers(0, 256))]))
        else:
            keys.append(b"user#%08d" % i)
    return keys


def make_cells(out_dir: str, seed: int, n_rows: int) -> dict:
    """A versioned cells table plus a diverged replica of it.

    The table has 3-6 qualifiers per row, each count on a quarter of the
    rows, so every seed writes the same number of cells. Every fifth row
    holds two older versions of its first qualifier; every 25th row has a
    ``Delete`` marker above its last qualifier; 2% of rows carry the
    ``corrupt`` marker qualifier the audit reports. The replica is the visible view of the
    table with planted divergence: changed values (restores), dropped
    cells (backfills) and extra cells (deletes).

    Returns input facts plus the counts every kv command must reproduce.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng([seed, zlib.crc32(b"cells")])
    keys = _row_keys(r, n_rows)
    n_quals = r.permutation(np.resize(np.arange(3, len(QUALIFIERS) + 1), n_rows))
    corrupt = set(int(i) for i in r.choice(n_rows, max(1, n_rows // 50), replace=False))

    cells = []  # (row, qualifier, ts, type, value)
    visible = {}  # row -> {qualifier: value}
    for i, key in enumerate(keys):
        quals = QUALIFIERS[: n_quals[i]]
        vis = {}
        for q in quals:
            v = b"%s-%d-%d" % (q, i, int(r.integers(0, 1_000_000)))
            cells.append((key, q, CELL_TS, "Put", v))
            vis[q] = v
        if i % 5 == 0:
            for age in (1, 2):
                cells.append((key, quals[0], CELL_TS - 1000 * age, "Put", b"old-%d" % age))
        if i % 25 == 7:
            cells.append((key, quals[-1], CELL_TS + 1000, "Delete", None))
            del vis[quals[-1]]
        if i in corrupt:
            cells.append((key, b"corrupt", CELL_TS, "Put", b"1"))
            vis[b"corrupt"] = b"1"
        visible[key] = vis

    replica = []
    restores = backfills = deletes = 0
    for i, key in enumerate(keys):
        for q, v in visible[key].items():
            roll = (i * 7 + len(q)) % 97
            if roll == 11:
                replica.append((key, q, CELL_TS, "Put", v + b"-stale"))
                restores += 1
            elif roll == 23:
                backfills += 1
            else:
                replica.append((key, q, CELL_TS, "Put", v))
        if i % 97 == 41:
            replica.append((key, b"extra", CELL_TS, "Put", b"x"))
            deletes += 1

    table_path = os.path.join(out_dir, "cells")
    replica_path = os.path.join(out_dir, "replica")
    _write_cells(table_path, cells)
    _write_cells(replica_path, replica)
    n_visible = sum(len(v) for v in visible.values())
    return {
        "facts": {
            "seed": seed,
            "rows": n_rows,
            "cells": len(cells),
            "replica_cells": len(replica),
            "table_bytes": dir_bytes(table_path),
        },
        "table": table_path,
        "replica": replica_path,
        "keys": keys,
        "visible_per_row": {k: len(v) for k, v in visible.items()},
        "visible_bytes_per_row": {
            k: sum(len(k) + 2 + len(q) + 8 + 3 + len(v) for q, v in vis.items())
            for k, vis in visible.items()
        },
        "expect": {
            "total_rows": n_rows,
            "failed_rows": len(corrupt),
            "cells": len(cells),
            "visible_cells": n_visible,
            "restored": restores,
            "backfilled": backfills,
            "deleted": deletes,
        },
    }


def _write_cells(path: str, cells: list) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*cells))
    table = pa.table(
        {
            "row": pa.array(cols[0], pa.binary()),
            "family": pa.array(["cf"] * len(cells), pa.string()),
            "qualifier": pa.array(cols[1], pa.binary()),
            "ts": pa.array(cols[2], pa.int64()),
            "type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.binary()),
        },
        schema=CELLS_SCHEMA,
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), row_group_size=16_384)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
