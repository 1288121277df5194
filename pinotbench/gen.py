"""Seeded input generation, shared by the Spark write tasks and the oracle.

A table is a list of segments; segment ``g`` of table ``tag`` is a pure
function of ``(seed, tag, g)``, so a write task builds its own rows from
three integers (the driver ships no rows) and the DuckDB oracle rebuilds the
identical rows in its own process.

Columns (one schema for every table):

- ``k``     LONG, the table-wide row number; sorted within a segment and
            disjoint across segments, so zone maps prune key ranges.
- ``uid``   LONG, a bijection of ``k`` (odd multiplier mod 2**40): unique
            and scattered across segments, so only a bloom filter prunes an
            equality on it.
- ``dim``   STRING, 16 values, dictionary-encoded (inverted index where the
            layout asks for one).
- ``grp``   LONG, 100 values, dictionary-encoded.
- ``qty``   LONG, 1..50, dictionary-encoded.
- ``price`` DOUBLE with two decimals, dictionary-encoded.
- ``txt``   STRING, about rows/4 distinct values, RAW with LZ4 chunks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SPARK_SCHEMA = (
    "k long, uid long, dim string, grp long, qty long, price double, txt string"
)
COLUMNS = ("k", "uid", "dim", "grp", "qty", "price", "txt")
DIMS = [f"dim_{i:02d}" for i in range(16)]
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]
_UID_MULT = np.uint64(0x9E3779B97F4A7C15)
_UID_MASK = np.uint64((1 << 40) - 1)


def uid_of(seed: int, tag: int, k):
    """The ``uid`` of row ``k`` (vectorised over numpy arrays)."""
    k = np.asarray(k, dtype=np.uint64)
    off = np.uint64((seed * 1_000_003 + tag * 7919) & ((1 << 40) - 1))
    return ((k * _UID_MULT + off) & _UID_MASK).astype(np.int64)


def segment(seed: int, tag: int, g: int, rows: int, table_rows: int) -> pa.RecordBatch:
    """Rows of segment ``g`` (``rows`` rows) of a table of ``table_rows``."""
    rng = np.random.default_rng([seed, tag, g])
    k = np.arange(g * rows, (g + 1) * rows, dtype=np.int64)
    h = rng.integers(0, max(1, table_rows // 4), rows)
    txt = pc.binary_join_element_wise(
        "sess",
        pc.cast(pa.array(h), pa.string()),
        pa.array(WORDS).take(pa.array(h % len(WORDS))),
        "-",
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(k),
            pa.array(uid_of(seed, tag, k)),
            pa.array(DIMS).take(pa.array(rng.integers(0, len(DIMS), rows))),
            pa.array(rng.integers(0, 100, rows)),
            pa.array(rng.integers(1, 51, rows)),
            pa.array(np.round(rng.uniform(1.0, 1000.0, rows), 2)),
            txt,
        ],
        names=list(COLUMNS),
    )


def table(seed: int, tag: int, segments, rows: int, table_rows: int) -> pa.Table:
    return pa.Table.from_batches(
        [segment(seed, tag, g, rows, table_rows) for g in segments]
    )


def write_task_fn(seed: int, tag: int, rows: int, table_rows: int):
    """A ``mapInArrow`` function: each input row carries a segment index
    ``g`` (from ``spark.range``); the task emits that segment's rows."""

    def fn(batches):
        for b in batches:
            for g in b.column(0).to_pylist():
                yield segment(seed, tag, g, rows, table_rows)

    return fn
