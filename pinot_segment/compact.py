"""Segment merge (compaction) at the storage layer.

The streaming sink lands one segment set per micro-batch, so a long-lived
REALTIME-style table accumulates many small segments — the classic
small-file problem. Pinot solves it server-side with minion merge tasks;
the reference engine has no write path at all (README.md:418), so this is
a beyond-parity maintenance primitive: read N member segments, concatenate
their columns, and write ONE segment that preserves each column's
physical configuration (RAW vs dictionary, multi-value, nullability,
inverted index, bloom filter, partition map). Sortedness is *re-detected*
by the writer — merging segments whose sort-key ranges are disjoint and
ordered yields a sorted merged segment; anything else correctly loses the
flag.

``rollup`` mirrors Pinot's merge-rollup minion task: rows sharing the
dimension values collapse to one, with metric columns aggregated
(sum/min/max). A count is a summed ones-column, exactly Pinot's
convention for rollup-ed count metrics.

Orchestration (grouping, distribution, commit/rename, manifest upkeep)
lives in datafusion_pinot_spark/maintenance.py — this module is Spark-free
so it is testable at the byte level and usable from any runner.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from pinot_segment.errors import UnsupportedFeatureError
from pinot_segment.metadata import DataType
from pinot_segment.segment_reader import SegmentReader
from pinot_segment.var_byte import LZ4_LENGTH_PREFIXED, PASS_THROUGH
from pinot_segment.writer import ColumnSpec, write_segment

_ROLLUP_AGGS = ("sum", "min", "max")
_TEXT = (DataType.STRING, DataType.BYTES)
_RANGE_TYPES = (
    DataType.INT,
    DataType.LONG,
    DataType.TIMESTAMP,
    DataType.FLOAT,
    DataType.DOUBLE,
)
# index kind -> the ColumnMetadata flag that says a segment carries it
_INDEX_FLAGS = {
    "inverted": "has_inverted_index",
    "bloom": "has_bloom_filter",
    "range": "has_range_index",
    "text": "has_text_index",
    "json": "has_json_index",
}


def _index_valid(kind: str, meta) -> bool:
    """Where a rewritten segment may carry each index kind: inverted on
    dictionary columns (multi-value ones included — bitmap i marks the
    docs whose array holds value i), every other kind on single-value
    columns only: text/JSON on STRING, range on numerics."""
    if kind == "inverted":
        return meta.has_dictionary
    if not meta.is_single_value:
        return False
    if kind in ("text", "json"):
        return meta.data_type is DataType.STRING
    if kind == "range":
        return meta.data_type in _RANGE_TYPES
    return True  # bloom


def check_index(column: str, meta, index: str) -> None:
    """Raise ValueError unless ``index`` can be added to ``column``."""
    if index not in _INDEX_FLAGS:
        raise ValueError(f"unknown index kind: {index!r}")
    if not _index_valid(index, meta):
        shape = "single-value" if meta.is_single_value else "multi-value"
        encoding = "dictionary" if meta.has_dictionary else "RAW"
        raise ValueError(
            f"column '{column}': {index} index is not valid on a {shape} "
            f"{encoding} {meta.data_type.value} column"
        )


def _column_spec(
    name: str, metas: list, values, null_mask, add_index: "str | None" = None
) -> ColumnSpec:
    """The rewritten column's spec: the physical configuration of the
    source segments' ``metas`` (RAW vs dictionary, multi-value,
    nullability, partition map), their index set as a union — if ANY
    source carried an index the output keeps it (a fleet rollout
    mid-stream must not silently drop indexes) — plus ``add_index``
    (which the caller checks with :func:`check_index`), all constrained
    to where the index is valid. RAW STRING/BYTES/BIG_DECIMAL re-compress
    with the sink's default codec (LZ4 length-prefixed); the original
    per-chunk codec is not part of the logical schema."""
    m = metas[0]
    has = {
        kind: _index_valid(kind, m)
        and (kind == add_index or any(getattr(x, flag) for x in metas))
        for kind, flag in _INDEX_FLAGS.items()
    }
    raw = not m.has_dictionary
    partition_config = None
    if m.partition_function is not None and all(
        x.partition_function == m.partition_function
        and x.num_partitions == m.num_partitions
        for x in metas
    ):
        partition_config = (m.partition_function, m.num_partitions)
    return ColumnSpec(
        name,
        m.data_type,
        values,
        raw=raw,
        compression=(
            LZ4_LENGTH_PREFIXED
            if raw and m.data_type in (*_TEXT, DataType.BIG_DECIMAL)
            else PASS_THROUGH
        ),
        multi_value=not m.is_single_value,
        null_mask=null_mask,
        inverted=has["inverted"],
        bloom=has["bloom"],
        text_index=has["text"],
        range_index=has["range"],
        json_index=has["json"],
        partition_config=partition_config,
        decimal=(
            (m.decimal_precision, m.decimal_scale)
            if m.data_type is DataType.BIG_DECIMAL
            else None
        ),
    )


def _text_arrow(readers: list, name: str, selection=None):
    """The column across ``readers`` as one Arrow ChunkedArray (a chunk per
    reader) when it is single-value null-free STRING/BYTES in EVERY
    reader, else None. The metadata gate runs over all readers before any
    decode, so a nullable late member costs no wasted decode. Nullable
    text stays on read_column: the writer re-encodes the forward index's
    *fill* values (null_mask carries the truth), but read_columns_arrow
    applies the null-vector as Arrow validity and would lose them."""
    for r in readers:
        m = r.metadata.get_column(name)
        if not m.is_single_value or m.has_null_values or m.data_type not in _TEXT:
            return None
    import pyarrow as pa

    return pa.chunked_array(
        [
            chunk
            for r in readers
            for chunk in r.read_columns_arrow([name], selection=selection)
            .column(0)
            .chunks
        ]
    )


def _read_values(readers: list, name: str, selection=None, arrow=True):
    """One column's values across ``readers``, concatenated in order;
    ``selection`` (doc ids, single reader) keeps only those docs. Text
    eligible for :func:`_text_arrow` stays in Arrow (RAW text chunks
    holding no selected doc never decompress); everything else comes from
    read_column."""
    values = _text_arrow(readers, name, selection) if arrow else None
    if values is not None:
        return values
    parts = [r.read_column(name) for r in readers]
    if selection is not None:
        parts = [
            p[selection] if isinstance(p, np.ndarray) else [p[i] for i in selection]
            for p in parts
        ]
    if readers[0].metadata.get_column(name).is_single_value and isinstance(
        parts[0], np.ndarray
    ):
        return np.concatenate(parts)
    return [v for part in parts for v in part]


def _read_null_mask(readers: list, name: str, selection=None):
    """The column's per-doc null flags across ``readers`` (None when no
    reader has nulls)."""
    if not any(r.metadata.get_column(name).has_null_values for r in readers):
        return None
    nm = np.concatenate(
        [
            nm if (nm := r.null_mask(name)) is not None
            else np.zeros(r.total_docs(), dtype=bool)
            for r in readers
        ]
    )
    return nm if selection is None else nm[selection]


def merge_segments(
    member_dirs: list[str],
    segment_dir: str | Path,
    segment_name: str,
    table_name: str,
    rollup: "tuple[list[str], dict[str, str]] | None" = None,
    keep_latest: "tuple[list[str], str, tuple] | None" = None,
) -> Path:
    """Merge the member v3 segments (in the given order) into one segment
    at ``segment_dir``; returns the new v3 path. Raises if the members'
    schemas (column set, types, SV/MV) disagree. RAW STRING/BYTES columns
    re-compress with the sink's default codec (LZ4 length-prefixed); the
    original per-chunk codec is not part of the logical schema.

    ``rollup=(dims, metrics)`` additionally collapses rows sharing the
    ``dims`` values, aggregating each metric column by its named function
    (sum/min/max). Every column must then be a dim or a metric, and
    neither may be multi-value or nullable (Pinot's merge-rollup has the
    same shape: dimensions + aggregated metrics)."""
    readers = [SegmentReader.open(d) for d in member_dirs]
    base_cols = readers[0].column_names()
    for r in readers[1:]:
        if r.column_names() != base_cols:
            raise UnsupportedFeatureError(
                f"cannot merge segments with different columns: "
                f"{base_cols} vs {r.column_names()}"
            )

    cols: dict[str, dict] = {}
    for name in base_cols:
        metas = [r.metadata.get_column(name) for r in readers]
        m = metas[0]
        for x in metas[1:]:
            if (
                x.data_type is not m.data_type
                or x.has_dictionary != m.has_dictionary
                or x.is_single_value != m.is_single_value
            ):
                raise UnsupportedFeatureError(
                    f"cannot merge: column '{name}' has inconsistent "
                    "physical type across members"
                )
        cols[name] = {
            "metas": metas,
            "dt": m.data_type,
            "mv": not m.is_single_value,
            # rollup/keep_latest work on pandas frames, so only a plain
            # concat merge keeps text in Arrow
            "values": _read_values(
                readers, name, arrow=rollup is None and keep_latest is None
            ),
            "null_mask": _read_null_mask(readers, name),
        }

    if rollup is not None and keep_latest is not None:
        raise UnsupportedFeatureError(
            "rollup and keep_latest are mutually exclusive"
        )
    if rollup is not None:
        _apply_rollup(cols, *rollup)
    if keep_latest is not None:
        _apply_keep_latest(cols, *keep_latest)

    specs = [
        _column_spec(name, c["metas"], c["values"], c["null_mask"])
        for name, c in cols.items()
    ]
    return write_segment(segment_dir, segment_name, table_name, specs)


def _apply_rollup(
    cols: dict, dims: list[str], metrics: dict[str, str]
) -> None:
    """Collapse rows sharing ``dims`` values; aggregate ``metrics`` in
    place. Output rows come out sorted by the dims (pandas groupby sort),
    so a leading dim regains the writer's isSorted flag for free."""
    import pandas as pd

    declared = set(dims) | set(metrics)
    if declared != set(cols):
        raise UnsupportedFeatureError(
            "rollup requires every column to be a dim or a metric; "
            f"unaccounted: {sorted(set(cols) ^ declared)}"
        )
    for name, fn in metrics.items():
        if fn not in _ROLLUP_AGGS:
            raise UnsupportedFeatureError(
                f"rollup metric '{name}': unsupported agg '{fn}'"
            )
        if cols[name]["dt"] not in (
            DataType.INT,
            DataType.LONG,
            DataType.FLOAT,
            DataType.DOUBLE,
            DataType.TIMESTAMP,
        ):
            raise UnsupportedFeatureError(
                f"rollup metric '{name}' must be numeric, got "
                f"{cols[name]['dt'].value}"
            )
    for name in cols:
        if cols[name]["mv"] or cols[name]["null_mask"] is not None:
            raise UnsupportedFeatureError(
                f"rollup over multi-value or nullable column '{name}' is "
                "not supported"
            )

    frame = _frame(cols)
    grouped = frame.groupby(list(dims), sort=True, as_index=False).agg(metrics)
    _writeback(cols, grouped)


def _apply_keep_latest(
    cols: dict, key_columns: list[str], compare_column: str, tiebreakers=()
) -> None:
    """Physical upsert cleanup (the compaction side of Pinot's upsert
    tables): within the merged rows, keep only the newest record per
    primary key — newest = max ``compare_column``, ties broken by the
    ``tiebreakers`` in order. Superseded versions disappear from disk;
    the query-time last-wins window (catalog.load_upsert_table) stays
    correct before, during, and after because last-wins is idempotent —
    per-group cleanup removes bounded garbage, full-table compaction
    converges to exactly one row per key. Output sorted by the key
    columns, so a leading key regains isSorted."""
    for name in (*key_columns, compare_column, *tiebreakers):
        if name not in cols:
            raise UnsupportedFeatureError(
                f"keep_latest column '{name}' not in segment"
            )
    for name in cols:
        if cols[name]["mv"] or cols[name]["null_mask"] is not None:
            raise UnsupportedFeatureError(
                f"keep_latest over multi-value or nullable column "
                f"'{name}' is not supported"
            )
    frame = _frame(cols)
    order = [compare_column, *tiebreakers]
    frame = (
        frame.sort_values(order, ascending=False, kind="mergesort")
        .drop_duplicates(subset=list(key_columns), keep="first")
        .sort_values(list(key_columns), kind="mergesort")
    )
    _writeback(cols, frame)


def _frame(cols: dict):
    import pandas as pd

    return pd.DataFrame(
        {
            name: (
                c["values"]
                if isinstance(c["values"], list)
                else np.asarray(c["values"])
            )
            for name, c in cols.items()
        }
    )


def _writeback(cols: dict, frame) -> None:
    for name in cols:
        out = frame[name].to_numpy()
        if cols[name]["dt"] is DataType.STRING:
            cols[name]["values"] = [str(v) for v in out]
        elif cols[name]["dt"] is DataType.BYTES:
            cols[name]["values"] = list(out)
        else:
            cols[name]["values"] = out


def filter_segment(
    member_dir: str,
    segment_dir: str | Path,
    segment_name: str,
    table_name: str,
    keep_mask: np.ndarray,
) -> Path:
    """Rewrite ONE segment keeping only the rows where ``keep_mask`` is
    True — the storage kernel of row-level deletion (GDPR erasure /
    predicate delete). Preserves each column's physical configuration the
    same way :func:`merge_segments` does (RAW vs dictionary, multi-value,
    nullability, index set, partition map); sortedness is re-detected by
    the writer and a sorted segment stays sorted (filtering preserves
    order). Spark-free, like everything in this module — orchestration
    (zone-map triage, fan-out, commit) lives in maintenance.delete_rows.
    """
    reader = SegmentReader.open(member_dir)
    n = reader.total_docs()
    keep_mask = np.asarray(keep_mask, dtype=bool)
    if keep_mask.shape != (n,):
        raise ValueError(
            f"keep_mask length {keep_mask.shape} != total_docs {n}"
        )
    if not keep_mask.any():
        raise ValueError(
            "filter_segment keeps zero rows — drop the whole segment "
            "instead of writing an empty one"
        )
    idx = np.flatnonzero(keep_mask)
    specs = [
        _column_spec(
            name,
            [reader.metadata.get_column(name)],
            _read_values([reader], name, selection=idx),
            _read_null_mask([reader], name, selection=idx),
        )
        for name in reader.column_names()
    ]
    return write_segment(segment_dir, segment_name, table_name, specs)


def reindex_segment(
    member_dir: str,
    segment_dir: str | Path,
    segment_name: str,
    table_name: str,
    column: str,
    index: str = "inverted",
) -> Path:
    """Rewrite ONE segment with ``index`` ADDED on ``column`` — the
    storage kernel of Pinot's reload-with-new-index-config lifecycle
    (table config gains an index, minions rebuild segments; the data is
    bit-identical, only the index set changes). All other columns keep
    their physical configuration; the target column keeps its encoding
    and gains the requested index. An index the column cannot carry (the
    validity matrix of :func:`merge_segments`' index union) raises
    ValueError.

    Spark-free; orchestration (which segments, fan-out, commit) lives in
    maintenance.reindex_table."""
    reader = SegmentReader.open(member_dir)
    meta = reader.metadata.get_column(column)
    if meta is None:
        raise ValueError(f"column not in segment: {column}")
    check_index(column, meta, index)
    specs = [
        _column_spec(
            name,
            [reader.metadata.get_column(name)],
            _read_values([reader], name),
            _read_null_mask([reader], name),
            add_index=index if name == column else None,
        )
        for name in reader.column_names()
    ]
    return write_segment(segment_dir, segment_name, table_name, specs)
