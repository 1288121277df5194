"""Top-k head pushdown: planning-time segment pruning and the
tie-extended per-segment row slice, Spark-free."""

import numpy as np
import pytest

from pinot_segment import manifest as M
from pinot_segment.metadata import DataType
from pinot_segment.segment_reader import SegmentReader
from pinot_segment.writer import ColumnSpec, write_segment


@pytest.fixture()
def table(tmp_path):
    """4 range-partitioned sorted segments of 100 rows each: keys
    [0,100), [100,200), ..."""
    td = tmp_path / "t_OFFLINE"
    for i in range(4):
        lo = i * 100
        write_segment(
            td / f"seg{i}",
            f"seg{i}",
            "t",
            [ColumnSpec("k", DataType.LONG, np.arange(lo, lo + 100))],
        )
    M.write_manifest(str(td), M.build_manifest(str(td)))
    return str(td)


def _reader(table, head):
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_pinot_spark.sources import pinot_datasource as ds

    segs = sorted(
        os.path.join(table, d, "v3")
        for d in os.listdir(table)
        if os.path.isdir(os.path.join(table, d, "v3"))
    )
    return ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), segs, head=head
    )


def test_head_prunes_later_segments(table):
    r = _reader(table, ("k", 150))
    parts = r.partitions()
    kept = [d for p in parts for d in p.segment_dirs]
    # 150 rows need seg0 (100 docs) + seg1; seg2/seg3 provably later
    assert len(kept) == 2


def test_head_k1_keeps_one_segment(table):
    r = _reader(table, ("k", 1))
    kept = [d for p in r.partitions() for d in p.segment_dirs]
    assert len(kept) == 1


def test_head_rows_are_sliced_and_exact(table):
    rows = []
    r = _reader(table, ("k", 150))
    for p in r.partitions():
        for batch in r.read(p):
            rows.extend(batch.column(0).to_pylist())
    # every one of the global first-150 keys present; each sorted segment
    # decoded at most ~k rows (seg0 all 100, seg1 sliced to 150)
    assert sorted(rows)[:150] == list(range(150))
    assert len(rows) <= 250


def test_head_tie_group_extends_slice(tmp_path):
    """First-k cut landing inside a tie group must extend through it, so
    an order-by-with-tiebreak limit stays exact."""
    td = tmp_path / "ties_OFFLINE"
    vals = np.array([0, 1, 2, 2, 2, 2, 3, 4], dtype=np.int64)
    write_segment(
        td / "seg0", "seg0", "t", [ColumnSpec("k", DataType.LONG, vals)]
    )
    M.write_manifest(str(td), M.build_manifest(str(td)))
    r = _reader(str(td), ("k", 4))  # cut lands inside the run of 2s
    rows = []
    for p in r.partitions():
        for batch in r.read(p):
            rows.extend(batch.column(0).to_pylist())
    assert rows == [0, 1, 2, 2, 2, 2]  # whole tie group included


def test_head_prune_scales_to_many_segments():
    """The pruning arithmetic itself is O(n log n): 20k synthetic stats
    entries plan in well under a second (the O(n^2) form took minutes)."""
    import time

    from datafusion_pinot_spark.sources.pinot_datasource import _head_prune

    n = 20_000
    segs = [f"/t/seg{i}/v3" for i in range(n)]
    stats = {
        s: {
            "total_docs": 100,
            "columns": {"k": {"min": i * 100, "max": i * 100 + 99}},
        }
        for i, s in enumerate(segs)
    }
    t0 = time.perf_counter()
    kept = _head_prune(segs, stats, ("k", 250))
    took = time.perf_counter() - t0
    assert len(kept) == 3  # 250 rows -> first three 100-doc segments
    assert took < 1.0, f"head pruning took {took:.2f}s for {n} segments"


def test_head_prune_keeps_boundary_tied_segments():
    """A segment whose max EQUALS another's min may hold tied rows the
    top-k needs — strictly-before counting only (bisect_left)."""
    from datafusion_pinot_spark.sources.pinot_datasource import _head_prune

    segs = ["/t/a/v3", "/t/b/v3"]
    stats = {
        "/t/a/v3": {"total_docs": 100,
                    "columns": {"k": {"min": 1, "max": 5}}},
        "/t/b/v3": {"total_docs": 100,
                    "columns": {"k": {"min": 5, "max": 9}}},
    }
    assert _head_prune(segs, stats, ("k", 100)) == segs  # b ties at 5


def test_head_prune_constant_column_keeps_everything():
    """All-equal values: nothing is provably before anything — the
    bisect_right form pruned EVERY segment here (each counted the other
    as wholly before) and returned zero rows."""
    from datafusion_pinot_spark.sources.pinot_datasource import _head_prune

    segs = [f"/t/s{i}/v3" for i in range(3)]
    stats = {
        s: {"total_docs": 100, "columns": {"k": {"min": 5, "max": 5}}}
        for s in segs
    }
    assert _head_prune(segs, stats, ("k", 50)) == segs


def test_head_disabled_under_pushed_filters(table):
    """head + a pushed filter would cap segments at their first k
    PHYSICAL rows, not the first k filtered rows — the reader must drop
    the pushdown when any filter is pushed."""
    from datafusion_pinot_spark.sources import pinot_datasource as ds

    r = _reader(table, ("k", 10))
    list(r.pushFilters([ds.GreaterThanOrEqual(("k",), 250)]))
    assert r._spec.head is None  # pushdown disabled, not half-applied
    rows = []
    for p in r.partitions():
        for batch in p and r.read(p) or []:
            rows.extend(batch.column(0).to_pylist())
    # the filtered result is complete: ALL 150 rows >= 250, not 10
    assert sorted(rows) == list(range(250, 400))


def test_tail_prunes_early_segments_and_slices(table):
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_pinot_spark.sources import pinot_datasource as ds

    segs = sorted(
        os.path.join(table, d, "v3")
        for d in os.listdir(table)
        if os.path.isdir(os.path.join(table, d, "v3"))
    )
    r = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), segs, tail=("k", 150)
    )
    parts = r.partitions()
    kept = [d for p in parts for d in p.segment_dirs]
    assert len(kept) == 2  # only the last two segments hold the last 150
    rows = []
    for p in parts:
        for batch in r.read(p):
            rows.extend(batch.column(0).to_pylist())
    # every one of the global LAST 150 keys present, bounded decode
    assert sorted(rows)[-150:] == list(range(250, 400))
    assert len(rows) <= 250


def test_tail_tie_group_extends_slice(tmp_path):
    td = tmp_path / "tt_OFFLINE"
    vals = np.array([0, 1, 2, 2, 2, 2, 3, 4], dtype=np.int64)
    write_segment(
        td / "seg0", "seg0", "t", [ColumnSpec("k", DataType.LONG, vals)]
    )
    M.write_manifest(str(td), M.build_manifest(str(td)))
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_pinot_spark.sources import pinot_datasource as ds

    segs = [os.path.join(str(td), "seg0", "v3")]
    r = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), segs, tail=("k", 4)
    )
    rows = []
    for p in r.partitions():
        for batch in r.read(p):
            rows.extend(batch.column(0).to_pylist())
    assert rows == [2, 2, 2, 2, 3, 4]  # leading tie group included


from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(
    seg_rows=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=30), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=1, max_value=15),
    reverse=st.booleans(),
)
def test_head_tail_pushdown_never_loses_topk_rows(
    tmp_path_factory, seg_rows, k, reverse
):
    """Against random range-layouts with duplicates and overlaps: the
    rows surviving head/tail pruning + slicing must CONTAIN the exact
    global top-k (by value with any tiebreak) — the invariant that makes
    a Spark-side orderBy().limit(k) correct. Over-decode is allowed,
    loss is not."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from datafusion_pinot_spark.sources import pinot_datasource as ds

    tmp = tmp_path_factory.mktemp("ht")
    td = tmp / "t_OFFLINE"
    all_vals = []
    for i, rows in enumerate(seg_rows):
        vals = np.array(sorted(rows), dtype=np.int64)  # in-segment sorted
        all_vals.extend(vals.tolist())
        write_segment(
            td / f"seg{i}", f"seg{i}", "t",
            [ColumnSpec("k", DataType.LONG, vals)],
        )
    M.write_manifest(str(td), M.build_manifest(str(td)))
    segs = sorted(
        os.path.join(str(td), d, "v3")
        for d in os.listdir(str(td))
        if os.path.isdir(os.path.join(str(td), d, "v3"))
    )
    kw = {"tail": ("k", k)} if reverse else {"head": ("k", k)}
    r = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), segs, **kw
    )
    got = []
    for p in r.partitions():
        for batch in r.read(p):
            got.extend(batch.column(0).to_pylist())
    want = sorted(all_vals, reverse=reverse)[: min(k, len(all_vals))]
    have = sorted(got, reverse=reverse)
    # multiset containment: the top-k values (with duplicates) all present
    from collections import Counter

    cw, ch = Counter(want), Counter(have[: len(want)])
    assert all(ch[v] >= 0 for v in cw)
    assert sorted(have[: len(want)]) == sorted(want), (seg_rows, k, reverse)
