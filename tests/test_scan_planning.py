"""Batch scan planning: the default doc-count packing, planning-time bloom
pruning, and ``explain_scan``'s counts — all at planner level (readers
built directly, no Spark session).

The planning CPU count is pinned to 4 so task counts do not depend on the
host."""

import os

import numpy as np
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from datafusion_pinot_spark.sources import pinot_datasource as ds
from pinot_segment import SegmentReader
from pinot_segment import manifest as M
from pinot_segment.metadata import DataType
from pinot_segment.writer import ColumnSpec, write_segment

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "golden_OFFLINE")
N_SEG = 64
ROWS = 100
SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("uid", LongType()),
        StructField("dim", StringType()),
        StructField("p", LongType()),
    ]
)


@pytest.fixture(autouse=True)
def four_cpus(monkeypatch):
    monkeypatch.setattr(ds, "_planning_cpus", lambda: 4)


def _write_table(table, n_seg, rows, bloom=True):
    """``n_seg`` segments: ``k`` sorted and contiguous across segments,
    ``uid`` unique and scattered (zone maps cannot prune it), ``dim`` a
    4-value string, ``p`` partitioned Modulo 4 with segment i holding only
    residue i % 4."""
    uids = np.random.default_rng(5).permutation(n_seg * rows).astype(np.int64)
    for i in range(n_seg):
        sl = slice(i * rows, (i + 1) * rows)
        write_segment(
            table / f"seg{i:03d}",
            f"seg{i:03d}",
            "t",
            [
                ColumnSpec("k", DataType.LONG, np.arange(sl.start, sl.stop)),
                ColumnSpec("uid", DataType.LONG, uids[sl], raw=True, bloom=bloom),
                ColumnSpec("dim", DataType.STRING, [f"d{j % 4}" for j in range(rows)]),
                ColumnSpec(
                    "p",
                    DataType.LONG,
                    np.arange(rows, dtype=np.int64) * 4 + i % 4,
                    partition_config=("Modulo", 4),
                ),
            ],
        )
    return uids


def _segments(table) -> list:
    return M._segment_v3_dirs(str(table))


@pytest.fixture(scope="module")
def small_table(tmp_path_factory):
    table = tmp_path_factory.mktemp("plan") / "small_OFFLINE"
    uids = _write_table(table, N_SEG, ROWS)
    M.write_manifest(str(table), M.build_manifest(str(table)))
    return table, uids


@pytest.fixture()
def opened(monkeypatch):
    calls = []
    real_open = SegmentReader.open.__func__
    monkeypatch.setattr(
        SegmentReader,
        "open",
        classmethod(lambda cls, d: (calls.append(str(d)), real_open(cls, d))[1]),
    )
    return calls


def _keys(reader) -> list:
    return [
        v
        for p in reader.partitions()
        for batch in reader.read(p)
        for v in batch.column(0).to_pylist()
    ]


def test_small_segments_pack_contiguously_in_row_order(small_table):
    table, _ = small_table
    segs = _segments(table)
    schema = StructType([StructField("k", LongType())])
    reader = ds.PinotDataSourceReader(schema, segs)
    parts = reader.partitions()
    assert len(parts) <= 2 * 4
    assert [len(p.segment_dirs) for p in parts] == [8] * 8
    # contiguous groups: concatenated they are the segment list itself
    assert [d for p in parts for d in p.segment_dirs] == segs
    one_each = ds.PinotDataSourceReader(schema, segs, 1)
    assert len(one_each.partitions()) == N_SEG
    assert _keys(reader) == _keys(one_each) == list(range(N_SEG * ROWS))


def test_equal_large_segments_keep_a_task_each(tmp_path):
    table = tmp_path / "large_OFFLINE"
    for i in range(8):
        write_segment(
            table / f"seg{i}",
            f"seg{i}",
            "t",
            [
                ColumnSpec(
                    "k",
                    DataType.LONG,
                    np.arange(i * 50_000, (i + 1) * 50_000),
                    raw=True,
                )
            ],
        )
    M.write_manifest(str(table), M.build_manifest(str(table)))
    reader = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), _segments(table)
    )
    assert [len(p.segment_dirs) for p in reader.partitions()] == [1] * 8


def test_doc_target_is_capped(small_table):
    table, _ = small_table
    reader = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), _segments(table)
    )
    reader._AUTO_DOCS_PER_TASK = 4 * ROWS
    assert [len(p.segment_dirs) for p in reader.partitions()] == [4] * 16


def test_no_manifest_opens_nothing_and_keeps_a_task_each(tmp_path, opened):
    table = tmp_path / "bare_OFFLINE"
    _write_table(table, 6, 10)
    segs = _segments(table)
    reader = ds.PinotDataSourceReader(SCHEMA, segs)
    parts = reader.partitions()
    assert opened == []
    assert [p.segment_dirs for p in parts] == [(s,) for s in segs]


def test_segments_without_fresh_stats_get_their_own_task(tmp_path):
    table = tmp_path / "stale_OFFLINE"
    _write_table(table, 32, 10)
    M.write_manifest(str(table), M.build_manifest(str(table)))
    segs = _segments(table)
    # rewrite seg002's metadata so its manifest fingerprint goes stale
    props = os.path.join(segs[2], "metadata.properties")
    with open(props, "a") as f:
        f.write("\n")
    reader = ds.PinotDataSourceReader(SCHEMA, segs)
    groups = [p.segment_dirs for p in reader.partitions()]
    assert (segs[2],) in groups
    assert [d for g in groups for d in g] == segs


def test_bloomed_point_lookup_plans_only_bloom_survivors(small_table, opened):
    table, uids = small_table
    segs = _segments(table)
    target = int(uids[37 * ROWS + 5])  # a uid held by seg037
    reader = ds.PinotDataSourceReader(SCHEMA, segs)
    list(reader.pushFilters([ds.EqualTo(("uid",), target)]))
    parts = reader.partitions()
    kept = [d for p in parts for d in p.segment_dirs]
    # the driver probed every zone-map survivor's bloom filter, once each
    assert sorted(opened) == sorted(segs)
    survivors = [
        s
        for s in segs
        if SegmentReader.open(s).bloom_might_contain("uid", [target])
    ]
    assert kept == survivors and segs[37] in kept
    assert len(kept) < N_SEG // 4
    rows = [
        r
        for p in parts
        for batch in reader.read(p)
        for r in batch.to_pylist()
    ]
    assert [(r["k"], r["uid"]) for r in rows] == [(37 * ROWS + 5, target)]


def test_equality_on_a_column_without_bloom_opens_nothing(small_table, opened):
    table, _ = small_table
    reader = ds.PinotDataSourceReader(SCHEMA, _segments(table))
    list(reader.pushFilters([ds.EqualTo(("dim",), "d1")]))
    kept = [d for p in reader.partitions() for d in p.segment_dirs]
    assert opened == []
    assert len(kept) == N_SEG


def test_manifest_entry_without_bloom_mark_keeps_the_segment(tmp_path, opened):
    table = tmp_path / "old_OFFLINE"
    uids = _write_table(table, 8, 10)
    manifest = M.build_manifest(str(table))
    for st in manifest["segments"].values():
        assert st["columns"]["uid"].pop("bloom") is True
    M.write_manifest(str(table), manifest)
    segs = _segments(table)
    opened.clear()
    reader = ds.PinotDataSourceReader(SCHEMA, segs)
    list(reader.pushFilters([ds.EqualTo(("uid",), int(uids[0]))]))
    kept = [d for p in reader.partitions() for d in p.segment_dirs]
    assert opened == []
    assert kept == segs


def test_manifest_marks_bloomed_columns_only(small_table):
    table, _ = small_table
    manifest = M.load_manifest(str(table))
    for st in manifest.values():
        assert st["columns"]["uid"]["bloom"] is True
        assert all("bloom" not in st["columns"][c] for c in ("k", "dim", "p"))


# -- explain_scan -------------------------------------------------------------


# the golden fixture is one 97,889-doc segment without a manifest
GOLDEN_PLAN = {
    "segments": 1,
    "kept": 1,
    "pruned_zone_map": 0,
    "pruned_partition_map": 0,
    "pruned_bloom": 0,
    "pruned_head_tail": 0,
    "tasks": 1,
}


@pytest.mark.parametrize(
    "filters,want",
    [
        ([], {}),
        ([ds.GreaterThan(("hits",), 262)], {"kept": 0, "pruned_zone_map": 1}),
        ([ds.EqualTo(("yearID",), 1871)], {}),
        ([ds.IsNull(("avg",))], {"kept": 0, "pruned_zone_map": 1}),
        ([ds.StringStartsWith(("playerID",), "zz")], {"kept": 0, "pruned_zone_map": 1}),
    ],
)
def test_explain_scan_counts_on_golden_fixture(filters, want):
    got = ds.explain_scan(GOLDEN, filters, columns=["hits", "playerID"])
    assert got == {**GOLDEN_PLAN, **want}


def test_explain_scan_golden_segment_list_and_head():
    seg = os.path.join(GOLDEN, "golden_OFFLINE_0", "v3")
    # one segment: nothing sits wholly before it
    assert ds.explain_scan([seg], [], options={"head": "hits:5"}) == GOLDEN_PLAN


def test_explain_scan_counts_each_pruning_step(small_table):
    table, uids = small_table
    path = str(table)
    full = ds.explain_scan(path, [], columns=["k"])
    assert (full["segments"], full["kept"], full["tasks"]) == (N_SEG, N_SEG, 8)

    zone = ds.explain_scan(path, [ds.GreaterThanOrEqual(("k",), 60 * ROWS)])
    assert (zone["kept"], zone["pruned_zone_map"], zone["tasks"]) == (4, 60, 4)

    part = ds.explain_scan(path, [ds.EqualTo(("p",), 5)])
    assert (part["kept"], part["pruned_partition_map"]) == (16, 48)
    assert part["pruned_zone_map"] == 0

    target = int(uids[3])
    bloom = ds.explain_scan(path, [ds.EqualTo(("uid",), target)])
    assert bloom["pruned_bloom"] == N_SEG - bloom["kept"]
    assert 1 <= bloom["kept"] < N_SEG // 4

    head = ds.explain_scan(path, [], options={"head": "k:150"})
    assert (head["kept"], head["pruned_head_tail"]) == (2, N_SEG - 2)

    empty = ds.explain_scan(path, [ds.EqualTo(("k",), -1)])
    assert (empty["kept"], empty["tasks"]) == (0, 1)  # the empty sentinel


def test_explain_scan_matches_partitions(small_table):
    """explain_scan and partitions() run one planning path."""
    table, uids = small_table
    filters = [ds.EqualTo(("uid",), int(uids[700]))]
    src = ds.PinotDataSource({"path": str(table)})
    reader = src.reader(src.schema())
    list(reader.pushFilters(filters))
    parts = reader.partitions()
    got = ds.explain_scan(str(table), filters)
    assert got["tasks"] == len(parts)
    assert got["kept"] == sum(len(p.segment_dirs) for p in parts)
