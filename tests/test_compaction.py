"""Segment compaction: storage-level merge semantics and the distributed
compact_table maintenance job (grouping, commit, manifest upkeep)."""

import os

import numpy as np
import pytest

from pinot_segment import SegmentReader
from pinot_segment.compact import merge_segments
from pinot_segment.errors import UnsupportedFeatureError
from pinot_segment.metadata import DataType
from pinot_segment.writer import ColumnSpec, write_segment


def _seg(tmp_path, name, lo, hi, **kw):
    keys = np.arange(lo, hi, dtype=np.int64)
    return write_segment(
        tmp_path / name,
        name,
        "t",
        [
            ColumnSpec("k", DataType.LONG, keys, raw=True, **kw),
            ColumnSpec(
                "lang",
                DataType.STRING,
                ["en" if i % 2 == 0 else "de" for i in range(lo, hi)],
            ),
        ],
    )


def test_merge_concatenates_and_redetects_sorted(tmp_path):
    # members cover disjoint ordered ranges → merged segment stays sorted
    a = _seg(tmp_path, "a", 0, 100)
    b = _seg(tmp_path, "b", 100, 250)
    v3 = merge_segments([str(a), str(b)], tmp_path / "m", "m", "t")
    r = SegmentReader.open(v3)
    assert r.total_docs() == 250
    np.testing.assert_array_equal(r.read_column("k"), np.arange(250))
    assert r.metadata.get_column("k").is_sorted
    # reversed member order un-sorts the data; the writer must notice
    v3r = merge_segments([str(b), str(a)], tmp_path / "m2", "m2", "t")
    rr = SegmentReader.open(v3r)
    assert not rr.metadata.get_column("k").is_sorted
    assert rr.total_docs() == 250


def test_merge_preserves_index_config_and_nulls(tmp_path):
    vals = np.array([1, 2, 3, 4], dtype=np.int64)
    mask = np.array([False, True, False, False])
    a = write_segment(
        tmp_path / "a",
        "a",
        "t",
        [
            ColumnSpec("x", DataType.LONG, vals, raw=True, null_mask=mask, bloom=True),
            ColumnSpec("tag", DataType.STRING, ["p", "q", "p", "q"], inverted=True),
            ColumnSpec("mv", DataType.INT, [[1], [2, 3], [], [4]], multi_value=True),
        ],
    )
    b = write_segment(
        tmp_path / "b",
        "b",
        "t",
        [
            ColumnSpec("x", DataType.LONG, np.array([7, 8], dtype=np.int64), raw=True, bloom=True),
            ColumnSpec("tag", DataType.STRING, ["q", "r"], inverted=True),
            ColumnSpec("mv", DataType.INT, [[5, 6], [7]], multi_value=True),
        ],
    )
    v3 = merge_segments([str(a), str(b)], tmp_path / "m", "m", "t")
    r = SegmentReader.open(v3)
    cx, ct, cm = (r.metadata.get_column(c) for c in ("x", "tag", "mv"))
    assert cx.has_bloom_filter and cx.has_null_values and not cx.has_dictionary
    assert ct.has_inverted_index and ct.has_dictionary
    assert not cm.is_single_value
    # null positions survive the merge
    nm = r.null_mask("x")
    np.testing.assert_array_equal(nm, [False, True, False, False, False, False])
    # bloom answers over the union of members
    assert r.bloom_might_contain("x", [8]) is True
    assert r.bloom_might_contain("x", [99]) is False
    # inverted index over the merged dictionary
    m = r.inverted_match_mask("tag", ["q"])
    np.testing.assert_array_equal(m, [False, True, False, True, True, False])
    # MV rows concatenate in order
    assert r.read_column("mv") == [[1], [2, 3], [], [4], [5, 6], [7]]


def test_merge_rejects_schema_mismatch(tmp_path):
    a = _seg(tmp_path, "a", 0, 10)
    b = write_segment(
        tmp_path / "b",
        "b",
        "t",
        [ColumnSpec("k", DataType.LONG, np.arange(5), raw=True)],
    )
    with pytest.raises(UnsupportedFeatureError, match="different columns"):
        merge_segments([str(a), str(b)], tmp_path / "m", "m", "t")


def test_plan_compaction_packing(tmp_path):
    from datafusion_pinot_spark.maintenance import plan_compaction

    table = tmp_path / "t_OFFLINE"
    sizes = {"s1": 100, "s2": 200, "s3": 300, "s4": 900, "s5": 50}
    for name, docs in sizes.items():
        _seg(table, name, 0, docs)
    groups = plan_compaction(str(table), target_docs=600)
    flat = [m for g in groups for m in g]
    assert "s4" not in flat  # >= target stays alone
    assert all(len(g) >= 2 for g in groups)
    # every group respects the budget
    for g in groups:
        assert sum(sizes[m] for m in g) <= 600
    # first-fit-decreasing packs the three largest smalls into one group;
    # the 50-doc leftover can't fit and a singleton group is pointless
    assert groups == [["s3", "s2", "s1"]]


def test_compact_table_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_pinot_spark.maintenance import compact_table
    from datafusion_pinot_spark.sources import register_pinot_source
    from pinot_segment.manifest import load_manifest

    register_pinot_source(spark)
    out = str(tmp_path / "tbl_OFFLINE")
    # 12 tiny segments — the streaming sink's natural debris
    (
        spark.range(0, 1200)
        .selectExpr("id AS k", "concat('v', id % 7) AS tag")
        .repartition(12)
        .write.format("pinot")
        .mode("overwrite")
        .save(out)
    )
    before = spark.read.format("pinot").load(out)
    expected = before.agg(
        F.count("*").alias("n"), F.sum("k").alias("s")
    ).collect()[0]
    n_before = sum(
        os.path.isdir(os.path.join(out, d, "v3")) for d in os.listdir(out)
    )
    assert n_before == 12

    summary = compact_table(spark, out, target_docs=500)
    assert summary["groups"] >= 2
    assert len(summary["removed_segments"]) == 12

    n_after = sum(
        os.path.isdir(os.path.join(out, d, "v3")) for d in os.listdir(out)
    )
    assert n_after == summary["groups"] < n_before
    after = spark.read.format("pinot").load(out)
    got = after.agg(F.count("*").alias("n"), F.sum("k").alias("s")).collect()[0]
    assert (got["n"], got["s"]) == (expected["n"], expected["s"])
    # manifest stays fresh: O(1) planning still holds post-compaction
    assert load_manifest(out) is not None


def test_compact_table_noop_when_segments_large_enough(spark, tmp_path):
    from datafusion_pinot_spark.maintenance import compact_table
    from datafusion_pinot_spark.sources import register_pinot_source

    register_pinot_source(spark)
    out = str(tmp_path / "tbl_OFFLINE")
    (
        spark.range(0, 100)
        .selectExpr("id AS k")
        .repartition(1)
        .write.format("pinot")
        .mode("overwrite")
        .save(out)
    )
    summary = compact_table(spark, out, target_docs=50)
    assert summary == {
        "groups": 0,
        "merged_segments": [],
        "removed_segments": [],
    }


def test_merge_rollup_collapses_and_aggregates(tmp_path):
    from pinot_segment.compact import merge_segments

    def seg(name, flags, qtys):
        return write_segment(
            tmp_path / name,
            name,
            "t",
            [
                ColumnSpec("flag", DataType.STRING, flags),
                ColumnSpec(
                    "qty", DataType.LONG, np.asarray(qtys, dtype=np.int64),
                    raw=True,
                ),
                ColumnSpec(
                    "cnt",
                    DataType.LONG,
                    np.ones(len(qtys), dtype=np.int64),
                    raw=True,
                ),
            ],
        )

    a = seg("a", ["A", "B", "A"], [10, 20, 30])
    b = seg("b", ["B", "C"], [5, 7])
    v3 = merge_segments(
        [str(a), str(b)],
        tmp_path / "m",
        "m",
        "t",
        rollup=(["flag"], {"qty": "sum", "cnt": "sum"}),
    )
    r = SegmentReader.open(v3)
    assert r.total_docs() == 3  # A, B, C
    assert r.read_column("flag") == ["A", "B", "C"]
    np.testing.assert_array_equal(r.read_column("qty"), [40, 25, 7])
    np.testing.assert_array_equal(r.read_column("cnt"), [2, 2, 1])
    # pandas groupby sorts dims -> the leading dim is written sorted
    assert r.metadata.get_column("flag").is_sorted


def test_merge_rollup_min_max(tmp_path):
    from pinot_segment.compact import merge_segments

    a = write_segment(
        tmp_path / "a",
        "a",
        "t",
        [
            ColumnSpec("g", DataType.LONG, np.array([1, 1, 2]), raw=True),
            ColumnSpec(
                "lo", DataType.DOUBLE, np.array([3.0, 1.5, 9.0]), raw=True
            ),
            ColumnSpec(
                "hi", DataType.DOUBLE, np.array([3.0, 1.5, 9.0]), raw=True
            ),
        ],
    )
    v3 = merge_segments(
        [str(a)],
        tmp_path / "m",
        "m",
        "t",
        rollup=(["g"], {"lo": "min", "hi": "max"}),
    )
    r = SegmentReader.open(v3)
    np.testing.assert_array_equal(r.read_column("lo"), [1.5, 9.0])
    np.testing.assert_array_equal(r.read_column("hi"), [3.0, 9.0])


def test_merge_rollup_validation(tmp_path):
    from pinot_segment.compact import merge_segments

    a = _seg(tmp_path, "a", 0, 10)  # columns k (long) + lang (string)
    with pytest.raises(UnsupportedFeatureError, match="dim or a metric"):
        merge_segments(
            [str(a)], tmp_path / "m", "m", "t", rollup=(["lang"], {})
        )
    with pytest.raises(UnsupportedFeatureError, match="unsupported agg"):
        merge_segments(
            [str(a)], tmp_path / "m2", "m2", "t",
            rollup=(["lang"], {"k": "avg"}),
        )
    with pytest.raises(UnsupportedFeatureError, match="must be numeric"):
        merge_segments(
            [str(a)], tmp_path / "m3", "m3", "t",
            rollup=(["k"], {"lang": "sum"}),
        )


def test_compact_table_with_rollup_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_pinot_spark.maintenance import compact_table
    from datafusion_pinot_spark.sources import register_pinot_source

    register_pinot_source(spark)
    out = str(tmp_path / "tbl_OFFLINE")
    (
        spark.range(0, 3000)
        .selectExpr(
            "concat('u', id % 50) AS user_key",
            "id AS amount",
            "CAST(1 AS BIGINT) AS cnt",
        )
        .repartition(10)
        .write.format("pinot")
        .mode("overwrite")
        .save(out)
    )
    summary = compact_table(
        spark,
        out,
        target_docs=1000,
        rollup=(["user_key"], {"amount": "sum", "cnt": "sum"}),
    )
    assert summary["groups"] >= 1
    back = spark.read.format("pinot").load(out)
    agg = back.agg(
        F.sum("cnt").alias("n"), F.sum("amount").alias("s")
    ).collect()[0]
    # table-wide aggregates survive the rollup exactly
    assert (agg["n"], agg["s"]) == (3000, sum(range(3000)))
    # and the table physically shrank: each merged segment holds at most
    # one row per distinct user_key (50), ungrouped segments keep theirs
    n_ungrouped_rows = 3000 - 300 * len(summary["removed_segments"])
    assert back.count() <= 50 * summary["groups"] + n_ungrouped_rows
    assert back.count() < 3000


def test_merge_keep_latest(tmp_path):
    from pinot_segment.compact import merge_segments

    def seg(name, rows):
        ks, vers, pays = zip(*rows)
        return write_segment(
            tmp_path / name,
            name,
            "t",
            [
                ColumnSpec("k", DataType.LONG, np.asarray(ks), raw=True),
                ColumnSpec(
                    "version", DataType.LONG, np.asarray(vers), raw=True
                ),
                ColumnSpec("payload", DataType.STRING, list(pays)),
            ],
        )

    a = seg("a", [(1, 100, "old-a"), (2, 100, "b")])
    b = seg("b", [(1, 200, "new-a"), (3, 50, "c")])
    v3 = merge_segments(
        [str(a), str(b)],
        tmp_path / "m",
        "m",
        "t",
        keep_latest=(["k"], "version", ()),
    )
    r = SegmentReader.open(v3)
    assert r.total_docs() == 3
    np.testing.assert_array_equal(r.read_column("k"), [1, 2, 3])
    assert r.read_column("payload") == ["new-a", "b", "c"]
    assert r.metadata.get_column("k").is_sorted  # key-sorted output


def test_merge_keep_latest_exclusive_with_rollup(tmp_path):
    from pinot_segment.compact import merge_segments

    a = _seg(tmp_path, "a", 0, 5)
    with pytest.raises(UnsupportedFeatureError, match="mutually exclusive"):
        merge_segments(
            [str(a)], tmp_path / "m", "m", "t",
            rollup=(["lang"], {"k": "sum"}),
            keep_latest=(["k"], "k", ()),
        )


def test_compact_keep_latest_upsert_read_invariant(spark, tmp_path):
    """compact_table(keep_latest=...) shrinks the table physically while
    load_upsert_table returns the identical result before and after."""
    from datafusion_pinot_spark.catalog import PinotCatalog
    from datafusion_pinot_spark.maintenance import compact_table
    from datafusion_pinot_spark.sources import register_pinot_source

    register_pinot_source(spark)
    data_dir = str(tmp_path)
    out = f"{data_dir}/kv_OFFLINE"
    # 6 micro-batches, each updating the same 40 keys with a new version
    for batch in range(6):
        (
            spark.range(0, 40)
            .selectExpr(
                "id AS k",
                f"CAST({batch} AS BIGINT) AS version",
                f"concat('v{batch}-', id) AS payload",
            )
            .coalesce(1)
            .write.format("pinot")
            .mode("append" if batch else "overwrite")
            .save(out)
        )
    cat = PinotCatalog.filesystem(data_dir)
    before = sorted(
        (r["k"], r["version"], r["payload"])
        for r in cat.load_upsert_table(
            spark, "kv", "k", "version"
        ).collect()
    )
    assert all(v == 5 for _, v, _ in before)

    summary = compact_table(
        spark, out, target_docs=1000, keep_latest=(["k"], "version", ())
    )
    assert summary["groups"] >= 1
    back = spark.read.format("pinot").load(out)
    # 6x40 = 240 raw rows collapse toward 40 live versions
    assert back.count() < 240
    after = sorted(
        (r["k"], r["version"], r["payload"])
        for r in cat.load_upsert_table(
            spark, "kv", "k", "version"
        ).collect()
    )
    assert after == before


def test_purge_segments_retention(tmp_path):
    from datafusion_pinot_spark.maintenance import purge_segments
    from pinot_segment import manifest as M

    table = tmp_path / "t_OFFLINE"
    # three time-ranged segments: [0,100), [100,200), [200,300)
    for i, name in enumerate(["old", "mid", "new"]):
        _seg(table, name, i * 100, (i + 1) * 100)
    M.write_manifest(str(table), M.build_manifest(str(table)))

    out = purge_segments(str(table), "k", older_than=150)
    # only 'old' (max 99) is provably expired; 'mid' straddles and stays
    assert out == {"removed_segments": ["old"], "kept_segments": 2}
    # r10: commits also append the snapshot log (snapshots.json)
    assert sorted(os.listdir(table)) == [
        "mid", "new", "segment_stats.json", "snapshots.json",
    ]
    # manifest rewritten for the survivors — still loadable/fresh
    assert set(M.load_manifest(str(table))) == {"mid", "new"}


def test_purge_segments_without_manifest(tmp_path):
    from datafusion_pinot_spark.maintenance import purge_segments

    table = tmp_path / "t_OFFLINE"
    _seg(table, "old", 0, 50)
    _seg(table, "new", 500, 600)
    out = purge_segments(str(table), "k", older_than=100)
    assert out["removed_segments"] == ["old"]
    assert out["kept_segments"] == 1


def test_merge_preserves_text_and_range_indexes(tmp_path):
    import numpy as np

    from pinot_segment import SegmentReader
    from pinot_segment.compact import merge_segments
    from pinot_segment.metadata import DataType
    from pinot_segment.writer import ColumnSpec, write_segment

    # member A carries both indexes, member B carries neither — the merged
    # segment keeps them (union semantics: a fleet rollout mid-stream must
    # not silently drop indexes)
    a = write_segment(
        tmp_path / "a",
        "a",
        "t",
        [
            ColumnSpec(
                "txt",
                DataType.STRING,
                ["spark scan", "join"],
                text_index=True,
            ),
            ColumnSpec(
                "k", DataType.LONG, np.array([5, 1]), range_index=True
            ),
        ],
    )
    b = write_segment(
        tmp_path / "b",
        "b",
        "t",
        [
            ColumnSpec("txt", DataType.STRING, ["spark join", "x"]),
            ColumnSpec("k", DataType.LONG, np.array([9, 3])),
        ],
    )
    v3 = merge_segments([str(a), str(b)], tmp_path / "m", "m", "t")
    r = SegmentReader.open(str(v3))
    assert r.metadata.get_column("txt").has_text_index
    assert r.metadata.get_column("k").has_range_index
    assert list(r.text_match_mask("txt", ["spark"])) == [
        True,
        False,
        True,
        False,
    ]
    definite, cand = r.range_classify("k", 4, True, 10, True)
    vals = np.asarray(r.read_column("k"))
    truth = (vals >= 4) & (vals <= 10)
    assert not (definite & ~truth).any()
    assert not (truth & ~(definite | cand)).any()


def test_compact_table_failed_merge_leaves_table_unchanged(spark, tmp_path):
    """A merge that raises inside its Spark task (members with different
    column sets) fails compact_table before any rename: the segment set,
    the manifest, the row count and verify_table all stay as they were."""
    from datafusion_pinot_spark.maintenance import compact_table
    from pinot_segment.manifest import refresh_manifest
    from pinot_segment.verify import verify_table

    table = tmp_path / "tbl_OFFLINE"
    _seg(table, "s0", 0, 10)
    write_segment(
        table / "s1",
        "s1",
        "t",
        [ColumnSpec("k", DataType.LONG, np.arange(10, 25, dtype=np.int64))],
    )
    refresh_manifest(str(table))
    manifest = (table / "segment_stats.json").read_bytes()

    def segments():
        return sorted(p.name for p in table.iterdir() if (p / "v3").is_dir())

    with pytest.raises(Exception, match="different columns"):
        compact_table(spark, str(table), target_docs=100)
    assert segments() == ["s0", "s1"]
    assert (table / "segment_stats.json").read_bytes() == manifest
    rows = sum(
        SegmentReader.open(str(table / s / "v3")).total_docs() for s in segments()
    )
    assert rows == 25
    assert all(not findings for findings in verify_table(str(table)).values())


@pytest.mark.parametrize("column,index", [("k", "text"), ("lang", "range")])
def test_reindex_table_rejects_invalid_index_on_driver(tmp_path, column, index):
    """The validity check runs over the triage metadata before any Spark
    task is planned (``spark=None`` would fail at fan-out)."""
    from datafusion_pinot_spark.maintenance import reindex_table

    table = tmp_path / "tbl_OFFLINE"
    _seg(table, "s0", 0, 10)
    with pytest.raises(ValueError, match=f"'{column}'.*{index}"):
        reindex_table(None, str(table), column, index)
    assert sorted(p.name for p in table.iterdir()) == ["s0"]
