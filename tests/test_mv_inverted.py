"""MV inverted index: bitmap i marks docs whose ARRAY contains dictionary
value i (Pinot parity). Storage-level round trip + the mv_contains
fallback equivalence."""

import numpy as np
import pytest

from pinot_segment.metadata import DataType
from pinot_segment.segment_reader import SegmentReader
from pinot_segment.writer import ColumnSpec, write_segment

ROWS = [
    [1, 2],
    [2, 3, 3],
    [],
    [7],
    [3, 1],
]


@pytest.fixture()
def seg(tmp_path):
    return SegmentReader.open(
        str(
            write_segment(
                tmp_path / "seg0",
                "seg0",
                "t",
                [
                    ColumnSpec(
                        "mods",
                        DataType.INT,
                        ROWS,
                        multi_value=True,
                        inverted=True,
                    ),
                    ColumnSpec("k", DataType.LONG, np.arange(len(ROWS))),
                ],
            )
        )
    )


def test_mv_inverted_mask_matches_membership(seg):
    for v in (1, 2, 3, 7, 9):
        m = seg.inverted_match_mask("mods", [v])
        assert m is not None, "MV inverted bitmap must be present"
        want = [v in row for row in ROWS]
        assert m.tolist() == want, v


def test_mv_inverted_multi_value_or(seg):
    m = seg.inverted_match_mask("mods", [2, 7])
    assert m.tolist() == [True, True, False, True, False]


def test_mv_contains_rows_index_and_fallback_agree(tmp_path):
    from datafusion_pinot_spark.sources.pinot_datasource import (
        _mv_contains_rows,
    )

    indexed = SegmentReader.open(
        str(
            write_segment(
                tmp_path / "with_idx",
                "a",
                "t",
                [
                    ColumnSpec(
                        "mods", DataType.INT, ROWS, multi_value=True,
                        inverted=True,
                    )
                ],
            )
        )
    )
    plain = SegmentReader.open(
        str(
            write_segment(
                tmp_path / "no_idx",
                "b",
                "t",
                [ColumnSpec("mods", DataType.INT, ROWS, multi_value=True)],
            )
        )
    )
    for v in ("1", "3", "9"):
        a = _mv_contains_rows(indexed, ("mods", v))
        b = _mv_contains_rows(plain, ("mods", v))
        assert a.tolist() == b.tolist(), v
    # the indexed segment really answers from bitmaps
    assert indexed.inverted_match_mask("mods", [3]) is not None
    assert plain.inverted_match_mask("mods", [3]) is None


def test_spark_sink_writes_mv_inverted(spark, tmp_path):
    """The Spark write path must THREAD the inverted option to MV
    columns (it silently dropped it once): the landed segment carries
    real bitmaps, not just the decode fallback."""
    import os

    from datafusion_pinot_spark.sources import register_pinot_source

    register_pinot_source(spark)
    out = str(tmp_path / "t_OFFLINE")
    df = spark.createDataFrame(
        [(1, [1, 2]), (2, [2, 3]), (3, [7])],
        "doc_id long, mods array<int>",
    )
    df.coalesce(1).write.format("pinot").mode("overwrite").option(
        "inverted", "mods"
    ).save(out)
    segs = [
        os.path.join(out, d, "v3")
        for d in os.listdir(out)
        if os.path.isdir(os.path.join(out, d, "v3"))
    ]
    assert len(segs) == 1
    r = SegmentReader.open(segs[0])
    m = r.inverted_match_mask("mods", [2])
    assert m is not None, "sink dropped the MV inverted flag"
    assert sorted(np.asarray(r.read_column("doc_id"))[m].tolist()) == [1, 2]


def test_merge_keeps_mv_inverted_index(tmp_path):
    """A rewrite keeps an MV dictionary column's inverted index (merge,
    filter and reindex share the index-validity rule): the merged bitmaps
    answer membership over both members' rows."""
    from pinot_segment import compact

    more = [[9, 1], [], [3]]
    members = [
        str(
            write_segment(
                tmp_path / name,
                name,
                "t",
                [
                    ColumnSpec(
                        "mods", DataType.INT, rows, multi_value=True, inverted=True
                    )
                ],
            )
        )
        for name, rows in (("a", ROWS), ("b", more))
    ]
    merged = SegmentReader.open(
        str(compact.merge_segments(members, tmp_path / "m", "m", "t"))
    )
    assert merged.metadata.columns["mods"].has_inverted_index
    for v in (1, 2, 3, 7, 9, 4):
        m = merged.inverted_match_mask("mods", [v])
        assert m is not None
        assert m.tolist() == [v in row for row in ROWS + more], v
