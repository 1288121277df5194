"""Per-segment behaviour of the scan.

Zone-map pruning reads per-segment stats from the table's
segment_stats.json manifest (written from the sink's in-memory column
specs) and, for segments the manifest does not cover, collects the same
stats by opening the segment. Both sources must give the same skip
decision for every pushed filter kind. The read pipeline must also serve
a projection made only of columns an older segment lacks.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from datafusion_pinot_spark.sources import pinot_datasource as ds
from pinot_segment import manifest as M


def _write(table_dir, name, schema, columns, indexes):
    """One segment, named after ``name``, through the sink's task-side
    write and driver commit (no Spark session: the task falls back to
    partition id 0)."""
    writer = ds.PinotDataSourceWriter(
        schema, table_dir, name, frozenset(), False, indexes
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array(v) for v in columns.values()], names=list(columns)
    )
    writer.commit([writer.write(iter([batch]))])


@pytest.fixture(scope="module")
def segments(tmp_path_factory):
    """Segment a: k in 0..36 step 4 (partition residue 0 of 4), strings
    starting with 'a', a null-bearing n, and no e. Segment b (written
    after e was added): k in 41..77 step 4 (residue 1), strings starting
    with 'b', null-free n, e in 1..10."""
    table = str(tmp_path_factory.mktemp("zone") / "t_OFFLINE")
    indexes = ds.IndexOptions(partition=("k", 4))
    base = [
        StructField("k", LongType()),
        StructField("s", StringType()),
        StructField("n", LongType()),
    ]
    _write(
        table,
        "a",
        StructType(base),
        {
            "k": list(range(0, 40, 4)),
            "s": [f"a{i}" for i in range(10)],
            "n": [None if i % 3 == 0 else i for i in range(10)],
        },
        indexes,
    )
    _write(
        table,
        "b",
        StructType(base + [StructField("e", LongType())]),
        {
            "k": list(range(41, 81, 4)),
            "s": [f"b{i}" for i in range(10)],
            "n": list(range(10)),
            "e": list(range(1, 11)),
        },
        indexes,
    )
    return M._segment_v3_dirs(table)  # [segment a, segment b]


@pytest.mark.parametrize(
    "filters, expected",
    [
        ([ds.IsNull(("k",))], (True, True)),
        ([ds.IsNull(("n",))], (False, True)),
        ([ds.StringStartsWith(("s",), "a")], (False, True)),
        ([ds.GreaterThan(("k",), 40)], (True, False)),
        ([ds.LessThanOrEqual(("k",), 36)], (False, True)),
        ([ds.In(("k",), (100, 200))], (True, True)),
        # inside both zone maps, outside both partitions' residues
        ([ds.In(("k",), (6, 50))], (True, True)),
        ([ds.EqualTo(("k",), 8)], (False, True)),
        ([ds.EqualTo(("k",), 43)], (True, True)),
        # a column segment a predates: its stats cannot prune it
        ([ds.GreaterThan(("e",), 100)], (False, True)),
        ([ds.IsNull(("e",))], (False, True)),
    ],
)
def test_manifest_and_open_paths_agree(segments, filters, expected):
    stats = M.stats_for_segments(segments)
    assert all(stats[seg] is not None for seg in segments)
    from_manifest = tuple(
        ds._segment_can_be_skipped(seg, filters, stats[seg]) for seg in segments
    )
    from_open = tuple(
        ds._segment_can_be_skipped(seg, filters, None) for seg in segments
    )
    assert from_manifest == from_open == expected


def test_unreadable_segment_is_kept(tmp_path):
    broken = tmp_path / "t_OFFLINE" / "seg0" / "v3"
    broken.mkdir(parents=True)
    (broken / "metadata.properties").write_text("not a segment\n")
    assert not ds._segment_can_be_skipped(
        str(broken), [ds.IsNull(("k",))], None
    )


def test_projection_of_only_columns_a_segment_predates(segments):
    """A projection naming only columns an older segment lacks reads that
    segment's rows as all-NULL instead of failing on an empty decode."""
    schema = StructType([StructField("e", LongType(), True)])
    reader = ds.PinotDataSourceReader(schema, segments)
    values = [
        v
        for p in reader.partitions()
        for batch in reader.read(p)
        for v in batch.column(0).to_pylist()
    ]
    assert values.count(None) == 10
    assert sorted(v for v in values if v is not None) == list(range(1, 11))
