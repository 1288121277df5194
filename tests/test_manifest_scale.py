"""Manifest at many-segment scale + concurrent commits (r5 verdict #9).

The segment-stats manifest exists for 10^5-segment tables; these tests back
the O(1)-opens claim at a scale where the O(segments) fallback would visibly
stall (1,000 segments here — large enough that per-segment SegmentReader
opens would dominate, small enough for CI), and pin that two writers
committing concurrently into one table can never corrupt it: segments are
immutable and renamed atomically, and the manifest is either fresh (covers
the exact final set) or detectably stale (planning falls back to opens) —
never silently wrong.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pytest

from pinot_segment import SegmentReader
from pinot_segment import manifest as M
from pinot_segment.metadata import DataType
from pinot_segment.writer import ColumnSpec, write_segment

from datafusion_pinot_spark.sources import pinot_datasource as ds

N_SEGMENTS = 1000
ROWS_PER_SEG = 8


@pytest.fixture(scope="module")
def big_table(tmp_path_factory):
    """1,000 tiny segments with disjoint key ranges + a fresh manifest."""
    table = tmp_path_factory.mktemp("scale") / "big_OFFLINE"
    for i in range(N_SEGMENTS):
        base = i * 1000
        write_segment(
            table / f"seg{i:04d}",
            f"seg{i:04d}",
            "big",
            [
                ColumnSpec(
                    "k",
                    DataType.LONG,
                    np.arange(base, base + ROWS_PER_SEG, dtype=np.int64),
                )
            ],
        )
    M.write_manifest(str(table), M.build_manifest(str(table)))
    return str(table)


def test_planning_latency_and_zero_opens_at_1k_segments(big_table, monkeypatch):
    segs = [
        os.path.join(big_table, d, "v3")
        for d in sorted(os.listdir(big_table))
        if os.path.isdir(os.path.join(big_table, d, "v3"))
    ]
    assert len(segs) == N_SEGMENTS

    opened = []
    real_open = SegmentReader.open.__func__

    def counting_open(cls, seg_dir):
        opened.append(str(seg_dir))
        return real_open(cls, seg_dir)

    monkeypatch.setattr(SegmentReader, "open", classmethod(counting_open))

    from pyspark.sql.types import LongType, StructField, StructType

    reader = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), segs
    )
    # hits exactly one segment's [base, base+8) range
    list(reader.pushFilters([ds.EqualTo(("k",), 437_003)]))
    t0 = time.perf_counter()
    parts = reader.partitions()
    elapsed = time.perf_counter() - t0

    assert opened == []  # zero SegmentReader opens — the O(1)-opens claim
    kept = [d for p in parts for d in p.segment_dirs]
    assert kept == [os.path.join(big_table, "seg0437", "v3")]
    # generous bound: manifest load + 1k fingerprint checks + prune loop.
    # The open-based fallback at this scale costs ~10x more (measured below
    # only indirectly — a hard comparison would make the test flaky).
    assert elapsed < 2.0, f"planning took {elapsed:.2f}s at {N_SEGMENTS} segments"


def test_planning_latency_scales_with_manifest_not_opens(big_table):
    """The same prune WITHOUT a manifest opens every segment — confirm the
    manifest path is doing real work (not vacuously green)."""
    segs = [
        os.path.join(big_table, d, "v3")
        for d in sorted(os.listdir(big_table))
        if os.path.isdir(os.path.join(big_table, d, "v3"))
    ][:100]

    from pyspark.sql.types import LongType, StructField, StructType

    stats = M.stats_for_segments(segs)
    assert all(stats[s] is not None for s in segs)  # manifest serves them

    # remove the manifest -> fallback opens (only for these 100)
    os.rename(
        os.path.join(big_table, M.MANIFEST_NAME),
        os.path.join(big_table, M.MANIFEST_NAME) + ".bak",
    )
    try:
        stats2 = M.stats_for_segments(segs)
        assert all(stats2[s] is None for s in segs)
        reader = ds.PinotDataSourceReader(
            StructType([StructField("k", LongType())]), segs
        )
        list(reader.pushFilters([ds.EqualTo(("k",), 3)]))
        kept = [d for p in reader.partitions() for d in p.segment_dirs]
        assert kept == [segs[0]]  # open-based pruning still correct
    finally:
        os.rename(
            os.path.join(big_table, M.MANIFEST_NAME) + ".bak",
            os.path.join(big_table, M.MANIFEST_NAME),
        )


def _writer(schema_cols, path):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField(c, LongType()) for c in schema_cols])
    return ds.PinotDataSourceWriter(schema, path, "t", set(), False)


def _write_one(writer, lo, hi):
    batch = pa.RecordBatch.from_pydict({"k": np.arange(lo, hi, dtype=np.int64)})
    return writer.write(iter([batch]))


def test_concurrent_commits_never_corrupt(tmp_path):
    """Two writers staging + committing concurrently: both segments land,
    all rows survive, and the manifest is fresh-or-detectably-stale (the
    atomic tmp-rename write means a reader never sees a torn file)."""
    table = str(tmp_path / "c_OFFLINE")
    os.makedirs(table)

    w1, w2 = _writer(["k"], table), _writer(["k"], table)
    m1 = _write_one(w1, 0, 100)
    m2 = _write_one(w2, 1000, 1100)

    barrier = threading.Barrier(2)
    errors = []

    def commit(writer, msg):
        try:
            barrier.wait()
            writer.commit([msg])
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append(exc)

    t1 = threading.Thread(target=commit, args=(w1, m1))
    t2 = threading.Thread(target=commit, args=(w2, m2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errors == []

    seg_dirs = [
        os.path.join(table, d, "v3")
        for d in sorted(os.listdir(table))
        if os.path.isdir(os.path.join(table, d, "v3"))
    ]
    assert len(seg_dirs) == 2  # both staged segments were renamed in
    vals = sorted(
        v
        for s in seg_dirs
        for v in SegmentReader.open(s).read_column("k").tolist()
    )
    assert vals == list(range(0, 100)) + list(range(1000, 1100))

    # manifest: valid json; either fresh (covers both) or stale (ignored)
    with open(os.path.join(table, M.MANIFEST_NAME)) as f:
        manifest = json.load(f)  # never torn
    loaded = M.load_manifest(table)
    if loaded is not None:
        assert set(loaded) == {
            os.path.basename(os.path.dirname(s)) for s in seg_dirs
        }
    else:
        # stale is safe: planning falls back to opening segments
        assert set(manifest.get("segments", {})) <= {
            os.path.basename(os.path.dirname(s)) for s in seg_dirs
        }

    # snapshot log (r10): valid JSON (atomic rename — never torn). Every
    # recorded snapshot lists segments that truly existed at its walk
    # (subset of the final live set here — nothing is ever deleted in
    # this scenario), so any as_of read of it is a real table state. The
    # read-modify-write race may skip/overwrite an intermediate entry
    # (documented in snapshot.py); the NEXT commit re-converges the head.
    from pinot_segment import snapshot as S

    log = S.load_snapshot_log(table)
    assert log is not None and log["snapshots"]
    live = {os.path.basename(os.path.dirname(s)) for s in seg_dirs}
    for snap in log["snapshots"]:
        assert set(snap["segments"]) <= live
        assert S.segments_as_of(table, snap["id"])  # all resolvable
    # convergence: one more (serial) commit records the full live set
    assert S.append_snapshot(table) >= log["snapshots"][-1]["id"]
    assert set(S.load_snapshot_log(table)["snapshots"][-1]["segments"]) == live


def test_commit_backfill_cap_skips_manifest(tmp_path, monkeypatch):
    """A commit into a table with more uncovered legacy segments than the
    backfill cap must skip the manifest write (not stall collecting stats)
    and leave planning on the fallback path."""
    table = str(tmp_path / "cap_OFFLINE")
    for i in range(5):
        write_segment(
            os.path.join(table, f"legacy{i}"),
            f"legacy{i}",
            "t",
            [ColumnSpec("k", DataType.LONG, np.arange(3, dtype=np.int64))],
        )
    monkeypatch.setattr(ds, "_MANIFEST_BACKFILL_CAP", 2)
    w = _writer(["k"], table)
    msg = _write_one(w, 50, 60)
    w.commit([msg])
    # segment landed; manifest intentionally absent
    assert sum(
        os.path.isdir(os.path.join(table, d, "v3")) for d in os.listdir(table)
    ) == 6
    assert not os.path.exists(os.path.join(table, M.MANIFEST_NAME))


def test_auto_packing_uses_manifest_doc_counts(big_table, monkeypatch):
    """The default packing (``segments_per_partition=auto``) groups pruned
    survivors to a doc-count target from manifest stats — about two tasks
    per planning CPU, capped at _AUTO_DOCS_PER_TASK — so tiny-segment
    tables don't schedule one task per segment."""
    from pyspark.sql.types import LongType, StructField, StructType

    monkeypatch.setattr(ds, "_planning_cpus", lambda: 4)
    segs = [
        os.path.join(big_table, d, "v3")
        for d in sorted(os.listdir(big_table))
        if os.path.isdir(os.path.join(big_table, d, "v3"))
    ]
    schema = StructType([StructField("k", LongType())])
    # unfiltered: 1000 segments x 8 docs -> 8 contiguous 1000-doc tasks
    reader = ds.PinotDataSourceReader(schema, segs)
    parts = reader.partitions()
    assert [len(p.segment_dirs) for p in parts] == [N_SEGMENTS // 8] * 8
    assert [d for p in parts for d in p.segment_dirs] == segs
    # filtered: sized from the survivors only (80 docs -> 10-doc target)
    reader = ds.PinotDataSourceReader(schema, segs)
    list(reader.pushFilters([ds.LessThan(("k",), 10_000)]))  # first 10 segs
    parts = reader.partitions()
    assert [p.segment_dirs for p in parts] == [(s,) for s in segs[:10]]
    # the cap wins over the CPU-sized target
    reader = ds.PinotDataSourceReader(schema, segs)
    reader._AUTO_DOCS_PER_TASK = ROWS_PER_SEG * 100
    parts = reader.partitions()
    assert len(parts) == 10  # 1000 segs x 8 docs / 800-doc target


def test_auto_packing_reads_correctly_through_spark(spark, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

    out = str(tmp_path / "auto_OFFLINE")
    spark.dataSource.register(PinotDataSource)
    rows = spark.range(0, 9000).selectExpr("id as k", "id % 7 as v")
    rows.repartition(6).write.format("pinot").mode("overwrite").save(out)
    back = (
        spark.read.format("pinot")
        .option("segments_per_partition", "auto")
        .load(out)
    )
    got = back.agg(F.count("*").alias("n"), F.sum("k").alias("s")).collect()[0]
    assert got.n == 9000 and got.s == sum(range(9000))


def test_partition_map_prune_zero_opens_at_1k_segments(
    tmp_path_factory, monkeypatch
):
    """Planning-time partition pruning holds its zero-open O(manifest)
    claim at 1,000 segments: an equality probe on the partition column
    keeps only the matching-residue segments without one SegmentReader
    open."""
    from pyspark.sql.types import LongType, StructField, StructType

    table = tmp_path_factory.mktemp("pscale") / "pbig_OFFLINE"
    num = 16
    for i in range(N_SEGMENTS):
        # segment i holds keys with residue i % num (overlapping min/max
        # ranges across segments — zone maps alone cannot prune)
        keys = np.arange(ROWS_PER_SEG, dtype=np.int64) * num + (i % num)
        write_segment(
            table / f"seg{i:04d}",
            f"seg{i:04d}",
            "pbig",
            [
                ColumnSpec(
                    "k",
                    DataType.LONG,
                    keys,
                    raw=True,
                    partition_config=("Modulo", num),
                )
            ],
        )
    M.write_manifest(str(table), M.build_manifest(str(table)))
    segs = [
        os.path.join(str(table), d, "v3")
        for d in sorted(os.listdir(table))
        if os.path.isdir(os.path.join(str(table), d, "v3"))
    ]
    assert len(segs) == N_SEGMENTS

    opened = []
    real_open = SegmentReader.open.__func__
    monkeypatch.setattr(
        SegmentReader,
        "open",
        classmethod(
            lambda cls, d: (opened.append(str(d)), real_open(cls, d))[1]
        ),
    )
    reader = ds.PinotDataSourceReader(
        StructType([StructField("k", LongType())]), segs
    )
    # k = 35 -> residue 3: only segments with i % 16 == 3 survive
    list(reader.pushFilters([ds.EqualTo(("k",), 35)]))
    t0 = time.perf_counter()
    parts = reader.partitions()
    elapsed = time.perf_counter() - t0
    kept = [d for p in parts for d in p.segment_dirs]
    assert opened == []
    expected = list(range(3, N_SEGMENTS, 16))
    assert len(kept) == len(expected)
    assert all(f"seg{i:04d}" in d for i, d in zip(expected, kept))
    assert elapsed < 2.0  # manifest walk, not 1k opens


def _counting_from_file(monkeypatch):
    """Patch SegmentMetadata.from_file with a call counter; returns the
    list of paths parsed."""
    from pinot_segment.metadata import SegmentMetadata

    parsed: list[str] = []
    real = SegmentMetadata.from_file.__func__

    def counting(cls, path):
        parsed.append(str(path))
        return real(cls, path)

    monkeypatch.setattr(SegmentMetadata, "from_file", classmethod(counting))
    return parsed


def test_schema_census_zero_metadata_opens_fresh_manifest(
    big_table, monkeypatch
):
    """r11 verdict #3: the nullability census (_table_nullable_columns)
    must stay off the per-plan hot path. On a fresh-manifest table,
    schema() parses metadata.properties exactly ONCE (the first-segment
    anchor its column list comes from) — the census itself contributes
    ZERO parses, independent of segment count."""
    parsed = _counting_from_file(monkeypatch)
    src = ds.PinotDataSource(options={"path": big_table})
    schema = src.schema()
    assert [f.name for f in schema.fields] == ["k"]
    anchor_parses = [p for p in parsed if "metadata.properties" in p]
    assert len(anchor_parses) == 1, (
        f"schema() on a fresh-manifest table must be O(1) metadata parses, "
        f"got {len(anchor_parses)}"
    )


def test_schema_census_zero_opens_on_evolved_schema(
    tmp_path, monkeypatch
):
    """The evolved-schema extension (r11 verdict #3): when the anchor
    segment is POST-evolution, the requested column set includes a column
    pre-evolution segments lack. With the r12 all_columns manifest marker
    the census answers 'those segments NULL-fill it -> nullable' from the
    one manifest read — zero extra metadata parses. Without a manifest the
    fallback parses per segment but lands on the same nullability."""
    table = tmp_path / "evo_OFFLINE"
    # seg0000 is WIDE (k, extra) and sorts first -> anchors the schema
    write_segment(
        table / "seg0000",
        "seg0000",
        "evo",
        [
            ColumnSpec("k", DataType.LONG, np.arange(8, dtype=np.int64)),
            ColumnSpec(
                "extra", DataType.LONG, np.arange(8, dtype=np.int64) * 3
            ),
        ],
    )
    for i in range(1, 40):
        write_segment(
            table / f"seg{i:04d}",
            f"seg{i:04d}",
            "evo",
            [
                ColumnSpec(
                    "k",
                    DataType.LONG,
                    np.arange(i * 10, i * 10 + 8, dtype=np.int64),
                )
            ],
        )
    M.write_manifest(str(table), M.build_manifest(str(table)))

    parsed = _counting_from_file(monkeypatch)
    src = ds.PinotDataSource(options={"path": str(table)})
    schema = src.schema()
    by_name = {f.name: f for f in schema.fields}
    assert set(by_name) == {"k", "extra"}
    # pre-evolution segments NULL-fill extra -> it MUST surface nullable
    assert by_name["extra"].nullable
    md_parses = [p for p in parsed if "metadata.properties" in p]
    assert len(md_parses) == 1, (
        f"evolved-schema schema() with a fresh r12 manifest must stay O(1) "
        f"metadata parses (got {len(md_parses)}) — a manifest-format drift "
        f"has reintroduced the O(segments) census fallback"
    )

    # fallback correctness: no manifest -> per-segment parses, same answer
    os.unlink(os.path.join(str(table), M.MANIFEST_NAME))
    parsed.clear()
    schema2 = ds.PinotDataSource(options={"path": str(table)}).schema()
    by_name2 = {f.name: f for f in schema2.fields}
    assert by_name2["extra"].nullable
    assert len([p for p in parsed if "metadata.properties" in p]) > 10


def test_sink_manifest_records_mv_columns_with_marker(spark, tmp_path):
    """The r12 parity fix: the SINK's task-computed stats (_specs_stats)
    must record MV columns (stats-free) and carry the all_columns marker,
    exactly like rebuilt manifests — otherwise sink-written MV tables pay
    a per-segment metadata parse at every plan."""
    from pyspark.sql import functions as F

    from datafusion_pinot_spark.sources import register_pinot_source

    register_pinot_source(spark)
    out = str(tmp_path / "mv_OFFLINE")
    (
        spark.range(0, 100)
        .select(
            F.col("id").alias("k"),
            F.array(F.col("id"), F.col("id") * 2).alias("tags"),
        )
        .coalesce(2)
        .write.format("pinot")
        .mode("overwrite")
        .save(out)
    )
    manifest = M.load_manifest(out)
    assert manifest, "sink write must leave a fresh manifest"
    for seg, st in manifest.items():
        assert st.get("all_columns") is True, seg
        assert "tags" in st["columns"], seg
        assert st["columns"]["tags"].get("is_single_value") is False, seg
