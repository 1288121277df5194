"""PySpark Python Data Source for Apache Pinot v3 segments.

Spark-side equivalent of the reference's DataFusion integration
(reference datafusion-pinot/src/table.rs + exec.rs), re-expressed on the
PySpark 4 Data Source API:

- planning happens on the driver and plans only the tasks a query needs:
  segments are pruned by manifest zone and partition maps, then by bloom
  filter (the driver opens only segments whose manifest marks the probed
  column as bloomed), then by head/tail; the survivors are packed into
  contiguous tasks by manifest doc count, about two tasks per planning
  CPU (the reference runs one partition per segment, exec.rs:41
  ``num_partitions = segments.len()``, which on Spark pays a Python task
  per segment). Segments without fresh manifest stats get a task each;
  ``segments_per_partition=N`` packs N per task instead, and an unfiltered
  COUNT(*) packs on its own. ``explain_scan`` reports the same plan's
  counts;
- table schema derived from the *first* segment's metadata (table.rs:115-118),
  in metadata-declared column order (deterministic — fixes the reference's
  HashMap-order hazard, SURVEY.md §4.3), nullable where any segment holds
  NULLs or predates the column;
- what a scan reads is one frozen ``ScanSpec`` (columns, their Spark types,
  pushed filters, text/JSON/MV probes, head/tail); the batch, stream and CDC
  readers all run it through one per-segment pipeline
  (``_scan_segment``: open → schema-evolution filter rewrite → bloom skip →
  row range → masks → decode/NULL-fill) and emit each segment's natural
  Arrow chunks — Spark re-slices JVM-side;
- projection pushdown via the ``columns`` load option (the Python DS API has
  no pruned-schema callback yet; the reference gets indices from DataFusion,
  table.rs:161-169);
- filter pushdown (a rebuild *improvement* — the reference ignores filters,
  table.rs:163): supported predicates are evaluated (a) per segment against
  min/max zone maps to skip whole segments, and (b) per row with numpy
  masks before Arrow conversion;
- the metadata-only scans (``dictionary_only``, ``value_counts``,
  ``segment_stats``) run in their own ``PinotMetadataReader``.

Usage::

    spark.dataSource.register(PinotDataSource)
    df = spark.read.format("pinot").load("/data/tbl_OFFLINE")
    df = (spark.read.format("pinot")
          .option("columns", "playerID,hits")   # projection pushdown
          .load("/data/tbl_OFFLINE"))

The ``path`` may be a table directory (``*_OFFLINE`` / ``*_REALTIME``), a
single segment dir (containing ``v3/``), or a ``v3`` dir itself; or pass
``segments`` as a comma-separated list of segment dirs.
"""

from __future__ import annotations

import operator
import os
from dataclasses import dataclass, replace
from itertools import chain
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    EqualNullSafe,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

_SPARK_TYPES = {
    "INT": IntegerType(),
    "LONG": LongType(),
    "FLOAT": FloatType(),
    "DOUBLE": DoubleType(),
    "STRING": StringType(),
    "BYTES": BinaryType(),
    "BOOLEAN": BooleanType(),
    "TIMESTAMP": TimestampType(),
}



def _open_segment(segment_dir: str):
    """``SegmentReader.open`` with a retired-store fallback: a segment
    RETIRED by a snapshot-retaining maintenance commit between this scan's
    planning and its execution has moved from ``{table}/{seg}/v3`` to
    ``{table}/retired/{seg}/v3`` — resolve it there, so an in-flight scan
    survives the segment swap and dies only at ``vacuum`` (the documented
    storage-reclaim grace boundary)."""
    from pinot_segment import SegmentReader

    try:
        return SegmentReader.open(segment_dir)
    except OSError:
        norm = os.path.normpath(segment_dir)
        seg_parent = os.path.dirname(norm)
        retired = os.path.join(
            os.path.dirname(seg_parent),
            "retired",
            os.path.basename(seg_parent),
            "v3",
        )
        if os.path.isdir(retired):
            return SegmentReader.open(retired)
        raise


def _discover_segments(path: str) -> list[str]:
    """Resolve a path to a sorted list of v3 segment dirs.

    Accepts a table dir of segment dirs (skipping ``tmp``,
    metadata_provider.rs:184-199 semantics), a segment dir containing ``v3``,
    or a ``v3`` dir itself.
    """
    from pinot_segment.manifest import _segment_v3_dirs

    if os.path.isfile(os.path.join(path, "metadata.properties")):
        return [path]
    v3 = os.path.join(path, "v3")
    if os.path.isdir(v3):
        return [v3]
    segs = _segment_v3_dirs(path)
    if not segs:
        raise ValueError(f"No valid Pinot v3 segments found under {path}")
    return segs


def _table_nullable_columns(
    segments: list[str], sv_names: set, all_names: tuple = ()
) -> set:
    """Columns nullable in ANY segment — table-level nullability is the OR
    (a non-nullable schema over null-bearing batches NPEs in Spark
    codegen). Two sources of nulls per segment: a null-vector index on a
    column it HAS, and — r11, found by the CDC schema-evolution property
    test — a column the segment PREDATES entirely (the read path
    NULL-fills it, so a non-nullable field produces 'Value at index is
    null' inside Spark's ArrowColumnVector when any pre-evolution segment
    sits behind an evolved first segment). Answered from each table's
    segment_stats.json manifest when fresh (one file read; the manifest
    records has_nulls for every column). An entry carrying the r12
    ``all_columns`` marker is a COMPLETE census, so a requested column
    absent from it is evolution NULL-fill — answerable with ZERO
    metadata.properties parses even on evolved tables. Only segments the
    manifest doesn't cover, or whose entry predates the marker AND lacks
    a requested column, pay a metadata parse (pre-r12 manifests omitted
    MV columns on the sink path, so absence there is ambiguous)."""
    from pinot_segment import SegmentMetadata
    from pinot_segment.manifest import stats_for_segments

    want = set(all_names) | sv_names
    stats = stats_for_segments(segments)
    nullable: set = set()
    for seg in segments:
        st = stats.get(seg)
        cols = (st or {}).get("columns")
        complete = bool((st or {}).get("all_columns"))
        if cols is None or (not complete and not want <= set(cols)):
            md = SegmentMetadata.from_file(
                os.path.join(seg, "metadata.properties")
            )
            cols = {
                name: {"has_nulls": cm.has_null_values}
                for name, cm in md.columns.items()
            }
        nullable.update(n for n, cs in cols.items() if cs.get("has_nulls"))
        # schema evolution: a requested column this segment predates (a
        # complete census lacks it) is all-NULL in its batches
        nullable.update(n for n in want if n not in cols)
    return nullable


@dataclass(frozen=True)
class ScanSpec:
    """What one scan reads, shared by every task of the scan.

    The batch reader fixes it once filters are pushed; the stream and CDC
    readers carry columns and types only."""

    columns: tuple[str, ...]
    # Spark simpleString type per column (parallel to `columns`): lets the
    # read task synthesize all-NULL arrays for columns a segment predates
    # (schema evolution — Pinot's add-column-with-default behavior).
    column_types: tuple[str, ...] = ()
    filters: tuple = ()
    # Row probes, (kind, column, argument) with kind a key of _PROBES:
    # TEXT_MATCH over a text_index, JSON_MATCH over a json_index, and MV
    # containment over an MV inverted index. Each is answered from its
    # index when the segment has one, by decode-and-test otherwise — same
    # result — and ANDs into the row mask like a pushed filter.
    probes: tuple = ()
    # Top-k pushdown for sorted tables: a (column, k) pair from the `head`
    # (first k rows in column order) or `tail` (last k) read option.
    # Planning prunes segments that provably sit entirely past those rows
    # (manifest min/max/docs); each surviving sorted segment decodes only
    # its first (last) k rows extended through the tie group, so a
    # Spark-side orderBy(col [DESC], ...).limit(k) stays exact. Unsorted
    # segments decode fully (correct, just unaccelerated).
    head: "tuple[str, int] | None" = None
    tail: "tuple[str, int] | None" = None

    def __post_init__(self) -> None:
        # head/tail compose ONLY with a predicate-free top-k: "first k
        # physical rows" is not "first k rows of a filtered result", so
        # any pushed filter or probe disables them (correct, unaccelerated)
        if self.filters or self.probes:
            object.__setattr__(self, "head", None)
            object.__setattr__(self, "tail", None)

    @classmethod
    def of(cls, fields, **kw) -> "ScanSpec":
        return cls(
            tuple(f.name for f in fields),
            tuple(f.dataType.simpleString() for f in fields),
            **kw,
        )

    def cuts(self) -> list:
        """The head/tail cuts as ((column, k), reverse) pairs."""
        return [
            (cut, reverse)
            for cut, reverse in ((self.head, False), (self.tail, True))
            if cut is not None
        ]

    def counts_only(self) -> bool:
        """An unfiltered COUNT(*): row counts are all the scan needs."""
        return not (
            self.columns or self.filters or self.probes or self.cuts()
        )


@dataclass
class PinotInputPartition(InputPartition):
    """One Spark task's worth of segments.

    By default the planner packs contiguous surviving segments up to a
    doc-count target sized so a scan runs about two tasks per planning CPU
    (capped at ``_AUTO_DOCS_PER_TASK``): production-sized segments still
    get a task each — the reference's granularity (table.rs: one
    DataFusion partition per segment) — while many small segments share a
    task, amortizing the per-task scheduling + Python-worker cost the way
    Spark's file sources coalesce small files into one split. Segments
    without fresh manifest stats get a task each. The
    ``segments_per_partition`` read option fixes N segments per task
    instead. What to read from them is the reader's ``ScanSpec``."""

    segment_dirs: tuple[str, ...]
    # CDC stream tag ('insert' / 'delete') when the partition belongs to a
    # changed-data micro-batch; None for every other partition.
    change_tag: "str | None" = None


def _groups(items: list, n: int) -> list:
    """Consecutive groups of n."""
    return [items[i : i + n] for i in range(0, len(items), n)]


def _planning_cpus() -> int:
    """CPUs the planning process may run on. Under ``local[N]`` on one
    host this is the executors' CPU count; on a cluster it is only a
    heuristic for the scan's parallelism."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity on this platform
        return os.cpu_count() or 1


def _doc_count_groups(survivors: list, stats: dict, cap: int) -> list:
    """Greedy contiguous groups of at most a target doc count each (one
    larger segment alone), the target being ``ceil(docs / (2 * cpus))``
    capped at ``cap``. A segment without stats counts as a full target,
    so it gets a group of its own."""
    known = sum(int(st["total_docs"]) for st in map(stats.get, survivors) if st)
    target = min(cap, max(1, -(-known // (2 * _planning_cpus()))))
    groups: list = []
    docs = 0
    for seg in survivors:
        st = stats.get(seg)
        seg_docs = int(st["total_docs"]) if st else target
        if not groups or docs + seg_docs > target:
            groups.append([])
            docs = 0
        groups[-1].append(seg)
        docs += seg_docs
    return groups


@dataclass(frozen=True)
class ScanPlan:
    """A batch scan's tasks as segment groups, and how many segments each
    pruning step dropped (keys of ``PRUNE_STEPS``)."""

    groups: tuple
    pruned: dict

    PRUNE_STEPS = ("zone_map", "partition_map", "bloom", "head_tail")

    def partitions(self) -> list:
        # All segments pruned: Spark still schedules one task for an empty
        # partitions list (passing None), so hand it an empty sentinel.
        return [PinotInputPartition(g) for g in self.groups or ((),)]


class PinotDataSource(DataSource):
    """``spark.read.format("pinot")`` entry point."""

    @classmethod
    def name(cls) -> str:
        return "pinot"

    def _segments(self) -> list[str]:
        if "segments" in self.options:
            return [s for s in self.options["segments"].split(",") if s]
        path = self.options.get("path")
        if not path:
            raise ValueError("pinot source requires a path or 'segments' option")
        as_of = self.options.get("as_of")
        if as_of:
            # time travel: resolve the segment list from the table's
            # snapshot log (live or retired dirs) instead of the current
            # directory walk — a repeatable read of the table as of that
            # committed mutation, immune to concurrent compaction/delete
            from pinot_segment.snapshot import segments_as_of

            return segments_as_of(path, int(as_of))
        return _discover_segments(path)

    def schema(self) -> StructType:
        from pinot_segment import SegmentMetadata

        segments = self._segments()
        first = segments[0]
        md = SegmentMetadata.from_file(os.path.join(first, "metadata.properties"))
        modes = self._metadata_modes()
        if modes:
            return PinotMetadataReader.output_schema(md, *modes[0])
        names = md.column_names()
        if "columns" in self.options:
            requested = [c.strip() for c in self.options["columns"].split(",") if c.strip()]
            missing = [c for c in requested if c not in md.columns]
            if missing:
                raise ValueError(f"columns not in segment: {missing}")
            names = requested
        sv_names = {n for n in names if md.columns[n].is_single_value}
        nullable_cols = _table_nullable_columns(
            segments, sv_names, tuple(names)
        )
        fields = []
        for n in names:
            col = md.columns[n]
            if col.data_type.value == "BIG_DECIMAL":
                # exact-decimal columns surface with the precision/scale
                # the writer validated every value against
                typ = DecimalType(col.decimal_precision or 38, col.decimal_scale)
            else:
                typ = _SPARK_TYPES[col.data_type.value]
            if not col.is_single_value:
                # multi-value column → array<element> (containsNull=False:
                # Pinot values are non-nullable, schema.rs:29-30)
                typ = ArrayType(typ, containsNull=False)
            # Nullable iff ANY segment carries a null-vector index for the
            # column (a rebuild extension — the reference maps every column
            # non-nullable, schema.rs:29-30). First-segment-only
            # nullability was wrong: a null-bearing later segment under a
            # non-nullable table schema NPEs inside Spark codegen.
            fields.append(StructField(n, typ, nullable=n in nullable_cols))
        if self._flag("cdc"):
            # CDC stream schema: the table's columns plus the change tag
            fields.append(
                StructField("_change_type", StringType(), nullable=False)
            )
        return StructType(fields)

    def _flag(self, name: str) -> bool:
        return (self.options.get(name) or "").lower() in ("true", "1", "yes")

    def _metadata_modes(self) -> list:
        """(mode, argument) for each metadata-only scan the options ask
        for: ``dictionary_only`` and ``value_counts`` carry their column
        list, ``segment_stats`` its optional ``stats_column``."""
        modes = [
            (m, self.options[m])
            for m in ("dictionary_only", "value_counts")
            if self.options.get(m)
        ]
        if self._flag("segment_stats"):
            modes.append(
                ("segment_stats", self.options.get("stats_column") or None)
            )
        return modes

    def reader(self, schema: StructType) -> "PinotDataSourceReader":
        if self._flag("cdc"):
            raise ValueError(
                "cdc reads are streaming-only: use "
                "spark.readStream.format('pinot').option('cdc', 'true'); "
                "for a one-shot diff between two snapshots use "
                "maintenance.changes_between"
            )
        raw = self.options.get("segments_per_partition") or "auto"
        if self.options.get("stats_column") and not self._flag("segment_stats"):
            # Without this a misspelled/false-valued segment_stats option
            # silently degrades to a full data scan with no min/max columns.
            raise ValueError(
                "stats_column requires segment_stats=true"
            )
        modes = self._metadata_modes()
        if len(modes) > 1:
            raise ValueError(
                "dictionary_only, value_counts and segment_stats are "
                "mutually exclusive"
            )
        if raw == "auto":
            spp = None  # doc-count packing at partitions() time
        else:
            spp = int(raw)
            if spp < 1:
                raise ValueError(
                    "segments_per_partition must be >= 1 or 'auto'"
                )
        probes = tuple(
            p
            for p in (
                self._text_match_option(),
                self._json_match_option(),
                self._mv_contains_option(),
            )
            if p is not None
        )
        head, tail = self._head_option("head"), self._head_option("tail")
        if modes:
            return PinotMetadataReader(schema, self._segments(), spp, *modes[0])
        return PinotDataSourceReader(
            schema, self._segments(), spp, probes, head=head, tail=tail
        )

    def _head_option(self, which: str = "head"):
        """Parse `head`/`tail` = "col:k" into (col, k) — the first/last k
        rows of the table in `col` order (plus the adjoining tie group),
        for ORDER BY col [DESC] LIMIT k over sorted layouts."""
        opt = self.options.get(which)
        if not opt:
            return None
        col, sep, k = opt.partition(":")
        if not sep or not col.strip() or not k.strip().isdigit():
            raise ValueError(f"{which} must look like 'column:k'")
        k = int(k)
        if k < 1:
            raise ValueError(f"{which} k must be >= 1")
        return (col.strip(), k)

    def _mv_contains_option(self):
        """Parse `mv_contains` = "col:value" into its probe; the value
        stays a string here and is cast to the column's storage type at
        read time (the segment knows its own dtype)."""
        opt = self.options.get("mv_contains")
        if not opt:
            return None
        col, sep, value = opt.partition(":")
        if not sep or not col.strip() or not value:
            raise ValueError("mv_contains must look like 'column:value'")
        return ("mv_contains", col.strip(), value)

    def _json_match_option(self):
        """Parse `json_match` = "col:$.path=value" into its (path, value)
        probe; the value side is the canonical string of json_index.py
        (e.g. an integer probe is just its digits, a string probe its
        verbatim text)."""
        opt = self.options.get("json_match")
        if not opt:
            return None
        col, sep, rest = opt.partition(":")
        path, sep2, value = rest.partition("=")
        if not sep or not sep2 or not col.strip() or not path.startswith("$"):
            raise ValueError(
                "json_match must look like 'column:$.path=value'"
            )
        return ("json_match", col.strip(), (path.strip(), value))

    def _text_match_option(self):
        """Parse `text_match` = "col:term [term ...]" (plus `text_match_mode`
        = all|any, default all) into its (terms, require_all) probe,
        analyzing the probe string with the INDEX's analyzer so e.g.
        "Spark-SQL" probes the tokens the writer actually indexed."""
        opt = self.options.get("text_match")
        if not opt:
            return None
        from pinot_segment.text_index import tokenize

        col, sep, probe = opt.partition(":")
        if not sep or not col.strip() or not probe.strip():
            raise ValueError(
                "text_match must look like 'column:term [term ...]'"
            )
        terms = tuple(tokenize(probe))
        if not terms:
            raise ValueError(f"text_match probe has no tokens: {probe!r}")
        mode = (self.options.get("text_match_mode") or "all").lower()
        if mode not in ("all", "any"):
            raise ValueError("text_match_mode must be 'all' or 'any'")
        return ("text_match", col.strip(), (terms, mode == "all"))

    def streamReader(self, schema: StructType) -> "PinotStreamReader":
        path = self.options.get("path")
        if not path:
            raise ValueError("pinot stream source requires a table directory path")
        spp = int(self.options.get("segments_per_partition", "1") or "1")
        if spp < 1:
            raise ValueError("segments_per_partition must be >= 1")
        if self._flag("cdc"):
            initial = (
                self.options.get("initial_snapshot") or "earliest"
            ).lower()
            if initial not in ("earliest", "latest"):
                raise ValueError(
                    "initial_snapshot must be 'earliest' or 'latest'"
                )
            # The reader synthesizes _change_type AFTER the data columns
            # (read() appends the tag column last); a user schema placing
            # it mid-schema would misalign columns POSITIONALLY instead of
            # erroring (r10 advice). Enforce the contract here: either omit
            # the tag column, or carry it as the final field.
            names = [f.name for f in schema.fields]
            if "_change_type" in names[:-1]:
                raise ValueError(
                    "CDC stream schema must carry _change_type as the FINAL "
                    f"field (or omit it); got position {names.index('_change_type')} "
                    f"of {len(names)} in {names} — the reader appends the "
                    "change tag after the data columns, so a mid-schema tag "
                    "would misalign columns positionally"
                )
            return PinotCdcStreamReader(schema, path, spp, initial)
        return PinotStreamReader(schema, path, spp)

    def _column_set_option(self, name: str) -> frozenset:
        return frozenset(
            c.strip()
            for c in self.options.get(name, "").split(",")
            if c.strip()
        )

    def _partition_option(self) -> "tuple[str, int] | None":
        """(partitionColumn, numPartitions) from the sink options, or None.
        The function is always Modulo (ColumnSpec rejects anything else)."""
        col = self.options.get("partitioncolumn") or self.options.get(
            "partitionColumn"
        )
        if not col:
            return None
        num = int(
            self.options.get("numpartitions")
            or self.options.get("numPartitions")
            or 0
        )
        if num < 1:
            raise ValueError(
                "pinot sink: partitionColumn requires numPartitions >= 1"
            )
        return (col.strip(), num)

    def _index_options(self) -> "IndexOptions":
        return IndexOptions(
            self._column_set_option("inverted"),
            self._column_set_option("bloom"),
            self._partition_option(),
            self._column_set_option("text_index"),
            self._column_set_option("range_index"),
            self._column_set_option("json_index"),
        )

    def writer(self, schema: StructType, overwrite: bool) -> "PinotDataSourceWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("pinot sink requires a path (the table directory)")
        table = self.options.get("table") or _table_name_from_dir(path)
        return PinotDataSourceWriter(
            schema,
            path,
            table,
            self._column_set_option("raw"),
            overwrite,
            self._index_options(),
        )

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "PinotStreamWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("pinot stream sink requires a path (the table directory)")
        table = self.options.get("table") or _table_name_from_dir(path)
        return PinotStreamWriter(
            schema,
            path,
            table,
            self._column_set_option("raw"),
            self._index_options(),
        )


# Filter kinds we can evaluate both as zone-map prunes and row masks.
_RANGE_FILTERS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, In)
# String predicates (LIKE 'p%' / '%s' / '%c%'): evaluated against the
# dictionary's unique values — O(cardinality) string work instead of
# O(docs) — then broadcast to docs through the id stream (Pinot evaluates
# dictionary-encoded predicates the same way).
_STRING_FILTERS = (StringStartsWith, StringEndsWith, StringContains)
# each string filter's SegmentReader.string_predicate_mask kind, and the
# exact per-value test for RAW columns
_STRING_TESTS = {
    StringStartsWith: ("startswith", str.startswith),
    StringEndsWith: ("endswith", str.endswith),
    StringContains: ("contains", str.__contains__),
}


class PinotDataSourceReader(DataSourceReader):
    def __init__(
        self,
        schema: StructType,
        segments: list[str],
        segments_per_partition: "int | None" = None,
        probes: tuple = (),
        head: "tuple[str, int] | None" = None,
        tail: "tuple[str, int] | None" = None,
    ) -> None:
        self._schema = schema
        self._segments = segments
        self._spp = segments_per_partition
        self._spec = ScanSpec.of(
            schema.fields, probes=probes, head=head, tail=tail
        )

    # -- filter pushdown (rebuild improvement over table.rs:163) ------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # TIMESTAMP filters are pushed by converting the datetime.datetime
        # operands Spark hands over into the stored epoch-millis domain
        # (_convert_ts_filter — exact, including sub-millisecond bounds), so
        # time-range queries — the canonical Pinot access pattern — get
        # manifest zone-map segment pruning and sorted-range narrowing like
        # every other pushed predicate.
        ts_cols = {
            f.name
            for f in self._schema.fields
            if isinstance(f.dataType, TimestampType)
        }
        # Replace rather than extend the spec's filters: defensive against
        # reader-instance reuse across queries. NOTE an upstream hazard
        # this cannot fix: Spark 4.1 caches one scan plan (the pickled
        # reader and its partitions — PythonDataSourceV2.readInfo) per
        # load() and re-runs this pushdown only for a query that HAS
        # filters to push. So on the SAME DataFrame, and through every
        # temp view over one load() (PinotCatalog.register_all, CREATE
        # TEMPORARY VIEW ... USING pinot), an unfiltered query after a
        # filtered one replays the filtered scan. Only a fresh load() per
        # query is safe; tests/test_reused_scan.py pins the defect.
        pushed = []
        string_cols = {
            f.name
            for f in self._schema.fields
            if isinstance(f.dataType, StringType)
        }
        # Value predicates on BIG_DECIMAL columns return to Spark: the
        # stored serialization's byte order is not the numeric order, so
        # no zone map / sorted range / dictionary compare applies (null
        # predicates still push — the null vector is type-agnostic).
        dec_cols = {
            f.name
            for f in self._schema.fields
            if isinstance(f.dataType, DecimalType)
        }

        def acceptable(f, allow_not=True) -> bool:
            if (
                isinstance(f, _RANGE_FILTERS + _STRING_FILTERS)
                and len(f.attribute) == 1
                and f.attribute[0] in dec_cols
            ):
                return False
            if isinstance(f, Not):
                # NOT over any supported value/null predicate (not nested,
                # not on a TIMESTAMP column — the epoch rewrite doesn't
                # recurse)
                return (
                    allow_not
                    and acceptable(f.child, allow_not=False)
                    and not (
                        isinstance(f.child, _RANGE_FILTERS)
                        and f.child.attribute[0] in ts_cols
                    )
                )
            if isinstance(f, _STRING_FILTERS):
                return len(f.attribute) == 1 and f.attribute[0] in string_cols
            return (
                isinstance(f, _RANGE_FILTERS + (IsNotNull, IsNull))
                and len(f.attribute) == 1
            )

        for f0 in filters:
            # anything yielded back to Spark MUST be the ORIGINAL filter
            # object: PySpark's pushdown worker verifies returned filters
            # against the originals by identity-in-list and fails the whole
            # query on a rewritten one ("returned filters that are not in
            # the original filters") — so rewrite into `f` for OUR use and
            # keep `f0` for rejections.
            f = f0
            if isinstance(f, EqualNullSafe) and len(f.attribute) == 1:
                # col <=> NULL is IS NULL; col <=> v is EqualTo (both
                # sides' null cases collapse once the literal is known)
                f = (
                    IsNull(f.attribute)
                    if f.value is None
                    else EqualTo(f.attribute, f.value)
                )
            if not acceptable(f):
                yield f0  # unsupported → Spark evaluates it above the scan
                continue
            if (
                isinstance(f, _RANGE_FILTERS)
                and f.attribute[0] in ts_cols
            ):
                conv = _convert_ts_filter(f)
                if conv is None:
                    yield f0  # non-datetime operand: not convertible
                else:
                    pushed.append(conv)
            else:
                pushed.append(f)
        self._spec = replace(self._spec, filters=tuple(pushed))

    # -- planning -----------------------------------------------------------

    # Metadata-only COUNT(*) packing. Per-segment work on this path is a
    # manifest lookup (or one small properties parse on fallback) — tens
    # of microseconds — so packing trades per-task dispatch against
    # downstream parallelism over the zero-column row stream. Measured
    # r13 on the 128-segment marginal shape (9.6M rows, noop-timed):
    # 64 tasks 0.82 s, 32 tasks 0.49 s, 16 tasks 0.46 s, 8 tasks 0.54 s,
    # 2 tasks 1.07 s — a clear 16-32-task sweet spot at local[32]. The
    # pack therefore FLOORS at 8 segments/task and grows with the table
    # so counts never exceed ~_COUNT_TASKS_TARGET tasks (a 1M-segment
    # table packs ~31k segments/task — still microseconds of payload
    # per manifest lookup).
    _COUNT_PACK = 8
    _COUNT_TASKS_TARGET = 32

    # Cap on the default packing's docs per task — a few hundred MB of
    # decoded columns at typical widths, small enough to fit executor
    # memory. Below the cap the target is the surviving docs over twice
    # the planning CPUs, because every Python data-source task costs
    # ~0.25 s of executor CPU whatever it reads (measured on a 4-core
    # host): there 64 segments of 1,000 docs plan 8 tasks instead of 64,
    # while 8 segments of 50,000 docs still plan 8.
    _AUTO_DOCS_PER_TASK = 4_000_000

    def partitions(self) -> list[PinotInputPartition]:
        return self._plan().partitions()

    def _plan(self) -> ScanPlan:
        """Prune, then pack. Pruning is per segment (its granularity is
        unaffected by packing): zone and partition maps, then bloom
        filters, then the head/tail cuts. Stats come from the table-level
        segment_stats.json manifest when fresh — ONE file read per table
        dir instead of a SegmentReader.open per segment, which is the
        difference between O(1) and O(segments) driver-side planning at
        10^5-segment scale; segments the manifest doesn't cover fall back
        to the per-segment open for zone maps and skip the bloom probe."""
        spec = self._spec
        counts = self._spp in (None, 1) and spec.counts_only()
        stats: dict = {}
        if spec.filters or spec.cuts() or (self._spp is None and not counts):
            from pinot_segment.manifest import stats_for_segments

            stats = stats_for_segments(self._segments)
        pruned = dict.fromkeys(ScanPlan.PRUNE_STEPS, 0)
        survivors = []
        for seg in self._segments:
            step = (
                _segment_prune_step(seg, spec.filters, stats.get(seg))
                if spec.filters
                else None
            )
            if step:
                pruned[step] += 1
            else:
                survivors.append(seg)
        kept = _bloom_prune(survivors, stats, spec.filters)
        pruned["bloom"] = len(survivors) - len(kept)
        survivors = kept
        for cut, reverse in spec.cuts():
            kept = _head_prune(survivors, stats, cut, reverse)
            pruned["head_tail"] += len(survivors) - len(kept)
            survivors = kept
        if counts:
            spp = max(
                self._COUNT_PACK,
                -(-len(survivors) // self._COUNT_TASKS_TARGET),
            )
            groups = _groups(survivors, spp)
        elif self._spp is None:
            groups = _doc_count_groups(
                survivors, stats, self._AUTO_DOCS_PER_TASK
            )
        else:
            groups = _groups(survivors, self._spp)
        return ScanPlan(tuple(map(tuple, groups)), pruned)

    # -- execution (runs on executors) --------------------------------------

    def read(self, partition: PinotInputPartition) -> Iterator["pa.RecordBatch"]:
        return _read_partition(self._spec, partition)


class PinotMetadataReader(PinotDataSourceReader):
    """The metadata-only scans: rows come from segment metadata,
    dictionaries and index popcounts, never from a per-row value decode.

    - ``dictionary_only`` (r8): the column's DICTIONARY entries, one batch
      per segment — the distinct-value stream of a dict-encoded column
      (operators/segment_distinct.py::dictionary_union_distinct).
    - ``value_counts`` (r8): (distinct value(s), row count) per segment —
      Pinot's dictionary-based GROUP BY optimization; counts come from
      inverted-index bitmap popcounts / a forward-id bincount (single
      column) or one np.unique over the mixed-radix combined dict-id
      (composite key) (SegmentReader.dict_value_counts /
      dict_value_counts_multi).
    - ``segment_stats`` (r12): one row per SEGMENT with its metadata-level
      stats — Pinot's segment-metadata endpoint
      (GET /segments/{table}/{segment}/metadata) surfaced as a queryable
      relation, the observability view operators use to reason about
      layout (segment sizes, zone-map spans) without decoding any data.
      Rows come from the table manifest when fresh (zero column decodes);
      ``stats_column`` adds that column's zone-map min/max (single-value
      INT/LONG only — exact BIGINT output).

    Predicates apply to dictionary entries, per-value counts or
    per-segment rows, not docs — zone maps, sorted ranges and doc bitmaps
    are all doc-space machinery — so nothing pushes and Spark filters the
    (tiny) row stream above the scan. Planning packs segments the way an
    unfiltered data scan does; the segment-stats table is one task."""

    def __init__(
        self,
        schema: StructType,
        segments: list[str],
        segments_per_partition: "int | None",
        mode: str,
        arg: "str | None",
    ) -> None:
        super().__init__(schema, segments, segments_per_partition)
        self._mode = mode
        self._arg = arg

    @staticmethod
    def output_schema(md, mode: str, arg: "str | None") -> StructType:
        """The relation a metadata-only scan returns, validated against
        the first segment's metadata."""
        if mode == "segment_stats":
            fields = [
                StructField("segment", StringType(), False),
                StructField("n_rows", LongType(), False),
                StructField("n_columns", LongType(), False),
            ]
            if arg:
                cm = md.columns.get(arg)
                if cm is None:
                    raise ValueError(f"stats_column not in segment: {arg}")
                if not cm.is_single_value or cm.data_type.value not in (
                    "INT",
                    "LONG",
                ):
                    raise ValueError(
                        "stats_column supports single-value INT/LONG "
                        f"columns: {arg}"
                    )
                fields.append(StructField(f"min_{arg}", LongType(), True))
                fields.append(StructField(f"max_{arg}", LongType(), True))
            return StructType(fields)
        names = (
            [arg]
            if mode == "dictionary_only"
            else [c.strip() for c in arg.split(",") if c.strip()]
        )
        fields = []
        for name in names:
            cm = md.columns.get(name)
            if cm is None:
                raise ValueError(f"{mode} column not in segment: {name}")
            if not cm.is_single_value or cm.data_type.value not in (
                "INT", "LONG", "FLOAT", "DOUBLE", "STRING"
            ):
                raise ValueError(
                    f"{mode} supports single-value "
                    f"INT/LONG/FLOAT/DOUBLE/STRING columns: {name}"
                )
            fields.append(
                StructField(name, _SPARK_TYPES[cm.data_type.value], False)
            )
        if mode == "value_counts":
            fields.append(StructField("cnt", LongType(), False))
        return StructType(fields)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        yield from filters

    def _plan(self) -> ScanPlan:
        if self._mode == "segment_stats":
            # one task: a manifest read plus at worst one metadata parse
            # per uncovered segment
            return ScanPlan(
                (tuple(self._segments),), dict.fromkeys(ScanPlan.PRUNE_STEPS, 0)
            )
        return super()._plan()

    def read(self, partition: PinotInputPartition) -> Iterator["pa.RecordBatch"]:
        if partition is None:
            return
        rows = {
            "dictionary_only": self._dictionary_rows,
            "value_counts": self._value_count_rows,
            "segment_stats": self._segment_stat_rows,
        }[self._mode]
        yield from rows(partition.segment_dirs)

    def _segment_stat_rows(self, segment_dirs) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        from pinot_segment.manifest import (
            collect_segment_stats,
            stats_for_segments,
        )

        scol = self._arg
        manifest = stats_for_segments(list(segment_dirs))
        names, n_rows, n_cols, mins, maxs = [], [], [], [], []
        for v3 in segment_dirs:
            st = manifest.get(v3)
            if st is None:
                # no fresh manifest: open THIS segment's metadata
                # (the per-segment fallback, never a data decode)
                st = collect_segment_stats(v3)
            seg_dir = os.path.dirname(v3)
            names.append(os.path.basename(seg_dir))
            n_rows.append(int(st["total_docs"]))
            n_cols.append(len(st["columns"]))
            if scol:
                entry = st["columns"].get(scol) or {}
                mn, mx = entry.get("min"), entry.get("max")
                mins.append(None if mn is None else int(mn))
                maxs.append(None if mx is None else int(mx))
        arrays = [
            pa.array(names, pa.string()),
            pa.array(n_rows, pa.int64()),
            pa.array(n_cols, pa.int64()),
        ]
        if scol:
            arrays.append(pa.array(mins, pa.int64()))
            arrays.append(pa.array(maxs, pa.int64()))
        yield pa.RecordBatch.from_arrays(
            arrays, names=list(self._spec.columns)
        )

    def _dictionary_rows(self, segment_dirs) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        col = self._arg
        for segment_dir in segment_dirs:
            r = _open_segment(segment_dir)
            cm = r.metadata.columns.get(col)
            if cm is None:
                # schema evolution: a pre-column segment reads as
                # all-NULL — it contributes no dictionary entries
                continue
            if cm.has_null_values:
                raise ValueError(
                    f"dictionary_only on nullable column {col}: the "
                    "dictionary contains the NULL fill entry and "
                    "cannot stand in for the distinct value set"
                )
            vals = r.dictionary_values(col)
            if vals is None:
                raise ValueError(
                    f"dictionary_only: {col} is not dict-encoded in "
                    f"{segment_dir}"
                )
            if len(vals):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vals)], names=[col]
                )

    def _value_count_rows(self, segment_dirs) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        names = [c.strip() for c in self._arg.split(",") if c.strip()]
        for segment_dir in segment_dirs:
            r = _open_segment(segment_dir)
            missing = [c for c in names if r.metadata.columns.get(c) is None]
            if missing:
                # schema evolution: a pre-column segment holds only NULL
                # rows for the column. SQL GROUP BY would emit a
                # NULL-keyed group here, which dictionary counts cannot
                # represent — silently skipping the segment would return
                # incomplete counts, so refuse (the same contract as the
                # nullable check below; dictionary_groupby_count's
                # precondition gate rejects such tables before planning).
                raise ValueError(
                    f"value_counts: {missing} absent from segment "
                    f"{segment_dir} (pre-schema-evolution rows would be "
                    "silently dropped); value_counts requires the "
                    "column(s) present, dict-encoded and null-free in "
                    "every segment"
                )
            if len(names) == 1:
                got = r.dict_value_counts(names[0])
                if got is not None:
                    got = ([got[0]], got[1])
            else:
                got = r.dict_value_counts_multi(names)
            if got is None:
                raise ValueError(
                    f"value_counts needs {names} dict-encoded and "
                    f"null-free in every segment: {segment_dir}"
                )
            value_arrays, counts = got
            if len(counts):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(v) for v in value_arrays]
                    + [pa.array(counts)],
                    names=names + ["cnt"],
                )


def explain_scan(
    path_or_segments, filters=(), columns=None, options=None
) -> dict:
    """What a batch scan plans, counted by the planner's own code
    (``PinotDataSourceReader._plan``, which ``partitions()`` runs), without
    a Spark session.

    ``path_or_segments`` is a ``load()`` path or a list of v3 segment dirs;
    ``filters`` are data source API filters (``pyspark.sql.datasource``
    ``EqualTo``, ``In``, ...) as Spark would push them; ``columns`` is the
    projection; ``options`` any other read options. Returns the segment
    count, the segments kept, the segments each pruning step dropped
    (``pruned_zone_map``, ``pruned_partition_map``, ``pruned_bloom``,
    ``pruned_head_tail``) and the Spark task count."""
    opts = dict(options or {})
    if isinstance(path_or_segments, (str, os.PathLike)):
        opts["path"] = os.fspath(path_or_segments)
    else:
        opts["segments"] = ",".join(map(os.fspath, path_or_segments))
    if columns is not None:
        opts["columns"] = ",".join(columns)
    source = PinotDataSource(opts)
    reader = source.reader(source.schema())
    list(reader.pushFilters(list(filters)))
    plan = reader._plan()
    return {
        "segments": len(reader._segments),
        "kept": sum(map(len, plan.groups)),
        **{f"pruned_{step}": n for step, n in plan.pruned.items()},
        "tasks": len(plan.partitions()),
    }


# -- the per-segment read pipeline (runs on executors) -----------------------


def _read_partition(
    spec: ScanSpec, partition: "PinotInputPartition | None"
) -> Iterator["pa.RecordBatch"]:
    """Every segment of a partition through ``_scan_segment`` (an
    unfiltered COUNT(*) reads row counts only), emitted as natural Arrow
    chunks with the CDC change tag appended last when the partition
    carries one. Spark re-slices to its own batch size JVM-side, so
    pre-slicing (the reference's 8,192-row exec.rs:24 batches) would only
    multiply per-batch IPC overhead."""
    import pyarrow as pa

    if partition is None:
        return
    dirs = partition.segment_dirs
    if spec.counts_only():
        tables = _count_tables(dirs)
    else:
        tables = (_scan_segment(spec, d) for d in dirs)
    for table in tables:
        if table is None or not table.num_rows:
            continue
        if partition.change_tag is not None:
            table = table.append_column(
                pa.field("_change_type", pa.string(), nullable=False),
                pa.array([partition.change_tag] * table.num_rows, pa.string()),
            )
        yield from table.to_batches()


def _rows_only(n: int) -> "pa.Table":
    """A zero-column table of n rows: valid Arrow, and Spark counts it."""
    import pyarrow as pa

    return pa.Table.from_batches(
        [pa.RecordBatch.from_struct_array(pa.nulls(n, pa.struct([])))]
    )


def _count_tables(segment_dirs) -> Iterator["pa.Table"]:
    """Row counts for an unfiltered COUNT(*): no index_map / columns.psf
    open — the reference's exec.rs:92-95 metadata count. Manifest-first
    (r12 verdict #3): ONE table-level stats read covers every fresh
    segment in the task, so a 64-segment count task does one JSON read
    instead of 64 properties parses; stale/uncovered segments fall back to
    their own metadata.properties. Verification is scoped to the task's
    OWN segments (r13 advice — stats_for_segments fingerprints only what
    it serves), so a worker on a 1M-segment table pays ~31k stat+md5 per
    task, not 1M."""
    from pinot_segment import SegmentMetadata
    from pinot_segment.manifest import stats_for_segments

    manifest = stats_for_segments(list(segment_dirs))
    for segment_dir in segment_dirs:
        st = manifest.get(segment_dir)
        if st is not None:
            n = int(st["total_docs"])
        else:
            n = SegmentMetadata.from_file(
                os.path.join(segment_dir, "metadata.properties")
            ).total_docs
        yield _rows_only(n)


def _scan_segment(spec: ScanSpec, segment_dir: str) -> "pa.Table | None":
    """One segment through the scan pipeline: open → schema-evolution
    filter rewrite → bloom skip → row range → masks → decode/NULL-fill.
    None when the segment provably holds no matching row."""
    import numpy as np

    reader = _open_segment(segment_dir)
    present = set(reader.metadata.columns)
    # Schema evolution (Pinot's add-column behavior, beyond the
    # reference): a segment written before a column existed reads as
    # all-NULL for it. On such a column only IS NULL — or its double
    # negation NOT(IS NOT NULL) — matches rows, so that conjunct drops;
    # any other predicate (including NOT of a value predicate, which 3VL
    # evaluates to NULL on NULL input) matches none — skip the segment.
    if not all(
        _matches_all_nulls(f)
        for f in spec.filters
        if _filter_attr(f) not in present
    ):
        return None
    filters = tuple(f for f in spec.filters if _filter_attr(f) in present)
    # Bloom-filter pruning (Pinot's bloom_filter index type; beyond the
    # reference): a pushed equality/IN probe on a bloomed column can prove
    # the whole segment empty from a ~100 KB filter read — before any
    # dictionary, forward-index, or inverted-index work. This is the
    # unclustered-high-card complement to zone maps: at 100 TB a point
    # lookup on orderkey/user_id touches a handful of segments instead of
    # decoding every one. Batch planning already probed the segments the
    # manifest marks bloomed (_bloom_prune); this covers segments without
    # fresh stats and the stream readers.
    if _bloom_says_absent(reader, filters):
        return None
    # Row range: a pushed range/eq filter on a column the segment declares
    # sorted binary-searches into a doc range (Pinot's sorted-index idea),
    # and a head/tail cut on a sorted column keeps only its first/last k
    # rows; only [lo, hi) is ever decoded, remaining filters mask within
    # the slice.
    rng = _sorted_row_range(reader, filters)
    for cut, reverse in spec.cuts():
        rng = _intersect(rng, _head_row_range(reader, cut, reverse))
    if rng is not None and rng[0] >= rng[1]:
        return None  # provably empty
    # Pushed filters, then each probe, AND into one row mask; an empty
    # mask ends the segment before the next probe's work.
    mask = None
    for m in chain(
        (_row_mask(reader, filters, rng),),
        (_probe_rows(reader, p, rng) for p in spec.probes),
    ):
        if m is None:
            continue
        mask = m if mask is None else mask & m
        if not mask.any():
            return None
    decode_cols = [c for c in spec.columns if c in present]
    if not decode_cols:
        # Empty projection — COUNT(*) via `.option("columns", "")` — or
        # only columns this segment predates: the row count comes from
        # segment metadata (or the filter mask); no forward index is
        # decoded, matching the reference's metadata-only count
        # (exec.rs:92-95).
        if mask is not None:
            n = int(mask.sum())
        elif rng is not None:
            n = rng[1] - rng[0]
        else:
            n = reader.total_docs()
        table = _rows_only(n)
    elif mask is not None:
        # Filter resolved to a row mask (inverted-index bitmap or residual
        # predicate): decode ONLY the matching docs. Dict columns
        # fancy-index their id stream before the dictionary take, so a
        # selective filter (the inverted index's whole point) pays
        # O(matches) value materialization instead of
        # decode-everything-then-filter (r5 verdict #2).
        sel = np.flatnonzero(mask)
        if rng is not None and rng[0]:
            sel = sel + rng[0]
        table = reader.read_columns_arrow(decode_cols, selection=sel)
    else:
        table = reader.read_columns_arrow(decode_cols, rng)
    if len(decode_cols) != len(spec.columns):
        table = _fill_missing_columns(spec, table)
    return table


def _arrow_type_from_spark(type_str: str):
    """Arrow type for a Spark simpleString — used only to synthesize
    all-NULL columns for segments that predate a column."""
    import pyarrow as pa

    scalar = {
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "boolean": pa.bool_(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if type_str.startswith("array<") and type_str.endswith(">"):
        return pa.list_(_arrow_type_from_spark(type_str[6:-1]))
    if type_str.startswith("decimal("):
        p, s = type_str[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    try:
        return scalar[type_str]
    except KeyError:
        raise ValueError(
            f"cannot synthesize a NULL column of Spark type '{type_str}'"
        ) from None


def _fill_missing_columns(spec: ScanSpec, table: "pa.Table") -> "pa.Table":
    """Assemble the full projected Table when the segment lacks some
    columns (schema evolution): decoded columns pass through, missing ones
    become all-NULL arrays of the declared Spark type, in projection
    order."""
    import pyarrow as pa

    arrays, fields = [], []
    for name, tstr in zip(spec.columns, spec.column_types, strict=True):
        if name in table.column_names:
            col = table.column(name)
            fields.append(pa.field(name, col.type, nullable=True))
            arrays.append(col)
        else:
            at = _arrow_type_from_spark(tstr)
            fields.append(pa.field(name, at, nullable=True))
            arrays.append(pa.chunked_array([pa.nulls(table.num_rows, at)]))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def register_pinot_source(spark) -> None:
    spark.dataSource.register(PinotDataSource)


# -- streaming read (beyond parity: reference README.md:419 roadmap item) ----


class _SegmentStreamReader(DataSourceStreamReader):
    """A micro-batch of segments read through the batch scan's pipeline:
    columns and types only — stream reads push no filters and ignore the
    probe and head/tail options. ``commit`` and ``stop`` keep the API's
    no-op defaults: landed segments are immutable, and retired-segment
    reclaim belongs to vacuum, not the stream."""

    def __init__(
        self, fields, path: str, segments_per_partition: int = 1
    ) -> None:
        self._spec = ScanSpec.of(fields)
        self._path = path
        self._spp = segments_per_partition

    def read(self, partition: PinotInputPartition) -> Iterator["pa.RecordBatch"]:
        return _read_partition(self._spec, partition)


class PinotStreamReader(_SegmentStreamReader):
    """``spark.readStream.format("pinot")`` — segment-arrival micro-batches.

    The reference reads REALTIME segment dirs as static files and lists true
    streaming ingest as roadmap ("REALTIME segment support", reference
    README.md:419, metadata_provider.rs:163-178). This reader completes it
    Spark-natively: each micro-batch processes the segments that appeared in
    the table directory since the last batch (segments are immutable once
    landed — the ``tmp``-staging + rename commit of the pinot sink guarantees
    a segment is only visible complete, so source and sink compose into an
    end-to-end segment pipeline).

    Offsets (r12, O(1) checkpoint state at 100 TB): ``{"log_id": N,
    "extra": [...]}`` — the snapshot-log id plus the (normally EMPTY)
    list of segments present in the directory but not covered by that
    snapshot. Sink-written tables commit a snapshot per write, so their
    offsets are a single integer no matter how many segments the table
    holds; tables written out-of-band (no log append) degrade gracefully:
    their unlogged segments ride in ``extra``, reproducing the legacy
    seen-set behavior exactly. Legacy checkpoints (``{"seen": [...]}``
    from pre-r12 runs) are still accepted as a batch START offset, so a
    restart across the upgrade resumes without replay. The flip side of
    log-relative offsets: if vacuum prunes the checkpointed snapshot id
    while the stream is down, the processed-set is unrecoverable and the
    reader fails fast with a recovery contract (fresh checkpoint = full
    replay; raise vacuum ``keep_last``) — same stance as the CDC reader,
    where the legacy self-contained seen-set was immune but O(segments). A micro-batch
    gets one input partition per new segment, read on executors with the
    same column reader as the batch path. This is exactly a file-source
    with segment granularity, so watermarks/windows/stateful ops above it
    work unchanged.
    """

    def __init__(
        self, schema: StructType, path: str, segments_per_partition: int = 1
    ) -> None:
        super().__init__(schema.fields, path, segments_per_partition)

    def _current_segments(self) -> list[str]:
        try:
            return _discover_segments(self._path)
        except ValueError:
            return []

    @staticmethod
    def _names(segs: list[str]) -> list[str]:
        # v3 dir → segment dir name (the stable identity)
        return sorted(os.path.basename(os.path.dirname(s)) for s in segs)

    def _offset_names(self, off: dict) -> set:
        """Segment-name set an offset denotes: as-of(log_id) ∪ extra for
        the r12 form, the literal set for a legacy {"seen": ...}
        checkpoint."""
        import json

        from pinot_segment.snapshot import snapshot_segment_names

        if "seen" in off:  # legacy (pre-r12) checkpoint
            return set(json.loads(off["seen"]))
        names: set = set(json.loads(off.get("extra", "[]")))
        log_id = int(off.get("log_id", 0))
        if log_id > 0:
            try:
                names.update(snapshot_segment_names(self._path, log_id))
            except (ValueError, FileNotFoundError) as ex:
                # Checkpointed snapshot id pruned from the log: vacuum
                # outran the stream (same hazard class as the CDC reader,
                # which fails the same way — the legacy seen-set
                # checkpoints were self-contained and immune). On an
                # append-only table vacuum removed no DATA, but the
                # processed-set the pruned entry recorded is gone, so any
                # guess would silently skip or replay segments. Fail loud
                # with the recovery contract instead.
                raise ValueError(
                    f"pinot stream restart: checkpoint references snapshot "
                    f"id {log_id}, which is no longer in the snapshot log "
                    f"({ex}) — vacuum's keep_last window passed it while "
                    "the stream was down. The exact processed-segment set "
                    "cannot be reconstructed, so resuming would risk "
                    "skipping or replaying segments. Recover by restarting "
                    "with a NEW checkpoint dir (full replay — safe for "
                    "idempotent/dedup-keyed sinks), and raise vacuum "
                    "keep_last above the stream's max expected downtime; "
                    "vacuum(dry_run=True).pruned_snapshots previews the "
                    "checkpoint ids a reclaim would strand"
                ) from ex
        return names

    def initialOffset(self) -> dict:
        import json

        return {"log_id": 0, "extra": json.dumps([])}

    def latestOffset(self) -> dict:
        import json

        from pinot_segment.snapshot import (
            current_snapshot_id,
            snapshot_segment_names,
        )

        names = set(self._names(self._current_segments()))
        log_id = current_snapshot_id(self._path) or 0
        covered = (
            set(snapshot_segment_names(self._path, log_id))
            if log_id
            else set()
        )
        # extra is EMPTY for sink-written tables (every write commits a
        # snapshot) — the offset is then one integer; out-of-band segments
        # keep riding explicitly so nothing is ever silently skipped
        return {
            "log_id": log_id,
            "extra": json.dumps(sorted(names - covered)),
        }

    def partitions(self, start: dict, end: dict) -> list[PinotInputPartition]:
        seen = self._offset_names(start)
        new = [n for n in sorted(self._offset_names(end)) if n not in seen]
        # Map offset names back to real v3 paths via the same discovery the
        # offsets came from — `{path}/{name}/v3` reconstruction would be wrong
        # for the single-segment-dir / bare-v3 layouts _discover_segments also
        # accepts. Segments are immutable once landed, so a name from
        # latestOffset() must still resolve here.
        by_name = {
            os.path.basename(os.path.dirname(s)): s
            for s in self._current_segments()
        }
        dirs = []
        for name in new:
            v3 = by_name.get(name)
            if v3 is None:
                raise ValueError(
                    f"segment '{name}' from checkpoint offset no longer exists "
                    f"under {self._path}; Pinot segments are immutable — was the "
                    "table directory modified out-of-band?"
                )
            dirs.append(v3)
        # Same packing knob as the batch reader: a burst of many tiny
        # segments in one micro-batch otherwise schedules one task each.
        # Spark requires ≥1 partition per batch; empty batch → sentinel.
        groups = _groups(dirs, self._spp) or [[]]
        return [PinotInputPartition(tuple(g)) for g in groups]


class PinotCdcStreamReader(_SegmentStreamReader):
    """``spark.readStream.format("pinot").option("cdc", "true")`` — the
    changed-data feed as a stream, with snapshot-log ids as offsets.

    Why it exists: the plain segment-arrival stream above is append-only —
    after a compaction/delete rewrite, the replacement segments appear as
    brand-new inserts with no compensating deletes, so any downstream
    incremental materialization double-counts the rewritten rows. This
    reader diffs the snapshot LOG instead of the directory: each
    micro-batch is ``changed_segments(start, end)`` — rows from added
    segments tagged ``insert``, rows from retired segments tagged
    ``delete`` (schema = table columns + ``_change_type``). A rewrite's
    surviving rows arrive as delete+insert pairs that cancel under
    additive aggregation, so ``foreachBatch`` + ``sum(sign * x)``
    maintains an exactly-consistent downstream view through compaction,
    predicate deletes, and plain appends alike.

    Ordering guarantee for stateful consumers (r12, pinned by
    test_cdc_fold_through_stateful_operator): a maintenance rewrite
    commits its retire+add as ONE snapshot (append_snapshot records the
    live set once, after both halves land), and offsets are snapshot ids,
    so a rewrite's delete half and its compensating insert ALWAYS arrive
    in the same micro-batch — a batch window (s, e] either contains the
    rewrite's id or it doesn't. Within that batch the per-key rows reach
    a stateful operator (applyInPandasWithState) in arbitrary order, so
    the state fold must be order-insensitive WITHIN a batch (sign-additive
    folds are); it never needs cross-batch commutativity for rewrites.

    Offsets are single integers (the snapshot id) — O(1) checkpoint state
    no matter how many segments the table holds, vs the seen-set offsets
    of the append-only reader. ``initial_snapshot='earliest'`` starts from
    the virtual empty snapshot 0 (first batch = the whole current view as
    inserts — the bootstrap path); ``'latest'`` starts at the current id
    (changes only). Requires the table's maintenance to run with
    ``retain_replaced=True`` and ``vacuum`` keep windows longer than the
    stream's max batch lag — a vacuumed-away endpoint fails the batch with
    an explicit error rather than silently dropping deletes.

    Recovery after vacuum outran the stream (r10 verdict #6): if the
    CHECKPOINTED snapshot id was pruned from the log (``vacuum
    keep_last`` shorter than the stream's downtime), restart fails fast
    with a ValueError naming the pruned id — the delete half of the
    missed window is physically gone, so no resume can be exact. The
    recovery story is a re-bootstrap: start the stream with a NEW
    checkpoint directory and ``initial_snapshot='earliest'`` (the first
    batch re-emits the whole current view as inserts; rebuild the
    downstream materialization from zero), then raise ``vacuum
    keep_last`` above the stream's maximum expected lag. If the id is
    still in the log but a retired segment DIRECTORY was reclaimed (or
    maintenance ran with the default ``retain_replaced=False``), the
    batch fails with FileNotFoundError instead — same recovery.
    """

    def __init__(
        self,
        schema: StructType,
        path: str,
        segments_per_partition: int = 1,
        initial: str = "earliest",
    ) -> None:
        # _change_type is synthesized per-partition, never decoded
        super().__init__(
            [f for f in schema.fields if f.name != "_change_type"],
            path,
            segments_per_partition,
        )
        self._initial = initial

    def _current_id(self) -> int:
        from pinot_segment.snapshot import current_snapshot_id

        return current_snapshot_id(self._path) or 0

    def initialOffset(self) -> dict:
        if self._initial == "latest":
            return {"snapshot_id": self._current_id()}
        return {"snapshot_id": 0}

    def latestOffset(self) -> dict:
        return {"snapshot_id": self._current_id()}

    def _empty_batch(self) -> list[PinotInputPartition]:
        # Spark requires >= 1 partition per micro-batch
        return [PinotInputPartition((), "insert")]

    def partitions(self, start: dict, end: dict) -> list[PinotInputPartition]:
        from pinot_segment.snapshot import (
            changed_segments,
            resolve_segment_dirs,
        )

        s, e = int(start["snapshot_id"]), int(end["snapshot_id"])
        if s == e or e == 0:
            return self._empty_batch()
        try:
            diff = changed_segments(self._path, s, e)
        except ValueError as ex:
            # checkpointed id pruned from the log: vacuum outran the stream
            raise ValueError(
                f"CDC stream restart: snapshot id {s} is no longer in the "
                f"log ({ex}) — vacuum keep_last was shorter than the "
                "stream's downtime, so the missed window's deletes are "
                "physically gone and no exact resume exists. Recover by "
                "restarting with a NEW checkpoint dir and "
                "initial_snapshot='earliest' (re-bootstrap the downstream "
                "view), and raise vacuum keep_last above the stream's max "
                "expected lag"
            ) from ex
        parts = []
        for names, tag in ((diff["added"], "insert"), (diff["removed"], "delete")):
            if not names:
                continue
            dirs = resolve_segment_dirs(
                self._path, names, f"CDC stream batch {s}->{e}"
            )
            parts.extend(
                PinotInputPartition(tuple(g), tag)
                for g in _groups(dirs, self._spp)
            )
        return parts or self._empty_batch()


# -- write path (beyond parity: reference README.md:418 roadmap item) --------

_WRITE_TYPES = {
    "int": "INT",
    "bigint": "LONG",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "STRING",
    # Beyond the reference (which rejects both at scan time, exec.rs:136-141):
    # binary → BYTES (var-length dict by default, RAW var-byte via `raw`);
    # boolean → 1-bit dict-encoded BOOLEAN; timestamp → epoch-millis LONG
    # (Pinot's TIMESTAMP encoding — sub-millisecond precision is truncated,
    # matching Pinot semantics).
    "binary": "BYTES",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    # timestamp_ntz writes the same epoch-millis LONGs, reading the naive
    # values as UTC (the session timezone this engine pins); the source
    # always surfaces TIMESTAMP columns as UTC instants.
    "timestamp_ntz": "TIMESTAMP",
}

# Multi-value columns (beyond the reference, which lists MV as unsupported,
# README.md:310-316): array<element> → MV dictionary column of the element
# type (flattened dictionary + bit-packed end-offsets, see writer.py).
_MV_WRITE_TYPES = {
    "array<int>": "INT",
    "array<bigint>": "LONG",
    "array<float>": "FLOAT",
    "array<double>": "DOUBLE",
    "array<string>": "STRING",
    "array<boolean>": "BOOLEAN",
}


class PinotStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("pinot")`` — one segment set per micro-batch.

    Same staged-commit protocol as the batch sink (tasks write under the
    reader-skipped ``tmp/``, the driver renames on commit), so a concurrent
    `readStream.format("pinot")` on the same directory observes exactly one
    new immutable segment set per committed batch — an end-to-end
    exactly-once segment pipeline. Batch ids are embedded in segment names
    for traceability; an aborted batch leaves only staged dirs, which
    readers never see."""

    def __init__(
        self,
        schema: StructType,
        path: str,
        table: str,
        raw_columns: set,
        indexes: "IndexOptions | None" = None,
    ) -> None:
        # Delegate validation + the per-task write to the batch writer —
        # including the full index-option surface, so a streaming ingest
        # builds the same text/range/JSON indexes a batch write would
        # (an ingest path that silently drops indexes is a fleet hazard,
        # same reasoning as compaction's union semantics).
        self._delegate = PinotDataSourceWriter(
            schema, path, table, raw_columns, False, indexes
        )
        self._path = path

    def write(self, iterator) -> PinotWriterCommitMessage:
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        _update_manifest_after_commit(
            self._path, _land_segments(self._path, messages, f"b{batchId}_")
        )

    def abort(self, messages, batchId: int) -> None:
        self._delegate.abort(messages)


def _land_segments(path: str, messages, prefix: str = "") -> dict:
    """Rename each staged segment into the table dir as prefix + its name;
    returns the write tasks' manifest stats by landed name."""
    new_stats = {}
    for m in messages:
        if m is None or not m.staged_dir:
            continue
        name = prefix + m.segment_name
        os.replace(m.staged_dir, os.path.join(path, name))
        if m.stats is not None:
            new_stats[name] = m.stats
    return new_stats


def _table_name_from_dir(path: str) -> str:
    base = os.path.basename(os.path.normpath(path))
    for suffix in ("_OFFLINE", "_REALTIME"):
        if base.endswith(suffix):
            return base[: -len(suffix)]
    return base


@dataclass(frozen=True)
class IndexOptions:
    """The sink's per-column index options, parsed once from the write
    options: column sets for each index type, plus the optional
    (partitionColumn, numPartitions) Modulo partition map."""

    inverted: frozenset = frozenset()
    bloom: frozenset = frozenset()
    partition: "tuple[str, int] | None" = None
    text_index: frozenset = frozenset()
    range_index: frozenset = frozenset()
    json_index: frozenset = frozenset()


@dataclass
class PinotWriterCommitMessage(WriterCommitMessage):
    staged_dir: str = ""
    segment_name: str = ""
    # manifest stats computed in the write task (where the data already is —
    # no extra scan): {"total_docs": N, "columns": {col: {...}}}
    stats: dict | None = None


class PinotDataSourceWriter(DataSourceArrowWriter):
    """``df.write.format("pinot")`` — one v3 segment per non-empty partition.

    The reference is read-only ("Write support (create Pinot segments)" is
    roadmap, reference README.md:418); this sink completes the round trip.
    Commit protocol: tasks stage segments under ``{path}/tmp/`` — a directory
    every reader (this repo's discovery and the reference's,
    metadata_provider.rs:184-199) already skips — and the driver-side
    ``commit()`` renames them into the table dir, so concurrent readers never
    observe a partial segment. ``abort()`` removes staged output.

    Scale shape: segment = partition = write task, embarrassingly parallel,
    no driver data movement; repartition upstream to control segment sizes
    (reference guidance: segments < 1 GB, README.md:318-321).
    """

    def __init__(
        self,
        schema: StructType,
        path: str,
        table: str,
        raw_columns: set,
        overwrite: bool,
        indexes: "IndexOptions | None" = None,
    ) -> None:
        ix = indexes or IndexOptions()
        if ix.partition is not None:
            pcol = ix.partition[0]
            ptypes = {f.name: f.dataType.simpleString() for f in schema.fields}
            if pcol not in ptypes:
                raise ValueError(
                    f"pinot sink: partitionColumn '{pcol}' not in schema"
                )
            if ptypes[pcol] not in ("int", "bigint", "timestamp", "timestamp_ntz"):
                raise ValueError(
                    f"pinot sink: partitionColumn '{pcol}' must be an "
                    f"integer/timestamp column, got {ptypes[pcol]}"
                )
        for f in schema.fields:
            t = f.dataType.simpleString()
            if t.startswith("decimal("):
                # DecimalType → BIG_DECIMAL (beyond the reference): the
                # byte serialization caps precision at decimal128's 38
                if f.dataType.precision > 38:
                    raise ValueError(
                        f"pinot sink: decimal precision > 38 unsupported "
                        f"for column '{f.name}'"
                    )
                continue
            if t not in _WRITE_TYPES and t not in _MV_WRITE_TYPES:
                raise ValueError(
                    f"pinot sink cannot write column '{f.name}' of type {t}: "
                    "only INT/LONG/FLOAT/DOUBLE/STRING/BINARY/BOOLEAN/"
                    "DECIMAL and arrays thereof (except binary) are "
                    "supported in the segment format (reference "
                    "README.md:178-190)"
                )
            if f.name in raw_columns and t in _MV_WRITE_TYPES:
                raise ValueError(
                    f"multi-value columns are dictionary-only: {f.name}"
                )
            if f.name in raw_columns and t == "boolean":
                raise ValueError(
                    f"raw (no-dictionary) encoding is not supported for "
                    f"BOOLEAN: {f.name}"
                )
            # binary columns dict-encode by default like every other type
            # (var-length BYTES dictionary); list them in the `raw` option
            # for the var-byte path (the right call for high-cardinality
            # payloads — media blobs, embeddings).
            # MV dict columns take inverted indexes too (Pinot parity:
            # bitmap i = docs whose array contains dictionary value i)
            if f.name in ix.inverted and f.name in raw_columns:
                raise ValueError(
                    f"inverted index requires a dictionary column: {f.name}"
                )
            if f.name in ix.bloom and t in _MV_WRITE_TYPES:
                raise ValueError(
                    f"bloom filter requires a single-value column: {f.name}"
                )
            for kind, cols in (("text", ix.text_index), ("JSON", ix.json_index)):
                if f.name in cols and t != "string":
                    raise ValueError(
                        f"{kind} index requires a single-value STRING "
                        f"column: {f.name}"
                    )
            if f.name in ix.range_index and t not in (
                "int",
                "bigint",
                "float",
                "double",
                "timestamp",
                "timestamp_ntz",
            ):
                raise ValueError(
                    f"range index requires a single-value numeric column: "
                    f"{f.name}"
                )
        self._schema = schema
        self._path = path
        self._table = table
        self._raw = raw_columns
        self._ix = ix
        self._overwrite = overwrite

    def write(self, iterator) -> PinotWriterCommitMessage:
        """Arrow-batch write path (DataSourceArrowWriter): Spark hands whole
        columnar batches — no per-row Python iteration. Numeric/boolean
        columns stay numpy end-to-end into the encoder; string/binary
        columns go to ColumnSpec as the Arrow columns they arrive as, and
        the dict/var-byte encoders read their buffers."""
        import uuid

        import pyarrow as pa
        from pyspark import TaskContext

        from pinot_segment.metadata import DataType
        from pinot_segment.var_byte import LZ4_LENGTH_PREFIXED, PASS_THROUGH
        from pinot_segment.writer import ColumnSpec, write_segment

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return PinotWriterCommitMessage()  # empty partition → no segment
        table = pa.Table.from_batches(batches)

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        seg_name = f"{self._table}_{pid}_{uuid.uuid4().hex[:8]}"
        staged = os.path.join(self._path, "tmp", seg_name)
        specs = []
        for f in self._schema.fields:
            col = table.column(f.name)
            t = f.dataType.simpleString()
            raw = f.name in self._raw
            null_mask = None
            if col.null_count:
                # Nullable single-value columns (a rebuild extension — the
                # reference's schema mapping is non-nullable-only,
                # schema.rs:29-30): store a type-default fill value in the
                # forward index and a 1-bit null-vector index marking the
                # null docs (Pinot's own null-handling shape). The reader
                # re-applies the mask, so fills never surface.
                if t in _MV_WRITE_TYPES:
                    raise ValueError(
                        f"NULL in multi-value column '{f.name}': MV columns "
                        "are non-nullable"
                    )
                combined = col.combine_chunks()
                null_mask = combined.is_null().to_numpy(zero_copy_only=False)
                fills = {"boolean": False, "string": "", "binary": b""}
                if t in ("timestamp", "timestamp_ntz"):
                    filled = combined  # filled below, after the int64 cast
                elif t.startswith("decimal("):
                    import decimal as _decimal

                    filled = combined.fill_null(_decimal.Decimal(0))
                else:
                    filled = combined.fill_null(fills.get(t, 0))
                # re-wrap: the per-type branches below expect a ChunkedArray
                col = pa.chunked_array([filled])
            if t in _MV_WRITE_TYPES:
                if col.combine_chunks().flatten().null_count:
                    raise ValueError(
                        f"NULL element in multi-value column '{f.name}': "
                        "Pinot values are non-nullable (reference "
                        "schema.rs:29-30)"
                    )
                specs.append(
                    ColumnSpec(
                        f.name,
                        DataType(_MV_WRITE_TYPES[t]),
                        col.to_pylist(),
                        multi_value=True,
                        inverted=f.name in self._ix.inverted,
                    )
                )
                continue
            if t.startswith("decimal("):
                # Spark DecimalType → BIG_DECIMAL (exact: Arrow hands
                # decimal.Decimal values; the writer validates each
                # against the column's (precision, scale) and serializes
                # losslessly — no float anywhere in the path)
                specs.append(
                    ColumnSpec(
                        f.name,
                        DataType.BIG_DECIMAL,
                        col.to_pylist(),
                        raw=raw,
                        compression=LZ4_LENGTH_PREFIXED if raw else PASS_THROUGH,
                        null_mask=null_mask,
                        decimal=(f.dataType.precision, f.dataType.scale),
                    )
                )
                continue
            dt = DataType(_WRITE_TYPES[t])
            if t in ("string", "binary"):
                # hand the Arrow column straight to the writer: ColumnSpec
                # makes one 64-bit-offset array of it, and the encoders
                # consume its buffers with no per-value Python objects
                values = col
            elif t == "boolean":
                values = col.combine_chunks().to_numpy(zero_copy_only=False)
            elif t in ("timestamp", "timestamp_ntz"):
                # Arrow micros -> Pinot epoch millis (floor; sub-ms truncated)
                micros = (
                    col.combine_chunks().cast(pa.int64()).fill_null(0).to_numpy()
                )
                values = micros // 1000
            else:
                values = col.combine_chunks().to_numpy()
            # var-byte STRING/BYTES chunks compress; fixed-width RAW
            # numerics (beyond the reference — no dictionary for
            # high-cardinality keys/timestamps) and dictionary columns are
            # stored plain.
            compression = (
                LZ4_LENGTH_PREFIXED
                if raw and t in ("string", "binary")
                else PASS_THROUGH
            )
            ix = self._ix
            specs.append(
                ColumnSpec(
                    f.name,
                    dt,
                    values,
                    raw=raw,
                    compression=compression,
                    null_mask=null_mask,
                    inverted=f.name in ix.inverted,
                    bloom=f.name in ix.bloom,
                    text_index=f.name in ix.text_index,
                    range_index=f.name in ix.range_index,
                    json_index=f.name in ix.json_index,
                    partition_config=(
                        ("Modulo", ix.partition[1])
                        if ix.partition and f.name == ix.partition[0]
                        else None
                    ),
                )
            )
        write_segment(staged, seg_name, self._table, specs)
        return PinotWriterCommitMessage(
            staged_dir=staged,
            segment_name=seg_name,
            stats=_specs_stats(specs, table.num_rows),
        )

    def commit(self, messages) -> None:
        import shutil

        from pinot_segment.manifest import _segment_v3_dirs

        if self._overwrite and os.path.isdir(self._path):
            for v3 in _segment_v3_dirs(self._path):
                shutil.rmtree(os.path.dirname(v3))
        new_stats = _land_segments(self._path, messages)
        tmp = os.path.join(self._path, "tmp")
        try:
            # the isdir/listdir probes race with a concurrent committer's
            # rmdir exactly like the rmdir itself does, so the WHOLE
            # cleanup sits in one try (a bare listdir outside it leaked
            # FileNotFoundError under the two-committer stress test)
            if os.path.isdir(tmp) and not os.listdir(tmp):
                os.rmdir(tmp)
        except OSError:
            # TOCTOU with a concurrent committer (another writer also
            # saw the empty staging dir, removed it first, or staged
            # something new into it) — both outcomes are fine, readers
            # skip `tmp` anyway
            pass
        _update_manifest_after_commit(self._path, new_stats)

    def abort(self, messages) -> None:
        import shutil

        for m in messages:
            if m is not None and m.staged_dir and os.path.isdir(m.staged_dir):
                shutil.rmtree(m.staged_dir, ignore_errors=True)


# -- manifest maintenance ----------------------------------------------------


def _specs_stats(specs, total_docs: int) -> dict:
    """Per-column manifest stats from the in-memory column specs the write
    task just encoded — same (non-null min, max) semantics as
    SegmentReader.column_min_max, computed without re-reading anything."""
    import numpy as np

    from pinot_segment.manifest import _STATS_DTYPES

    cols = {}
    for spec in specs:
        nm = spec.null_mask
        entry = cols[spec.name] = {
            # declared (logical) dtype: a BIG_DECIMAL column stores as
            # BYTES but the manifest/describe_table must report the truth
            "dtype": spec.declared_dtype().value,
            "has_nulls": nm is not None and bool(np.asarray(nm).any()),
        }
        if spec.bloom:
            entry["bloom"] = True  # parity with collect_segment_stats
        if spec.multi_value:
            # MV columns get a stats-free entry (r12 — parity with
            # collect_segment_stats' r11 fix): schema() needs the COMPLETE
            # column census per segment, and the sink path skipping MV
            # meant sink-WRITTEN MV tables still paid a per-segment
            # metadata parse at planning that rebuilt manifests did not
            entry["is_single_value"] = False
            continue
        if not spec.raw:
            # dict-encoded: cardinality = dictionary entry count (values
            # already carry the null fill, matching metadata.properties'
            # own `cardinality`), so distinct-serving strategies
            # (operators/segment_distinct.py) work from this manifest
            # without opening the segment
            entry["has_dictionary"] = True
            # write_segment caches the dictionary entry count — no second
            # distinct pass over the values (r14 optimization)
            entry["cardinality"] = spec._dict_cardinality
        if spec.declared_dtype().value not in _STATS_DTYPES:
            continue  # entry still carries dtype + nullability
        if spec._arrow is not None:
            # text: min/max from one C pass (byte order == Python's
            # code-point order for UTF-8 strings)
            import pyarrow as pa
            import pyarrow.compute as pc

            arrow = spec._arrow
            if nm is not None:
                arrow = arrow.filter(pa.array(~np.asarray(nm)))
            if len(arrow):
                mm = pc.min_max(arrow)
                entry["min"] = mm["min"].as_py()
                entry["max"] = mm["max"].as_py()
            continue
        vals = np.asarray(spec.values)
        if nm is not None:
            vals = vals[~np.asarray(nm)]
        if len(vals):
            entry["min"] = vals.min().item()
            entry["max"] = vals.max().item()
        if spec.partition_config is not None:
            func, num = spec.partition_config
            pids = np.unique(np.asarray(vals, dtype=np.int64) % num)
            entry["partitions"] = {
                "function": func,
                "num": num,
                "values": [int(p) for p in pids],
            }
    # all_columns: this map is the segment's COMPLETE column census (MV
    # included, r12) — planning may treat a column ABSENT from it as one
    # the segment predates (evolution NULL-fill) without a metadata parse
    return {"total_docs": total_docs, "columns": cols, "all_columns": True}


# Cap on driver-side segment opens during a commit-time manifest merge: a
# first write into a large pre-existing table would otherwise collect stats
# for every legacy segment inside commit(). Past the cap the manifest is not
# written (planning falls back to per-segment opens) rather than stalling
# the commit.
_MANIFEST_BACKFILL_CAP = 256


def _update_manifest_after_commit(path: str, new_stats: dict) -> None:
    """Merge task-computed stats into the table's segment_stats.json after
    segments land. Pre-existing segments keep their prior entries when the
    fingerprints still match; anything uncovered is (re)collected up to
    ``_MANIFEST_BACKFILL_CAP`` opens — so a written manifest always describes
    the exact post-commit segment set. Best-effort: the manifest is a
    planning optimization, never a commit failure — but only environmental /
    format errors are swallowed (programming errors surface)."""
    import logging

    from pinot_segment.errors import InvalidFormatError, UnsupportedFeatureError

    # Snapshot log first (pinot_segment/snapshot.py): every committed
    # mutation records its post-commit segment set, enabling
    # .option("as_of", N) reads and maintenance-immune long scans. Like
    # the manifest, best-effort — a log write failure must not fail the
    # commit the segments already landed for.
    try:
        from pinot_segment.snapshot import append_snapshot

        append_snapshot(path)
    except OSError as exc:
        logging.getLogger(__name__).warning(
            "pinot commit: snapshot log skipped for %s: %s", path, exc
        )

    try:
        from pinot_segment import manifest as M

        prior = M.load_manifest(path, verify=False) or {}
        segments = {}
        backfills = 0
        for v3 in M._segment_v3_dirs(path):
            key = M._seg_key(v3)
            fp = M._fingerprint(v3)
            if key in new_stats:
                stats = dict(new_stats[key])
                stats["fingerprint"] = fp
            elif key in prior and prior[key].get("fingerprint") == fp:
                stats = prior[key]
            else:
                backfills += 1
                if backfills > _MANIFEST_BACKFILL_CAP:
                    logging.getLogger(__name__).info(
                        "pinot commit: >%d uncovered legacy segments under %s;"
                        " skipping manifest write (planning will open segments)",
                        _MANIFEST_BACKFILL_CAP,
                        path,
                    )
                    return
                stats = M.collect_segment_stats(v3)
            segments[key] = stats
        M.write_manifest(path, {"version": M.VERSION, "segments": segments})
    except (OSError, InvalidFormatError, UnsupportedFeatureError) as exc:
        logging.getLogger(__name__).warning(
            "pinot commit: manifest update skipped for %s: %s", path, exc
        )


# -- predicate evaluation helpers -------------------------------------------


def _ts_epoch_micros(v) -> int | None:
    """Exact epoch-microseconds for a pushed TIMESTAMP filter operand, or
    None when the operand isn't a datetime. Spark's filter serialization
    (variant) hands tz-aware datetimes for TIMESTAMP literals; naive values
    (TIMESTAMP_NTZ-typed literals) are read as UTC wall-clock — the session
    timezone this engine pins. Integer arithmetic throughout: float
    ``timestamp()`` is off by ±1us beyond 2^53."""
    import datetime as dt

    if not isinstance(v, dt.datetime):  # note: datetime is a date subclass
        return None
    if v.tzinfo is None:
        v = v.replace(tzinfo=dt.timezone.utc)
    return (v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
        microseconds=1
    )


def _convert_ts_filter(f: Filter) -> Filter | None:
    """Rewrite a range/eq/IN filter on a TIMESTAMP column into the exact
    equivalent over the stored epoch-millis LONGs.

    A stored value ``m`` (millis) surfaces to Spark as the instant
    ``m*1000`` micros, so for a bound of ``u`` micros with
    ``q, r = divmod(u, 1000)``:

    - aligned (r == 0): same comparison against ``q``;
    - unaligned: ``m*1000 > u ⟺ m > q`` (and ``>= u`` ⟺ ``> q``,
      ``< u`` ⟺ ``<= q``, ``<= u`` ⟺ ``<= q``), since no stored instant
      falls strictly between ``q*1000`` and ``(q+1)*1000``; an unaligned
      equality can match no stored row (pushed as an empty IN, which
      zone-map-prunes every segment).

    Returns None when an operand isn't a datetime (caller yields the filter
    back to Spark)."""
    if isinstance(f, In):
        millis = []
        for v in f.value:
            u = _ts_epoch_micros(v)
            if u is None:
                return None
            if u % 1000 == 0:  # unaligned IN members can't match stored rows
                millis.append(u // 1000)
        return In(f.attribute, tuple(millis))
    u = _ts_epoch_micros(f.value)
    if u is None:
        return None
    q, r = divmod(u, 1000)
    if isinstance(f, EqualTo):
        return EqualTo(f.attribute, q) if r == 0 else In(f.attribute, ())
    if isinstance(f, GreaterThan):
        return GreaterThan(f.attribute, q)
    if isinstance(f, GreaterThanOrEqual):
        return (
            GreaterThanOrEqual(f.attribute, q) if r == 0 else GreaterThan(f.attribute, q)
        )
    if isinstance(f, LessThan):
        return LessThan(f.attribute, q) if r == 0 else LessThanOrEqual(f.attribute, q)
    if isinstance(f, LessThanOrEqual):
        return LessThanOrEqual(f.attribute, q)
    return None  # pragma: no cover - _RANGE_FILTERS covers the above


def _filter_bounds_check(f: Filter, mn, mx) -> bool:
    """False if the [mn, mx] zone map proves the filter matches no rows."""
    try:
        if isinstance(f, EqualTo):
            return mn <= f.value <= mx
        if isinstance(f, In):
            return any(mn <= v <= mx for v in f.value)
        if isinstance(f, GreaterThan):
            return mx > f.value
        if isinstance(f, GreaterThanOrEqual):
            return mx >= f.value
        if isinstance(f, LessThan):
            return mn < f.value
        if isinstance(f, LessThanOrEqual):
            return mn <= f.value
    except TypeError:
        return True  # incomparable types: cannot prune
    return True


def _filter_attr(f) -> str:
    """The column a pushed filter constrains (through NOT)."""
    return f.child.attribute[0] if isinstance(f, Not) else f.attribute[0]


def _matches_all_nulls(f) -> bool:
    """True iff the predicate is satisfied by a NULL value (SQL 3VL):
    only IS NULL and NOT(IS NOT NULL) are; every value predicate — and
    NOT of one — evaluates to NULL/false on NULL input."""
    return isinstance(f, IsNull) or (
        isinstance(f, Not) and isinstance(f.child, IsNotNull)
    )


def _prefix_upper(prefix: str) -> "str | None":
    """Smallest string greater than every string with the given prefix
    (for range semantics of LIKE 'prefix%'): increment the last
    non-maximal character and truncate. None when no such bound exists."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            return prefix[:i] + chr(c + 1)
    return None


def _startswith_pruned(prefix: str, mn, mx) -> bool:
    """Zone-map prune for a pushed LIKE 'prefix%': every match lies in
    [prefix, prefix_upper), so a segment whose string range misses that
    interval is provably empty."""
    if not isinstance(mn, str) or not isinstance(mx, str):
        return False
    if mx < prefix:  # a match starts with prefix, so it is >= prefix
        return True
    upper = _prefix_upper(prefix)
    return upper is not None and mn >= upper


def _partition_map_pruned(
    f: Filter, function: str | None, num: int, values
) -> bool:
    """True when an EqualTo/In conjunct provably misses every partition id
    present in the segment (Pinot's partition pruning). Only prunes when
    EVERY operand's residue is computable — a non-integer operand makes the
    conjunct unprunable, never wrongly pruned."""
    if function != "Modulo" or not num or not isinstance(f, (EqualTo, In)):
        return False
    operands = [f.value] if isinstance(f, EqualTo) else list(f.value)
    if not operands:
        return True  # empty IN matches nothing
    pids = set()
    for v in operands:
        if isinstance(v, bool) or not isinstance(v, int):
            return False
        pids.add(v % num)
    return not (pids & set(values))


def _stats_prune_step(stats: dict, filters: list[Filter]) -> "str | None":
    """Zone-map + partition-map pruning from manifest stats alone — no
    segment open: the step that proves the segment empty
    (``"zone_map"`` / ``"partition_map"``), or None."""
    cols = stats.get("columns", {})
    for f in filters:
        cs = None if isinstance(f, Not) else cols.get(f.attribute[0])
        if cs is None:
            continue
        if isinstance(f, IsNull):
            # IS NULL is provably empty only for a column with no
            # null-vector index (the non-nullable default).
            if not cs.get("has_nulls"):
                return "zone_map"
            continue
        if isinstance(f, StringStartsWith):
            if "min" in cs and _startswith_pruned(f.value, cs["min"], cs["max"]):
                return "zone_map"
            continue
        if not isinstance(f, _RANGE_FILTERS):
            continue
        pm = cs.get("partitions")
        if pm is not None and _partition_map_pruned(
            f, pm.get("function"), pm.get("num", 0), pm.get("values", ())
        ):
            return "partition_map"
        if "min" not in cs:
            continue
        if not _filter_bounds_check(f, cs["min"], cs["max"]):
            return "zone_map"
    return None


def _segment_prune_step(
    segment_dir: str, filters: list[Filter], stats: dict | None = None
) -> "str | None":
    """Zone-map pruning: the step (``"zone_map"`` / ``"partition_map"``)
    that proves some pushed filter unsatisfiable given a column's (min,
    max) / nullability / partition stats — from the table manifest when
    available (``stats``), else collected by opening the segment — or
    None. A segment that cannot be opened or parsed is kept."""
    if stats is None:
        from pinot_segment.manifest import collect_segment_stats

        try:
            stats = collect_segment_stats(segment_dir)
        except Exception:
            return None
    return _stats_prune_step(stats, filters)


def _segment_can_be_skipped(
    segment_dir: str, filters: list[Filter], stats: dict | None = None
) -> bool:
    return _segment_prune_step(segment_dir, filters, stats) is not None


def _bloom_says_absent(reader, filters) -> bool:
    """True when any pushed EqualTo/In conjunct is provably absent from the
    segment per that column's bloom filter (SegmentReader.bloom_might_contain
    — False only on a definite miss). Filters arrive as a conjunction, so
    one absent conjunct empties the whole segment; nothing else needs to be
    opened or decoded. Probe errors (type-mismatched values) fall through to
    the normal mask path rather than wrongly pruning."""
    for f in filters:
        if not isinstance(f, (EqualTo, In)):
            continue
        name = f.attribute[0]
        if name not in reader.metadata.columns:
            continue
        values = [f.value] if isinstance(f, EqualTo) else list(f.value)
        try:
            hit = reader.bloom_might_contain(name, values)
        except (TypeError, ValueError):
            continue
        if hit is False:
            return True
    return False


def _bloom_prune(survivors: list, stats: dict, filters) -> list:
    """Planning-time bloom pruning: drop the segments whose bloom filter
    rules out a pushed EqualTo/In conjunct. Only a segment whose manifest
    entry marks the probed column ``"bloom": true`` is opened; an entry
    without the mark (unknown, e.g. written before it existed) or a
    segment without fresh stats is kept unopened — ``_scan_segment``'s own
    bloom check still covers it at read time."""
    probes = [f for f in filters if isinstance(f, (EqualTo, In))]
    if not probes:
        return survivors
    kept = []
    for seg in survivors:
        cols = (stats.get(seg) or {}).get("columns", {})
        bloomed = [f for f in probes if cols.get(f.attribute[0], {}).get("bloom")]
        if not (bloomed and _bloom_says_absent(_open_segment(seg), bloomed)):
            kept.append(seg)
    return kept


def _head_prune(survivors, stats, head, reverse: bool = False):
    """Drop segments that provably contain NONE of the table's first
    (``reverse=False``) or last (``reverse=True``) k rows in `col`
    order: a segment prunes when the docs of segments wholly before it in
    that direction already reach k. Segments without fresh stats are
    conservatively kept and count nothing toward the cutoffs. Boundary
    TIES never count as before (strict inequality) — tied rows may belong
    to the top-k under a tiebreak order."""
    import bisect
    from itertools import accumulate

    col, k = head
    known, kept = [], set()
    for seg in survivors:
        st = stats.get(seg)
        cs = (st or {}).get("columns", {}).get(col)
        if st and cs and "min" in cs and "max" in cs:
            known.append((seg, cs["min"], cs["max"], int(st["total_docs"])))
        else:
            kept.add(seg)
    # O(n log n), not O(n^2): docs wholly before a segment = a prefix (or,
    # for tail, suffix) sum of segments' docs ordered by the bound facing
    # it. STRICT inequality: a segment whose max ties the probe's min may
    # hold rows tied with the probe's first rows — counting it as "wholly
    # before" would prune boundary-tied segments (and, for a constant
    # column, every segment would prune every other).
    edges = sorted((mn if reverse else mx, nd) for _, mn, mx, nd in known)
    keys = [e for e, _ in edges]
    cum = list(accumulate((nd for _, nd in edges), initial=0))
    for seg, mn, mx, nd in known:
        if reverse:  # segments whose min > this max sit wholly after it
            before = cum[-1] - cum[bisect.bisect_right(keys, mx)]
        else:  # segments whose max < this min sit wholly before it
            before = cum[bisect.bisect_left(keys, mn)]
        if before < k:
            kept.add(seg)
    return [seg for seg in survivors if seg in kept]


def _head_row_range(reader, head, reverse: bool = False):
    """(0, cutoff) covering the segment's first k rows in `col` order,
    extended through the trailing tie group so a Spark-side
    orderBy(col, tiebreak).limit(k) stays exact; None when the segment
    is not sorted by `col` (full decode — correct, unaccelerated).

    Only rows [0, k) of the sort column decode to find the k-th value
    (O(k), not O(segment)); the tie-extended cutoff then comes from
    ``reader.sorted_row_range`` — which also carries the nullable-column
    bail-out and the exact string bisect (numpy '<U' strips trailing
    NULs) this path must not re-implement."""
    col, k = head
    cm = reader.metadata.columns.get(col)
    if (
        cm is None
        or not cm.is_sorted
        or not cm.is_single_value
        or cm.has_null_values
    ):
        return None
    n = reader.total_docs()
    if n <= k:
        return None
    if reverse:
        kth = reader.read_columns_arrow([col], row_range=(n - k, n)).column(0)[0]
        rng = reader.sorted_row_range(col, lo=kth.as_py(), lo_inclusive=True)
        return None if rng is None else (rng[0], n)
    kth = reader.read_columns_arrow([col], row_range=(0, k)).column(0)[k - 1]
    rng = reader.sorted_row_range(col, hi=kth.as_py(), hi_inclusive=True)
    return None if rng is None else (0, rng[1])


def _sorted_row_range(reader, filters):
    """Intersect the doc ranges implied by pushed range/eq filters on
    sorted columns (reader.sorted_row_range), or None when no filter hits a
    sorted column. An empty intersection returns (lo, lo) — the caller
    skips the segment without decoding anything."""
    rng = None
    for f in filters:
        if isinstance(f, StringStartsWith):
            # LIKE 'prefix%' on a sorted string column is the range
            # [prefix, prefix_upper) — a binary search, not a scan
            upper = _prefix_upper(f.value)
            bounds = (f.value, True, upper, False) if upper else (
                f.value, True, None, True
            )
        else:
            bounds = _range_bounds(f)
        if bounds is None or f.attribute[0] not in reader.metadata.columns:
            continue
        name = f.attribute[0]
        try:
            r = reader.sorted_row_range(name, *bounds)
        except TypeError:  # incomparable filter value: no range
            continue
        rng = _intersect(rng, r)
    return rng


# value comparison of each range/eq filter kind, vectorized over numpy
_COMPARE = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
}


def _range_bounds(f):
    """(lo, lo_inclusive, hi, hi_inclusive) of a range/eq filter — the
    shape SegmentReader.sorted_row_range and range_classify take — or None
    for any other filter."""
    if type(f) not in _COMPARE:
        return None
    v = f.value
    return {
        EqualTo: (v, True, v, True),
        GreaterThan: (v, False, None, True),
        GreaterThanOrEqual: (v, True, None, True),
        LessThan: (None, True, v, False),
        LessThanOrEqual: (None, True, v, True),
    }[type(f)]


def _intersect(a, b):
    """Intersection of two [lo, hi) doc ranges, None standing for all
    docs."""
    if a is None or b is None:
        return b if a is None else a
    return (max(a[0], b[0]), min(a[1], b[1]))


def _text_match_mask(reader, col, arg):
    """TEXT_MATCH: the segment's token->bitmap postings when it carries a
    text index (SegmentReader.text_match_mask), decode-and-tokenize with
    the SAME analyzer otherwise."""
    from pinot_segment.text_index import tokenize

    terms, require_all = arg
    _require_string(reader, col, "text_match")
    test = all if require_all else any

    def hit(v) -> bool:
        toks = set(tokenize(v))
        return test(t in toks for t in terms)

    return _index_or_scan(
        reader, col, reader.text_match_mask(col, terms, require_all), hit
    )


def _json_match_mask(reader, col, arg):
    """JSON_MATCH: postings when the segment carries a JSON index
    (SegmentReader.json_match_mask), parse-and-flatten with the SAME
    contract otherwise (json_index.flatten_json)."""
    from pinot_segment.json_index import flatten_json

    path, value = arg
    _require_string(reader, col, "json_match")
    key = f"{path}={value}"
    return _index_or_scan(
        reader,
        col,
        reader.json_match_mask(col, path, value),
        lambda v: key in flatten_json(v),
    )


def _mv_contains_mask(reader, col, raw_value):
    """MV containment: the column's inverted bitmaps (bitmap i marks docs
    whose array contains dictionary value i) when present, MV decode + a
    per-row membership test otherwise. The probe value casts to the
    column's storage type."""
    from pinot_segment.metadata import DataType

    cm = reader.metadata.get_column(col)
    if cm.is_single_value:
        raise ValueError(f"mv_contains requires a multi-value column, got {col}")
    if cm.data_type in (DataType.INT, DataType.LONG):
        value = int(raw_value)
    elif cm.data_type in (DataType.FLOAT, DataType.DOUBLE):
        value = float(raw_value)
    elif cm.data_type is DataType.BOOLEAN:
        value = raw_value.strip().lower() == "true"
    else:
        value = raw_value
    return _index_or_scan(
        reader,
        col,
        reader.inverted_match_mask(col, [value]),
        lambda row: value in row,
    )


def _require_string(reader, col, kind) -> None:
    from pinot_segment.metadata import DataType

    if reader.metadata.get_column(col).data_type is not DataType.STRING:
        raise ValueError(f"{kind} requires a STRING column, got {col}")


def _index_or_scan(reader, col, indexed, row_test):
    """A probe's per-doc mask: the index's answer when the segment has the
    index, else ``row_test`` over each decoded value."""
    import numpy as np

    if indexed is not None:
        return indexed
    vals = reader.read_column(col)
    return np.fromiter(map(row_test, vals), dtype=bool, count=len(vals))


_PROBES = {
    "text_match": _text_match_mask,
    "json_match": _json_match_mask,
    "mv_contains": _mv_contains_mask,
}


def _probe_rows(reader, probe, row_range=None):
    """Per-doc mask for one (kind, column, argument) probe, clipped to the
    row range. A column the segment predates (schema evolution) is
    all-NULL and matches nothing; null docs never match (the text and JSON
    indexes skip them at build time, the decode fallbacks see fills)."""
    import numpy as np

    kind, col, arg = probe
    if col not in reader.metadata.columns:
        m = np.zeros(reader.total_docs(), dtype=bool)
    else:
        m = _PROBES[kind](reader, col, arg)
        nm = reader.null_mask(col)
        if nm is not None:
            m = m & ~nm
    if row_range is not None:
        m = m[row_range[0] : row_range[1]]
    return m


def _mv_contains_rows(reader, mv_contains, row_range=None):
    """The mask of a (column, value) mv_contains probe."""
    return _probe_rows(reader, ("mv_contains", *mv_contains), row_range)


def _row_mask(reader, filters, row_range=None):
    """AND of pushed filters as a numpy boolean mask over the (possibly
    row-range-sliced) docs, or None if no filters.

    Null semantics (SQL three-valued logic): a comparison on a nullable
    column is never true at null positions — the forward index stores fill
    values there, so the column's null-vector is ANDed out; IS [NOT] NULL
    evaluate against the null-vector directly."""
    import numpy as np

    if not filters:
        return None
    mask = None
    col_cache: dict[str, object] = {}
    null_cache: dict[str, object] = {}

    def clip(arr):
        if row_range is not None:
            return arr[row_range[0] : row_range[1]]
        return arr

    def colvals(name):
        if name not in col_cache:
            vals = reader.read_column(name)
            if not isinstance(vals, np.ndarray):
                # STRING/BYTES come back as Python lists: keep exact
                # objects (dtype=object) — a '<U' cast silently strips
                # trailing U+0000, corrupting comparisons on NUL-bearing
                # values (the writer dodges the same hazard, writer.py)
                vals = np.asarray(vals, dtype=object)
            col_cache[name] = clip(vals)
        return col_cache[name]

    def nulls(name):
        if name not in null_cache:
            nm = reader.null_mask(name)
            null_cache[name] = clip(nm) if nm is not None else None
        return null_cache[name]

    n = (
        row_range[1] - row_range[0]
        if row_range is not None
        else reader.total_docs()
    )

    def truth(f) -> "np.ndarray":
        """Mask of rows where the predicate is TRUE under SQL 3VL: value
        predicates are never true at null positions, where the forward
        index holds fills. NOT(p) is true where p is FALSE — neither true
        nor null — so the complement excludes the null positions too."""
        name = _filter_attr(f)
        nm = nulls(name) if name in reader.metadata.columns else None
        if isinstance(f, IsNotNull):
            return np.ones(n, dtype=bool) if nm is None else ~nm
        if isinstance(f, IsNull):
            return np.zeros(n, dtype=bool) if nm is None else nm
        if isinstance(f, Not):
            m = ~truth(f.child)
            if isinstance(f.child, (IsNull, IsNotNull)):
                return m  # null tests are two-valued
        else:
            m = value_truth(f, name)
        return m if nm is None else m & ~nm

    def value_truth(f, name) -> "np.ndarray":
        """Mask of rows whose stored value satisfies a value predicate,
        fills at null positions included."""
        if isinstance(f, _STRING_FILTERS):
            kind, ref = _STRING_TESTS[type(f)]
            m = None
            if name in reader.metadata.columns:
                # dictionary-accelerated: predicate over unique values,
                # then a LUT gather through the id stream
                m = reader.string_predicate_mask(name, kind, f.value)
            if m is None:
                # RAW strings: exact per-value evaluation over the object
                # array (np.char would corrupt NUL-bearing values)
                vals = colvals(name)
                return np.fromiter(
                    (ref(v, f.value) for v in vals), dtype=bool, count=len(vals)
                )
            return clip(m)
        if isinstance(f, (EqualTo, In)) and name in reader.metadata.columns:
            # Inverted index first: value(s) -> doc bitmap OR, no
            # forward-index decode of the filter column. Without one, a
            # dictionary column still compares in ID space (value -> dict
            # id, integer mask over the id stream) — faster than
            # materialize-and-compare and NUL-exact.
            probe = [f.value] if isinstance(f, EqualTo) else list(f.value)
            im = None
            try:
                im = reader.inverted_match_mask(name, probe)
                if im is None:
                    im = reader.dict_match_mask(name, probe)
            except (TypeError, ValueError):
                im = None
            if im is not None:
                return clip(im)
        bounds = _range_bounds(f)
        if (
            bounds is not None
            and name in reader.metadata.columns
            and name not in col_cache  # already decoded → index saves nothing
            # dictionary columns only: their decode (bit-unpack + gather) is
            # what the index avoids (measured 27x, storage_micro); for
            # fixed-width RAW numerics the index blob is as large as the
            # column and a vectorized decode+compare wins (measured 0.6x) —
            # see range_index.py
            and reader.metadata.get_column(name).has_dictionary
        ):
            # Range index (Pinot's range_index type, beyond the reference):
            # equal-count value buckets classify docs as definite matches
            # (bitmap OR — zero decode) or boundary candidates, and ONLY the
            # candidates are selection-decoded and verified. The win case is
            # a selective range on an unclustered column, where zone maps
            # can't prune and the plain path decodes every doc.
            cls = None
            try:
                cls = reader.range_classify(name, *bounds)
            except (TypeError, ValueError):
                cls = None
            if cls is not None:
                import pyarrow as pa

                definite, candidate = cls
                m = definite
                cand = np.flatnonzero(candidate)
                if len(cand):
                    arr = reader.read_columns_arrow(
                        [name], selection=cand
                    ).column(0)
                    if pa.types.is_timestamp(arr.type):
                        # stored epoch millis; the pushed operand is in the
                        # same domain (_convert_ts_filter)
                        cv = arr.cast(pa.int64()).to_numpy() // 1000
                    else:
                        cv = arr.to_numpy(zero_copy_only=False)
                    ok = np.asarray(_COMPARE[type(f)](cv, f.value), dtype=bool)
                    m = definite.copy()
                    m[cand[ok]] = True
                return clip(m)
        vals = colvals(name)
        if isinstance(f, In):
            return np.isin(vals, list(f.value))
        return _COMPARE[type(f)](vals, f.value)  # no other kind pushes

    for f in filters:
        if isinstance(f, IsNotNull) and (
            f.attribute[0] not in reader.metadata.columns
            or nulls(f.attribute[0]) is None
        ):
            # trivially true on a null-free segment: keep mask None so an
            # unaccompanied IS NOT NULL stays on the dense decode path
            continue
        m = truth(f)
        mask = m if mask is None else (mask & m)
    return mask
