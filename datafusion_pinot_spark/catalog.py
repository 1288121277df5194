"""Catalog / table-discovery layer.

Spark-side equivalent of the reference's CatalogProvider/SchemaProvider +
MetadataProvider stack (reference datafusion-pinot/src/catalog.rs,
metadata_provider.rs, controller.rs). Discovery semantics reproduced:

- **Filesystem mode** (metadata_provider.rs:104-212): a data dir contains
  table dirs named ``{table}_OFFLINE`` / ``{table}_REALTIME``; the suffix is
  stripped to form the logical name (OFFLINE deduped first, sorted); segment
  dirs are children having a ``v3`` subdir, skipping ``tmp``, sorted; OFFLINE
  is preferred over REALTIME when both exist.
- **Controller mode** (controller.rs:47-143, metadata_provider.rs:235-366):
  ``GET {base}/tables`` lists tables; ``GET {base}/segments/{t}?type=OFFLINE``
  (falling back to ``type=REALTIME``) lists segment names, each mapped to a
  local ``{data_dir}/{t}_{TYPE}/{seg}/v3`` path. HTTP only, no TLS, matching
  the reference's documented scope (README.md:130-135).

Exactly one schema named ``default`` exists (catalog.rs:74-90); Spark-side
the catalog registers each table as a temp view backed by the ``pinot`` data
source, so ``spark.sql("SELECT ... FROM <table>")`` works — the Spark analog
of ``ctx.register_catalog("pinot", ...)``.

The reference's thread-per-call sync/async bridge (catalog.rs:292-302) has no
Spark analogue and is deliberately dropped (SURVEY.md §4.3).
"""

from __future__ import annotations

import json
import os
import urllib.parse
import urllib.request

SCHEMA_NAME = "default"  # the single schema, catalog.rs:74-90


class FileSystemMetadataProvider:
    """Discovers tables/segments by walking a local data directory."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir

    def list_tables(self) -> list[str]:
        names: list[str] = []
        for entry in os.listdir(self.data_dir):
            for suffix in ("_OFFLINE", "_REALTIME"):
                if entry.endswith(suffix):
                    name = entry[: -len(suffix)]
                    if name not in names:
                        names.append(name)
        return sorted(names)

    def table_exists(self, name: str) -> bool:
        return os.path.isdir(os.path.join(self.data_dir, f"{name}_OFFLINE")) or os.path.isdir(
            os.path.join(self.data_dir, f"{name}_REALTIME")
        )

    def get_segment_paths(self, table_name: str) -> list[str]:
        offline = os.path.join(self.data_dir, f"{table_name}_OFFLINE")
        realtime = os.path.join(self.data_dir, f"{table_name}_REALTIME")
        if os.path.isdir(offline):
            table_dir = offline
        elif os.path.isdir(realtime):
            table_dir = realtime
        else:
            raise FileNotFoundError(
                f"Table '{table_name}' not found in {self.data_dir}"
            )
        segs = self._segments_in(table_dir)
        if not segs:
            raise FileNotFoundError(f"No valid segments found in {table_dir}")
        return segs

    @staticmethod
    def _segments_in(table_dir: str) -> list[str]:
        segs = []
        for entry in os.listdir(table_dir):
            if entry == "tmp":
                continue
            v3 = os.path.join(table_dir, entry, "v3")
            if os.path.isdir(v3):
                segs.append(v3)
        return sorted(segs)

    def get_segment_paths_typed(self, table_name: str, table_type: str) -> list[str]:
        """Segments of one physical table type (OFFLINE or REALTIME);
        empty when that side doesn't exist. Used for hybrid-table reads."""
        table_dir = os.path.join(self.data_dir, f"{table_name}_{table_type}")
        if not os.path.isdir(table_dir):
            return []
        return self._segments_in(table_dir)


class PinotControllerClient:
    """Minimal Pinot controller HTTP client (controller.rs:47-143).

    ``http_get`` is injectable for tests (the reference uses wiremock;
    here a plain callable stub suffices)."""

    def __init__(self, base_url: str, http_get=None, timeout: float = 10.0) -> None:
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self._http_get = http_get or self._urllib_get

    def _urllib_get(self, url: str) -> str:
        with urllib.request.urlopen(url, timeout=self.timeout) as resp:  # noqa: S310
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status} from {url}")
            return resp.read().decode("utf-8")

    def list_tables(self) -> list[str]:
        body = self._http_get(f"{self.base_url}/tables")
        try:
            payload = json.loads(body)
        except json.JSONDecodeError as e:
            raise RuntimeError(f"Invalid JSON from controller: {e}") from None
        return list(payload.get("tables", []))

    def list_segments(self, table: str, table_type: str) -> list[str]:
        q = urllib.parse.quote(table)
        body = self._http_get(f"{self.base_url}/segments/{q}?type={table_type}")
        try:
            payload = json.loads(body)
        except json.JSONDecodeError as e:
            raise RuntimeError(f"Invalid JSON from controller: {e}") from None
        # Response shape: [{"OFFLINE": [...]} , {"REALTIME": [...]}] — entries
        # for types not requested may be absent (controller.rs:156-178).
        segments: list[str] = []
        for entry in payload if isinstance(payload, list) else []:
            if isinstance(entry, dict) and table_type in entry:
                segments.extend(entry[table_type])
        return segments


class ControllerMetadataProvider:
    """Hybrid mode: table/segment *names* from the controller, data from the
    local filesystem (metadata_provider.rs:235-366)."""

    def __init__(self, controller: PinotControllerClient, data_dir: str) -> None:
        self.controller = controller
        self.data_dir = data_dir

    def list_tables(self) -> list[str]:
        return sorted(self.controller.list_tables())

    def table_exists(self, name: str) -> bool:
        return name in self.controller.list_tables()

    def get_segment_paths(self, table_name: str) -> list[str]:
        # OFFLINE preferred, REALTIME fallback (metadata_provider.rs:302-319).
        for table_type in ("OFFLINE", "REALTIME"):
            paths = self.get_segment_paths_typed(table_name, table_type)
            if paths:
                return paths
        raise FileNotFoundError(f"No segments for table '{table_name}'")

    def get_segment_paths_typed(self, table_name: str, table_type: str) -> list[str]:
        names = self.controller.list_segments(table_name, table_type)
        if not names:
            return []
        paths = [
            os.path.join(self.data_dir, f"{table_name}_{table_type}", seg, "v3")
            for seg in sorted(names)
        ]
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise FileNotFoundError(
                f"Controller lists segments not present locally: {missing}"
            )
        return paths


class PinotCatalog:
    """Registers every discovered table as a Spark view over the pinot source.

    Spark analog of ``PinotCatalogBuilder`` + ``register_catalog``
    (catalog.rs:27-90)."""

    def __init__(self, provider) -> None:
        self.provider = provider

    @classmethod
    def filesystem(cls, data_dir: str) -> "PinotCatalog":
        return cls(FileSystemMetadataProvider(data_dir))

    @classmethod
    def controller(
        cls, controller_url: str, data_dir: str, http_get=None
    ) -> "PinotCatalog":
        client = PinotControllerClient(controller_url, http_get=http_get)
        return cls(ControllerMetadataProvider(client, data_dir))

    def schema_names(self) -> list[str]:
        return [SCHEMA_NAME]

    def table_names(self) -> list[str]:
        return self.provider.list_tables()

    def table_exists(self, name: str) -> bool:
        return self.provider.table_exists(name)

    def load_table(self, spark, name: str):
        segs = self.provider.get_segment_paths(name)
        from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

        spark.dataSource.register(PinotDataSource)
        return (
            spark.read.format("pinot").option("segments", ",".join(segs)).load()
        )

    def _load_segments(self, spark, segs: list[str]):
        from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

        spark.dataSource.register(PinotDataSource)
        return (
            spark.read.format("pinot").option("segments", ",".join(segs)).load()
        )

    def load_hybrid_table(self, spark, name: str, time_column: str):
        """Pinot hybrid-table semantics — the broker's time-boundary merge
        of the OFFLINE and REALTIME physical tables, which the reference
        does NOT implement (it only *prefers* OFFLINE and ignores REALTIME
        when both exist, metadata_provider.rs:302-319, dropping any data
        newer than the offline ingest):

        - boundary = max value of ``time_column`` across OFFLINE segments —
          O(1) driver-side file reads via the table's segment_stats.json
          manifest when fresh, falling back to a per-segment metadata/
          dictionary scan (and rebuilding the manifest for next time) —
          no Spark job either way;
        - rows with ``time_column <= boundary`` come from OFFLINE, rows
          after it from REALTIME — overlap ingested into both sides
          deduplicates by construction, exactly Pinot's broker behavior.

        Falls back to whichever single side exists. The boundary filters
        push down to the source (zone-map prune + sorted-range slice when
        the layout allows)."""
        from pyspark.sql import functions as F

        from pinot_segment import SegmentReader
        from pinot_segment.manifest import refresh_manifest, stats_for_segments
        from pinot_segment.metadata import DataType

        offline = self.provider.get_segment_paths_typed(name, "OFFLINE")
        realtime = self.provider.get_segment_paths_typed(name, "REALTIME")
        if not offline and not realtime:
            raise FileNotFoundError(f"No segments for table '{name}'")
        if not realtime:
            return self._load_segments(spark, offline)
        if not offline:
            return self._load_segments(spark, realtime)

        seg_stats = stats_for_segments(offline)
        boundary = None
        is_timestamp = False
        fell_back = False
        for seg in offline:
            cs = (seg_stats.get(seg) or {}).get("columns", {}).get(time_column)
            if cs is not None and "max" in cs:
                is_timestamp = cs["dtype"] == "TIMESTAMP"
                mx = cs["max"]
            else:
                fell_back = True
                reader = SegmentReader.open(seg)
                col = reader.metadata.get_column(time_column)
                is_timestamp = col.data_type is DataType.TIMESTAMP
                mm = reader.column_min_max(time_column)
                if mm is None:
                    raise ValueError(
                        f"time column '{time_column}' of '{name}' has no "
                        "min/max stats in segment "
                        f"{seg} — cannot derive a time boundary"
                    )
                mx = mm[1]
            boundary = mx if boundary is None else max(boundary, mx)
        if fell_back:
            # amortize: next boundary lookup (and zone-map planning) is one
            # file read. Best-effort — read-only table dirs stay walk-based.
            refresh_manifest(os.path.dirname(os.path.dirname(offline[0])))
        # TIMESTAMP min/max are epoch millis; surface as a timestamp literal
        lit = (
            F.timestamp_millis(F.lit(int(boundary)))
            if is_timestamp
            else F.lit(boundary)
        )
        off_df = self._load_segments(spark, offline).filter(
            F.col(time_column) <= lit
        )
        rt_df = self._load_segments(spark, realtime).filter(
            F.col(time_column) > lit
        )
        return off_df.unionByName(rt_df)

    def load_upsert_table(
        self,
        spark,
        name: str,
        key_columns: "list[str] | str",
        compare_column: str,
        tiebreakers: "list[str] | tuple[str, ...]" = (),
        mode: str = "full",
        delete_column: "str | None" = None,
    ):
        """Pinot upsert-table semantics (upsertConfig, beyond the reference
        AND beyond the reference's roadmap): a query sees only the LATEST
        record per primary key, latest = max ``compare_column`` (Pinot's
        comparison column, usually the event time). Pinot resolves ties by
        ingestion order, which a rebuilt reader cannot observe — pass
        ``tiebreakers`` (further descending-order columns) to make the
        winner deterministic; without one, ties pick an arbitrary record
        of the tied set (exactly as underspecified as Pinot's).

        Spark-first: the dedup is one window — ``row_number() OVER
        (PARTITION BY keys ORDER BY compare DESC, ties...) = 1`` — a
        single shuffle on the key columns, AQE-skew-handled, with all
        upstream filters still pushed to the segment scan. Pinot holds an
        in-memory primary-key map per server to do this at ingest time;
        at rest the physical segments contain every version, which is
        precisely what the scan sees — so query-time last-wins dedup over
        the full segment set reproduces the queryable state.

        ``mode="partial"`` is Pinot's partialUpsert with the
        OVERWRITE-non-null column strategy: per key, each non-key column
        independently takes the value from the LATEST record where it is
        NOT NULL (a partial update leaves untouched columns null, and the
        merged row back-fills them from older versions); the comparison
        column itself surfaces as its max. One grouped aggregate — still
        a single shuffle on the keys — using ``max_by(col, (compare,
        tiebreakers...)) FILTER (WHERE col IS NOT NULL)``.

        ``delete_column`` is Pinot's upsert ``deleteRecordColumn``
        (tombstones): when the LATEST record of a key has the boolean
        column true, the key disappears from query results entirely —
        the ingest-side way to erase an entity from an append-only
        stream. Resolution order matters and is Pinot's: last-wins
        FIRST, then the tombstone test on the winner (an old tombstone
        superseded by a newer live record does NOT hide the key). Full
        mode only — the same filter after the same single key shuffle."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if isinstance(key_columns, str):
            key_columns = [key_columns]
        if delete_column is not None and mode != "full":
            raise ValueError(
                "delete_column (deleteRecordColumn tombstones) is only "
                "defined for mode='full' last-wins reads"
            )
        df = self.load_table(spark, name)
        if mode == "partial":
            order_cols = ", ".join([compare_column, *tiebreakers])
            aggs = []
            for c in df.columns:
                if c in key_columns:
                    continue
                if c == compare_column:
                    aggs.append(F.max(compare_column).alias(compare_column))
                else:
                    aggs.append(
                        F.expr(
                            f"max_by({c}, struct({order_cols})) "
                            f"FILTER (WHERE {c} IS NOT NULL)"
                        ).alias(c)
                    )
            return df.groupBy(*key_columns).agg(*aggs).select(*df.columns)
        order = [F.col(compare_column).desc()] + [
            F.col(t).desc() for t in tiebreakers
        ]
        w = Window.partitionBy(*key_columns).orderBy(*order)
        if mode == "changelog":
            # CDC view: every stored version per key with its rank in the
            # comparison order (1 = latest), the op a downstream consumer
            # would replay (the key's oldest version is the insert, every
            # later one an update), and an is_latest marker. Same single
            # key shuffle as the last-wins read — the physical segments
            # already hold full history, which is the whole point.
            wc = Window.partitionBy(*key_columns)
            return (
                df.withColumn("version_rank", F.row_number().over(w))
                .withColumn("__n", F.count(F.lit(1)).over(wc))
                .withColumn(
                    "op",
                    F.when(
                        F.col("version_rank") == F.col("__n"), F.lit("insert")
                    ).otherwise(F.lit("update")),
                )
                .withColumn("is_latest", F.col("version_rank") == 1)
                .drop("__n")
            )
        if mode != "full":
            raise ValueError(f"unknown upsert mode: {mode!r}")
        latest = (
            df.withColumn("__upsert_rn", F.row_number().over(w))
            .filter(F.col("__upsert_rn") == 1)
            .drop("__upsert_rn")
        )
        if delete_column is not None:
            # tombstone test on the WINNER only (Pinot's deleteRecordColumn):
            # a superseded tombstone does not hide the key
            latest = latest.filter(
                ~F.coalesce(F.col(delete_column), F.lit(False))
            )
        return latest

    def count_star(self, name: str) -> int:
        """Metadata-only COUNT(*): sum of ``segment.total.docs`` over the
        table's segments — the same shortcut the reference takes for
        ``SELECT COUNT(*)`` (exec.rs:92-95 serves counts from metadata, 3.97
        ms on 97k rows). No Spark job, no forward-index decode; milliseconds
        regardless of table width. For the in-plan equivalent use
        ``spark.read.format("pinot").option("columns", "")`` (zero-column
        scan; Spark still iterates row counts, so this helper is faster for
        interactive use). Served from the segment_stats.json manifest when
        fresh (one file read per table), else per-segment properties."""
        from pinot_segment import SegmentMetadata
        from pinot_segment.manifest import stats_for_segments

        segs = self.provider.get_segment_paths(name)
        seg_stats = stats_for_segments(segs)
        return sum(
            seg_stats[seg]["total_docs"]
            if seg_stats.get(seg) is not None
            else SegmentMetadata.from_file(
                os.path.join(seg, "metadata.properties")
            ).total_docs
            for seg in segs
        )

    def register_all(self, spark) -> list[str]:
        """Create one temp view per table; returns the registered names.

        Each view is one ``load()``, and Spark 4.1 caches that load's scan
        plan, re-running the pushdown only for queries with filters to
        push: an unfiltered query through a view after a filtered one
        returns the filtered answer (tests/test_reused_scan.py). Until
        that is fixed, query a fresh ``load_table`` per statement when a
        view would see both kinds of query."""
        registered = []
        for name in self.table_names():
            self.load_table(spark, name).createOrReplaceTempView(name)
            registered.append(name)
        return registered


def describe_table(spark, table_dir: str):
    """Pinot's table/segment metadata API as a DataFrame: one row per
    column with its storage dtype, doc count, and table-wide [min, max]
    (stringified for a uniform schema). Served from the
    segment_stats.json manifest when fresh — zero segment opens — else
    from per-segment stats collection. Metadata-only like
    ``PinotCatalog.count_star``: no Spark job touches the forward
    indexes, so it answers in milliseconds on any table width."""
    from pinot_segment.manifest import (
        _segment_v3_dirs,
        collect_segment_stats,
        stats_for_segments,
    )

    segs = _segment_v3_dirs(table_dir)
    stats = stats_for_segments(segs)
    merged: dict = {}
    total_docs = 0
    for v3 in segs:
        s = stats.get(v3) or collect_segment_stats(v3)
        total_docs += s.get("total_docs", 0)
        for col, cs in s.get("columns", {}).items():
            m = merged.setdefault(
                col, {"dtype": cs.get("dtype"), "min": None, "max": None}
            )
            if m["dtype"] != cs.get("dtype"):
                # segments disagree on the stored type (schema drift):
                # min/max across incompatible domains is meaningless (and
                # int-vs-str comparison would raise) — report it honestly
                m["dtype"] = "MIXED"
                m["min"] = m["max"] = None
                continue
            if m["dtype"] == "MIXED":
                continue
            if "min" in cs:
                m["min"] = (
                    cs["min"]
                    if m["min"] is None
                    else min(m["min"], cs["min"])
                )
                m["max"] = (
                    cs["max"]
                    if m["max"] is None
                    else max(m["max"], cs["max"])
                )
    rows = [
        (
            col,
            m["dtype"],
            int(total_docs),
            None if m["min"] is None else str(m["min"]),
            None if m["max"] is None else str(m["max"]),
        )
        for col, m in sorted(merged.items())
    ]
    return spark.createDataFrame(
        rows,
        "col_name string, dtype string, total_docs long, "
        "min_val string, max_val string",
    )


def estimate_scan_cost(
    table_dir: str,
    filters=(),
    columns=None,
) -> dict:
    """Planning-time scan-cost preview from the manifest: how many
    segments a filtered scan would keep after zone-map / partition-map
    pruning, and the row/byte volume those survivors would decode —
    without launching a job or (when the manifest is fresh) opening a
    single segment. The admission-control primitive a 100 TB cluster
    gates expensive queries with.

    ``filters`` accepts the data source's Filter objects or convenience
    triples ``(col, op, value)`` with op in ``== != > >= < <= in``.
    ``columns`` (optional) scales the byte estimate by the projected
    fraction of single-value columns; segment bytes come from one
    ``stat`` of each survivor's ``columns.psf`` (no open).

    Returns ``{"n_segments", "n_survivors", "est_rows", "est_bytes",
    "pruned_pct"}``.
    """
    from pinot_segment.manifest import _segment_v3_dirs, stats_for_segments

    from datafusion_pinot_spark.sources.pinot_datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
        Not,
        _segment_can_be_skipped,
    )

    _OPS = {
        "==": lambda c, v: EqualTo((c,), v),
        "!=": lambda c, v: Not(EqualTo((c,), v)),
        ">": lambda c, v: GreaterThan((c,), v),
        ">=": lambda c, v: GreaterThanOrEqual((c,), v),
        "<": lambda c, v: LessThan((c,), v),
        "<=": lambda c, v: LessThanOrEqual((c,), v),
        "in": lambda c, v: In((c,), tuple(v)),
    }
    fs = [
        _OPS[f[1]](f[0], f[2]) if isinstance(f, tuple) else f
        for f in filters
    ]
    segs = _segment_v3_dirs(table_dir)
    stats = stats_for_segments(segs)
    survivors, est_rows, est_bytes, stale = [], 0, 0, 0
    for v3 in segs:
        s = stats.get(v3)
        if fs and _segment_can_be_skipped(v3, fs, s):
            continue
        survivors.append(v3)
        if s is None:
            # stale/missing manifest entry: the degraded path already
            # paid a segment open inside the skip check above, so one
            # more open for the row count is the honest estimate — a
            # silent est_rows=0 would make an admission-control caller
            # ADMIT exactly the full-table scan it should reject
            stale += 1
            from pinot_segment import SegmentReader

            try:
                reader = SegmentReader.open(v3)
                est_rows += reader.total_docs()
                ncols = max(
                    1,
                    sum(
                        1
                        for cm in reader.metadata.columns.values()
                        if cm.is_single_value
                    ),
                )
            except Exception:
                ncols = 1
        else:
            est_rows += int(s.get("total_docs", 0))
            ncols = max(1, len(s.get("columns", {})))
        psf = os.path.join(v3, "columns.psf")
        try:
            nbytes = os.stat(psf).st_size
        except OSError:
            nbytes = 0
        if columns:
            nbytes = nbytes * min(len(columns), ncols) // ncols
        est_bytes += nbytes
    n = len(segs)
    out = {
        "n_segments": n,
        "n_survivors": len(survivors),
        "est_rows": est_rows,
        "est_bytes": est_bytes,
        "pruned_pct": 0 if n == 0 else (n - len(survivors)) * 100 // n,
    }
    if stale:
        out["stale_segments"] = stale
    return out
