"""Table maintenance: distributed segment compaction.

``compact_table(spark, table_dir, target_docs)`` rolls a many-small-segments
table (the streaming sink's natural output — one segment set per
micro-batch) into segments of ~``target_docs`` rows, Pinot-minion style.
The reference has no write path at all, so this is beyond parity.

Scale design (100 TB):

- *Planning is O(segments) over metadata only*: doc counts come from the
  table manifest (segment_stats.json) when fresh — zero segment opens — and
  fall back to per-segment ``metadata.properties`` parses (no columns.psf
  read) otherwise. Greedy first-fit packing over the sorted doc counts.
- *The merge work is one Spark task per output segment*, fanned out with
  ``mapInPandas`` over an Arrow-batched group list — embarrassingly
  parallel, no data ever moves through the driver (tasks read member
  segments and write the merged segment directly on shared storage, the
  same assumption the sink's staged-commit protocol already makes).
- *Commit is rename-based*: merged segments stage under the reader-skipped
  ``tmp/`` dir; the driver renames them in, removes the members, and
  incrementally updates the manifest from task-computed stats (no
  re-scan). Like Pinot's minion merge before the segment-replacement
  protocol, the swap is not atomic for concurrent readers — run compaction
  in a maintenance window, or accept that a concurrently *planning* query
  may see members and merged output of one group together.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession


def _rewrite_segments(
    spark: SparkSession,
    table_dir: str,
    jobs: list,
    rewrite,
    retain_replaced: bool = False,
    drop: "list[str]" = (),
) -> list:
    """The one stage → stats → rename → manifest commit behind
    compact_table, delete_rows and reindex_table.

    Fans out ONE Spark task per job (``mapInPandas`` over the JSON-encoded
    job list — no data moves through the driver). Each task calls
    ``rewrite(job, tmp_dir)``, which stages at most one new segment under
    the reader-skipped ``tmp/`` dir and returns ``(new_name, replaced,
    info)``: the staged segment's name (None when it staged none), the
    segments it replaces, and a JSON-able value for the caller; the task
    adds the staged segment's manifest stats. The driver then renames
    every staged segment in, retires (``retain_replaced``, see
    pinot_segment/snapshot.py) or removes each replaced segment and every
    name in ``drop``, and updates the manifest incrementally from the task
    stats. A failing task fails the job before any rename, so the table
    is untouched. Like Pinot's minion merge before the
    segment-replacement protocol, the swap is not atomic for concurrent
    readers. Returns each task's ``(new_name, replaced, info)``."""
    from datafusion_pinot_spark.sources.pinot_datasource import (
        _update_manifest_after_commit,
    )
    from pinot_segment.snapshot import retire_segment

    tmp_dir = os.path.join(table_dir, "tmp")
    results = []
    if jobs:
        os.makedirs(tmp_dir, exist_ok=True)
        rows = [(i, json.dumps(job)) for i, job in enumerate(jobs)]
        sdf = spark.createDataFrame(
            rows, "task_id int, job string"
        ).repartition(len(rows), "task_id")

        def run(batches):
            import pandas as pd

            from pinot_segment.manifest import collect_segment_stats

            for pdf in batches:
                out = []
                for job in pdf["job"]:
                    new_name, replaced, info = rewrite(json.loads(job), tmp_dir)
                    stats = (
                        collect_segment_stats(
                            os.path.join(tmp_dir, new_name, "v3")
                        )
                        if new_name
                        else None
                    )
                    out.append(json.dumps([new_name, replaced, info, stats]))
                yield pd.DataFrame({"result": out})

        results = [
            json.loads(r["result"])
            for r in sdf.mapInPandas(run, "result string").collect()
        ]

    new_stats: dict = {}
    removed = list(drop)
    for new_name, replaced, _, stats in results:
        if new_name:
            os.replace(
                os.path.join(tmp_dir, new_name),
                os.path.join(table_dir, new_name),
            )
            new_stats[new_name] = stats
        removed += replaced
    for seg in removed:
        if retain_replaced:
            retire_segment(table_dir, seg)
        else:
            shutil.rmtree(os.path.join(table_dir, seg), ignore_errors=True)
    _update_manifest_after_commit(table_dir, new_stats)
    return [(new_name, replaced, info) for new_name, replaced, info, _ in results]


def _segment_doc_counts(table_dir: str) -> dict[str, int]:
    """{segment_name: total_docs} from the manifest when fresh, else from
    per-segment metadata.properties (still no columns.psf opens)."""
    from pinot_segment import SegmentMetadata, manifest as M

    stats = M.load_manifest(table_dir)
    if stats is not None:
        return {k: v["total_docs"] for k, v in stats.items()}
    out = {}
    for v3 in M._segment_v3_dirs(table_dir):
        md = SegmentMetadata.from_file(os.path.join(v3, "metadata.properties"))
        out[M._seg_key(v3)] = md.total_docs
    return out


def plan_compaction(
    table_dir: str, target_docs: int, min_group: int = 2
) -> list[list[str]]:
    """Greedy first-fit-decreasing bin packing of segment names into merge
    groups of <= target_docs total rows. Groups smaller than ``min_group``
    members are dropped (rewriting a lone segment buys nothing); segments
    individually >= target_docs are left alone."""
    counts = _segment_doc_counts(table_dir)
    small = sorted(
        ((n, d) for n, d in counts.items() if d < target_docs),
        key=lambda kv: -kv[1],
    )
    bins: list[tuple[int, list[str]]] = []
    for name, docs in small:
        for i, (tot, members) in enumerate(bins):
            if tot + docs <= target_docs:
                bins[i] = (tot + docs, members + [name])
                break
        else:
            bins.append((docs, [name]))
    return [members for _, members in bins if len(members) >= min_group]


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_docs: int,
    min_group: int = 2,
    rollup: "tuple[list[str], dict[str, str]] | None" = None,
    keep_latest: "tuple[list[str], str, tuple] | None" = None,
    retain_replaced: bool = False,
) -> dict:
    """Compact ``table_dir`` in place; returns a summary dict
    {"groups": N, "merged_segments": [...], "removed_segments": [...]}.

    ``rollup=(dims, metrics)`` additionally collapses rows sharing the
    dim values inside each merged segment (Pinot's merge-rollup minion
    task): metrics aggregate by name -> sum/min/max; a count is a summed
    ones-column. Rollup is per-output-segment — groups are packed by
    *input* doc counts, and a table-wide aggregate over the rolled-up
    table equals the aggregate over the original rows for the supported
    (associative, commutative) functions.

    ``keep_latest=(key_columns, compare_column, tiebreakers)`` is the
    upsert-table cleanup (mutually exclusive with rollup): superseded
    record versions are physically dropped within each merged segment;
    `catalog.load_upsert_table` results are unchanged (last-wins is
    idempotent) while storage and scan cost shrink to the live-version
    count.

    ``retain_replaced=True`` (r10) RETIRES the merged members into
    ``{table}/retired/`` instead of deleting them, so snapshot readers
    (``.option("as_of", N)``, pinot_segment/snapshot.py) and in-flight
    scans planned against the pre-compaction segment list keep working;
    reclaim space later with ``snapshot.vacuum``."""
    from datafusion_pinot_spark.sources.pinot_datasource import (
        _table_name_from_dir,
    )

    groups = plan_compaction(table_dir, target_docs, min_group)
    if not groups:
        return {"groups": 0, "merged_segments": [], "removed_segments": []}
    table_name = _table_name_from_dir(table_dir)

    def merge_group(job, tmp_dir):
        import uuid

        from pinot_segment.compact import merge_segments

        gid, members = job
        name = f"{table_name}_compacted_{gid}_{uuid.uuid4().hex[:8]}"
        merge_segments(
            [os.path.join(table_dir, m, "v3") for m in members],
            os.path.join(tmp_dir, name),
            name,
            table_name,
            rollup=rollup,
            keep_latest=keep_latest,
        )
        return name, members, None

    results = _rewrite_segments(
        spark,
        table_dir,
        list(enumerate(groups)),
        merge_group,
        retain_replaced=retain_replaced,
    )
    return {
        "groups": len(groups),
        "merged_segments": [name for name, _, _ in results],
        "removed_segments": [m for _, members, _ in results for m in members],
    }


def purge_segments(
    table_dir: str, time_column: str, older_than
) -> dict:
    """Retention enforcement (Pinot's retention manager, beyond the
    reference): drop every segment whose ``time_column`` MAXIMUM is below
    ``older_than`` — the whole segment is provably expired, so removal
    needs no row-level work at all. Segments straddling the cutoff stay
    intact (Pinot behaves the same way; rows age out when the whole
    segment does).

    ``older_than`` accepts an epoch-millis int for TIMESTAMP columns or a
    plain number for numeric time columns. Driver-only metadata walk: the
    per-segment max comes from the manifest (zero opens) with a
    metadata/dictionary fallback; O(segments) name handling, no Spark
    job, and the manifest is rewritten to describe the survivors.

    Returns {"removed_segments": [...], "kept_segments": N}.
    """
    from pinot_segment import SegmentReader, manifest as M

    stats = M.load_manifest(table_dir) or {}
    removed = []
    kept = 0
    for v3 in M._segment_v3_dirs(table_dir):
        key = M._seg_key(v3)
        cs = (stats.get(key) or {}).get("columns", {}).get(time_column)
        if cs is not None and "max" in cs:
            mx = cs["max"]
        else:
            reader = SegmentReader.open(v3)
            mm = reader.column_min_max(time_column)
            if mm is None:
                kept += 1  # no stats: never silently delete data
                continue
            mx = mm[1]
            if hasattr(mx, "item"):
                mx = mx.item()
        if mx < older_than:
            shutil.rmtree(os.path.dirname(v3), ignore_errors=True)
            removed.append(key)
        else:
            kept += 1
    if removed:
        from datafusion_pinot_spark.sources.pinot_datasource import (
            _update_manifest_after_commit,
        )

        _update_manifest_after_commit(table_dir, {})
    return {"removed_segments": sorted(removed), "kept_segments": kept}


def delete_rows(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo,
    hi,
    retain_replaced: bool = False,
) -> dict:
    """Row-level range deletion (GDPR erasure / predicate delete, beyond
    the reference): physically remove every row with ``lo <= column <=
    hi`` (NULLs never match, SQL semantics). Pinot itself has no row
    deletes outside upsert-tombstones; this is the lakehouse-grade
    rewrite, triaged by zone maps so the work is proportional to the
    AFFECTED data, not the table:

    - *Driver-side triage is O(segments) over the manifest* (zero opens
      when fresh): a segment whose [min, max] misses the range entirely
      is UNTOUCHED (bytes never read or written); one fully inside the
      range with no NULLs is DROPPED whole (directory remove, no row
      work — the purge_segments economics); only straddlers REWRITE.
    - *Rewrites fan out one Spark task per segment* (``mapInPandas`` over
      the straddler list, the compact_table pattern): each task reads its
      segment, builds the keep mask, and writes the replacement through
      ``pinot_segment.compact.filter_segment`` — which preserves the
      physical column config (RAW/dict, MV, nulls, indexes, partition
      map) and keeps sorted segments sorted. No data moves through the
      driver.
    - *Commit is rename-based* under the reader-skipped ``tmp/`` dir,
      then members drop and the manifest updates incrementally from
      task-computed stats — same non-atomicity caveat as compact_table
      (run in a maintenance window).

    ``retain_replaced=True`` (r10) retires dropped and rewritten
    segments into ``{table}/retired/`` for snapshot readers instead of
    deleting them (pinot_segment/snapshot.py; reclaim with ``vacuum``).

    Returns {"dropped": [...], "rewritten": [...], "untouched": N,
    "rows_deleted": int}.
    """
    from datafusion_pinot_spark.sources.pinot_datasource import (
        _table_name_from_dir,
    )
    from pinot_segment import SegmentReader, manifest as M

    stats = M.load_manifest(table_dir) or {}
    drop: list[str] = []
    rewrite: list[str] = []
    untouched = 0
    dropped_rows = 0
    for v3 in M._segment_v3_dirs(table_dir):
        key = M._seg_key(v3)
        st = stats.get(key) or {}
        cs = st.get("columns", {}).get(column)
        if cs is not None and "min" in cs and "max" in cs:
            mn, mx = cs["min"], cs["max"]
            has_nulls = bool(cs.get("has_nulls", True))
            docs = int(st.get("total_docs", 0))
        else:
            reader = SegmentReader.open(v3)
            mm = reader.column_min_max(column)
            cm = reader.metadata.get_column(column)
            docs = reader.total_docs()
            if mm is None or cm is None:
                rewrite.append(key)  # no stats: inspect rows, never guess
                continue
            mn, mx = (v.item() if hasattr(v, "item") else v for v in mm)
            has_nulls = bool(cm.has_null_values)
        if mx < lo or mn > hi:
            untouched += 1
        elif lo <= mn and mx <= hi and not has_nulls:
            # provably all rows match and none are NULL -> whole-segment
            # drop, the purge economics (no row-level work at all)
            drop.append(key)
            dropped_rows += docs
        else:
            rewrite.append(key)

    table_name = _table_name_from_dir(table_dir)

    def rewrite_one(seg, tmp_dir):
        import uuid

        import numpy as np

        from pinot_segment.compact import filter_segment

        v3 = os.path.join(table_dir, seg, "v3")
        reader = SegmentReader.open(v3)
        vals = np.asarray(reader.read_column(column))
        matches = (vals >= lo) & (vals <= hi)
        nm = reader.null_mask(column)
        if nm is not None:
            matches &= ~nm  # NULL never matches the predicate
        deleted = int(matches.sum())
        if deleted == 0:
            return None, [], 0  # zone maps were conservative
        if deleted == len(matches):
            return None, [seg], deleted  # every row matched after all
        name = f"{seg}_del{uuid.uuid4().hex[:8]}"
        filter_segment(v3, os.path.join(tmp_dir, name), name, table_name, ~matches)
        return name, [seg], deleted

    results = _rewrite_segments(
        spark,
        table_dir,
        sorted(rewrite),
        rewrite_one,
        retain_replaced=retain_replaced,
        drop=drop,
    )
    for name, replaced, deleted in results:
        dropped_rows += deleted
        if name is None:
            drop += replaced
    return {
        "dropped": sorted(drop),
        "rewritten": sorted(old[0] for name, old, _ in results if name),
        "untouched": untouched,
        "rows_deleted": dropped_rows,
    }


def refresh_rollup_mv(
    spark: SparkSession,
    base_dir: str,
    mv_dir: str,
    keys: list[str],
    sum_metrics: list[str],
) -> dict:
    """Incremental materialized-view maintenance (the Pinot star-tree /
    lakehouse MV refresh economics, beyond the reference): ``mv_dir``
    holds a pinot table with one row per ``keys`` combination carrying
    ``sum_<m>`` for each metric plus ``cnt``, and a state file listing
    the base segments already folded in. A refresh aggregates ONLY the
    base segments that appeared since the last refresh (read through the
    ``segments`` option — the untouched ones are never opened), unions
    that delta with the current MV rows, re-aggregates by key, and
    rewrites the MV.

    Correctness leans on associativity: SUM/COUNT fold segment-at-a-time
    to the same answer as a full recompute — which is exactly what the
    hash-gated ``pinot_rollup_refresh`` query proves end to end.

    Scale shape: refresh cost is O(delta rows + MV keys), independent of
    the base table size — the whole point of an incremental MV at 100 TB
    (a full recompute rescans the corpus; this rescans yesterday's
    ingest). State is a driver-side JSON of segment names, O(segments).

    Returns {"delta_segments": [...], "mv_rows": N, "refreshed": bool}.
    """
    from pyspark.sql import functions as F

    from datafusion_pinot_spark.sources import register_pinot_source
    from pinot_segment import manifest as M

    register_pinot_source(spark)
    state_path = os.path.join(mv_dir, "_mv_state.json")
    seen: set[str] = set()
    if os.path.isfile(state_path):
        with open(state_path) as f:
            seen = set(json.load(f)["segments"])
    all_v3 = M._segment_v3_dirs(base_dir)
    by_key = {M._seg_key(v3): v3 for v3 in all_v3}
    delta = sorted(k for k in by_key if k not in seen)
    if not delta:
        return {"delta_segments": [], "mv_rows": None, "refreshed": False}

    sums = [F.sum(m).cast("long").alias(f"sum_{m}") for m in sum_metrics]
    delta_agg = (
        spark.read.format("pinot")
        .option("segments", ",".join(by_key[k] for k in delta))
        .option("columns", ",".join(keys + sum_metrics))
        .load()
        .groupBy(*keys)
        .agg(*sums, F.count(F.lit(1)).alias("cnt"))
    )
    mv_table = os.path.join(mv_dir, "mv_OFFLINE")
    if os.path.isdir(mv_table) and seen:
        # materialize the current MV before the overwrite below — the
        # merged plan must not lazily re-read segments the sink commit is
        # about to delete (read-then-overwrite of the same table)
        current = spark.read.format("pinot").load(mv_table).localCheckpoint()
        merged = (
            current.unionByName(delta_agg)
            .groupBy(*keys)
            .agg(
                *[
                    F.sum(f"sum_{m}").cast("long").alias(f"sum_{m}")
                    for m in sum_metrics
                ],
                F.sum("cnt").cast("long").alias("cnt"),
            )
        )
    else:
        merged = delta_agg
    # MV key space is small by construction — a single segment commit
    merged.coalesce(1).write.format("pinot").mode("overwrite").save(mv_table)
    n = spark.read.format("pinot").load(mv_table).count()
    with open(state_path, "w") as f:
        json.dump({"segments": sorted(seen | set(delta))}, f)
    return {"delta_segments": delta, "mv_rows": n, "refreshed": True}


def reindex_table(
    spark: SparkSession, table_dir: str, column: str, index: str = "inverted"
) -> dict:
    """Index lifecycle management (Pinot's reload-after-index-config-change,
    minion-rebuilt): add ``index`` on ``column`` to every segment that
    does not already carry it. Data is bit-identical after the rebuild —
    only the index set changes — which is exactly what the hash-gated
    ``pinot_reindex_scan`` query proves (the post-reindex scan must equal
    the plain-SQL answer), while the unit tests assert the metadata flag
    and the index files actually appear.

    Scale shape: the triage is O(segments) over per-segment metadata
    (which segments lack the index — manifest stats don't carry index
    flags, so this reads metadata.properties per segment: still no
    column data opens); the rebuilds fan out ONE SPARK TASK PER SEGMENT
    (the delete_rows/compact pattern) through the storage kernel
    ``pinot_segment.compact.reindex_segment``; commit is rename-based
    under ``tmp/``, manifest updated incrementally from task stats.

    An index the column cannot carry in some segment (say ``text`` on a
    LONG, or ``inverted`` on a RAW column) raises ValueError during the
    triage, before any task runs.

    Returns {"reindexed": [...], "skipped": N}.
    """
    from datafusion_pinot_spark.sources.pinot_datasource import (
        _table_name_from_dir,
    )
    from pinot_segment import SegmentReader, manifest as M
    from pinot_segment.compact import _INDEX_FLAGS, check_index

    todo: list[str] = []
    skipped = 0
    for v3 in M._segment_v3_dirs(table_dir):
        cm = SegmentReader.open(v3).metadata.get_column(column)
        if cm is None:
            raise ValueError(f"column not in segment: {column} ({v3})")
        check_index(column, cm, index)
        if getattr(cm, _INDEX_FLAGS[index]):
            skipped += 1
        else:
            todo.append(M._seg_key(v3))
    if not todo:
        return {"reindexed": [], "skipped": skipped}
    table_name = _table_name_from_dir(table_dir)

    def rebuild_one(seg, tmp_dir):
        import uuid

        from pinot_segment.compact import reindex_segment

        name = f"{seg}_ix{uuid.uuid4().hex[:8]}"
        reindex_segment(
            os.path.join(table_dir, seg, "v3"),
            os.path.join(tmp_dir, name),
            name,
            table_name,
            column,
            index,
        )
        return name, [seg], None

    results = _rewrite_segments(spark, table_dir, sorted(todo), rebuild_one)
    return {
        "reindexed": sorted(seg for _, (seg,), _ in results),
        "skipped": skipped,
    }


def _anchor_widest(dirs: list[str]) -> list[str]:
    """Reorder segment dirs so the WIDEST (most columns) segment comes
    first (r11): the data source infers the column set from the first
    segment, so a pre-evolution segment sorting first would silently DROP
    the evolved column from the whole feed. O(dirs) metadata parses — the
    same planning budget the diff itself costs. (Divergent drop-column
    evolution still anchors on the widest set; a column absent from the
    anchor is absent from the feed — documented.) Moves exactly ONE
    occurrence of the anchor to the front (r11 advice: a `!= anchor`
    filter would drop every duplicate occurrence — harmless while
    changes_between yields unique names, silent row loss if a caller
    ever passes duplicates)."""
    if len(dirs) <= 1:
        return dirs
    from pinot_segment import SegmentMetadata

    widths = {
        d: len(
            SegmentMetadata.from_file(
                os.path.join(d, "metadata.properties")
            ).columns
        )
        for d in dirs
    }
    anchor = max(dirs, key=lambda d: widths[d])
    rest = list(dirs)
    rest.remove(anchor)
    return [anchor] + rest


def changes_between(
    spark: SparkSession,
    table_dir: str,
    from_id: int,
    to_id: int | None = None,
    change_col: str = "_change_type",
):
    """Incremental (CDC-style) read between two snapshots — the Delta-CDF
    analogue for the snapshot log (beyond the read-only reference AND
    beyond Pinot, which exposes no changed-data feed): rows from segments
    ADDED between ``from_id`` and ``to_id`` are tagged ``insert``, rows
    from segments REMOVED (retired) are tagged ``delete``.

    Granularity is the segment, deliberately: a rewrite (compaction,
    range delete) emits its surviving rows as delete+insert pairs that
    cancel under any additive aggregate — so a downstream incremental
    refresh folds the feed with ``sum(sign * x)`` and lands on exactly
    the as-of diff, while having scanned ONLY the changed segments'
    bytes. At 100 TB that is the whole point: the alternative (two
    ``as_of`` reads + an anti-join) reads the table twice and shuffles
    it once; this reads the delta and shuffles nothing.

    Returns a DataFrame with the table's schema plus ``change_col``;
    empty diff (from == to, or log-recorded no-op) yields an empty frame
    with the same schema. Schema evolution between the endpoints is
    handled like the streaming CDC reader's ``_fill_missing_columns``:
    the union is by name with ``allowMissingColumns=True``, so delete
    rows read from pre-evolution segments carry NULL for columns they
    predate (and vice versa for dropped columns) instead of raising
    AnalysisException (r10 advice, medium).
    """
    from pyspark.sql import functions as F

    from datafusion_pinot_spark.sources import register_pinot_source
    from pinot_segment.snapshot import changed_segments, resolve_segment_dirs

    register_pinot_source(spark)
    diff = changed_segments(table_dir, from_id, to_id)
    ctx = f"CDC {diff['from_id']}->{diff['to_id']}"

    def read_tagged(names: list[str], tag: str):
        dirs = _anchor_widest(resolve_segment_dirs(table_dir, names, ctx))
        return (
            spark.read.format("pinot")
            .option("segments", ",".join(dirs))
            .load()
            .withColumn(change_col, F.lit(tag))
        )

    sides = []
    if diff["added"]:
        sides.append(read_tagged(diff["added"], "insert"))
    if diff["removed"]:
        sides.append(read_tagged(diff["removed"], "delete"))
    if not sides:
        empty = spark.read.format("pinot").load(table_dir).limit(0)
        return empty.withColumn(change_col, F.lit("insert")).limit(0)
    out = sides[0]
    for s in sides[1:]:
        # allowMissingColumns: the insert side infers its schema from NEW
        # segments, the delete side from RETIRED ones — after a column add
        # between the endpoints the frames differ; NULL-fill matches the
        # streaming reader's semantics (pinot_datasource._fill_missing_columns)
        out = out.unionByName(s, allowMissingColumns=True)
    return out
