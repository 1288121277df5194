"""The traced run: per-layer metrics for one round.

Three passes over the same set-up:

1. the round, untraced (as many times as a timed run makes rounds at
   least; the last is the baseline of ``trace.overhead_s``);
2. the round again, with a span around each Spark action and a reading of
   Spark's status store after it (the ``spark.*`` metrics);
3. a replay of the round's calls through each layer's public functions in
   this process, timed from outside: the data source's ``schema()``,
   ``pushFilters()``/``partitions()`` and ``read()``, the sink's ``write()``
   and ``commit()``, ``maintenance.plan_compaction``, ``compact.merge_segments``
   and the catalog. While it runs, thin wrappers put spans around the storage
   calls those functions make (``SegmentReader.open``,
   ``read_columns_arrow``, ``bloom_might_contain``, ``write_segment``, the
   manifest load and the commit's manifest refresh).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pinotbench import gen, harness
from pinotbench.workloads import run_round


@contextmanager
def instrument(tracer, counts: dict):
    """Spans around the storage-layer calls, for the duration of the
    replay only; the originals are restored on exit."""
    from datafusion_pinot_spark.sources import pinot_datasource as ds
    from pinot_segment import manifest, writer
    from pinot_segment.segment_reader import SegmentReader as SR

    saved = [
        (SR, "open", SR.__dict__["open"]),
        (SR, "read_columns_arrow", SR.__dict__["read_columns_arrow"]),
        (SR, "bloom_might_contain", SR.__dict__["bloom_might_contain"]),
        (manifest, "load_manifest", manifest.load_manifest),
        (writer, "write_segment", writer.write_segment),
        (ds, "_update_manifest_after_commit", ds._update_manifest_after_commit),
    ]
    open_ = SR.open

    def timed(name, fn):
        def wrapper(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return wrapper

    def decode(self, *a, **k):
        with tracer.span("storage.decode"):
            t = saved[1][2](self, *a, **k)
        counts["decoded_rows"] = counts.get("decoded_rows", 0) + t.num_rows
        return t

    SR.open = classmethod(lambda cls, *a, **k: timed("storage.open", open_)(*a, **k))
    SR.read_columns_arrow = decode
    SR.bloom_might_contain = timed("storage.bloom_probe", saved[2][2])
    manifest.load_manifest = timed("manifest.load", saved[3][2])
    writer.write_segment = timed("storage.write_segment", saved[4][2])
    ds._update_manifest_after_commit = timed("manifest.refresh", saved[5][2])
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def _schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    types = {"k": LongType(), "uid": LongType(), "grp": LongType(), "qty": LongType(),
             "price": DoubleType(), "dim": StringType(), "txt": StringType()}
    return StructType([StructField(c, types[c], True) for c in gen.COLUMNS])


def replay_scans(run, scans, out: dict, counts: dict) -> list[list[int]]:
    """Each source read of the round through the data source API; returns
    the per-partition row counts of every read (for the stub floor)."""
    from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

    tr = run.tracer
    shapes = []
    planned = useful = rows = 0
    for options, filters in scans:
        ds = PinotDataSource(dict(options))
        with tr.span("scan.schema"):
            schema = ds.schema()
        reader = ds.reader(schema)
        with tr.span("scan.plan"):
            list(reader.pushFilters(list(filters)))
            parts = reader.partitions()
        counts_per_part = []
        for p in parts:
            with tr.span("scan.read"):
                n = sum(b.num_rows for b in reader.read(p))
            counts_per_part.append(n)
        planned += len(parts)
        useful += sum(1 for n in counts_per_part if n)
        rows += sum(counts_per_part)
        shapes.append(counts_per_part)
    out["scan.partitions"] = planned
    out["scan.useful_partition_ratio"] = useful / planned if planned else 0.0
    out["scan.rows_emitted"] = rows
    return shapes


def replay_sink(run, replay_dir, tag, tasks, rows, table_rows, opts, out) -> None:
    """One append through the sink's writer in this process: one
    ``write()`` per task, then ``commit()``."""
    from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

    tr = run.tracer
    writer = PinotDataSource({"path": replay_dir, **opts}).writer(_schema(), False)
    msgs, per_task = [], []
    for p in range(tasks):
        batch = gen.segment(run.seed, tag, p, rows, table_rows)
        t0 = time.perf_counter()
        with tr.span("sink.write", task=p):
            msgs.append(writer.write(iter([batch])))
        per_task.append(time.perf_counter() - t0)
    with tr.span("sink.commit"):
        writer.commit(msgs)
    out["sink.write_s"] = statistics.median(per_task)


def replay_merge(run, table_dir, target_docs, out) -> None:
    from datafusion_pinot_spark.maintenance import plan_compaction
    from pinot_segment.compact import merge_segments

    tr = run.tracer
    with tr.span("maintenance.plan_compaction"):
        groups = plan_compaction(table_dir, target_docs)
    per_group = []
    for i, members in enumerate(groups[:2]):
        v3s = [os.path.join(table_dir, m, "v3") for m in members]
        t0 = time.perf_counter()
        with tr.span("storage.merge", members=len(members)):
            merge_segments(v3s, os.path.join(table_dir, "tmp", f"m{i}"), f"m{i}", "replay")
        per_group.append(time.perf_counter() - t0)
    out["storage.merge_s"] = statistics.median(per_group) if per_group else 0.0


def stub_floor(run, shapes) -> float:
    """The round's partition and row counts through the stub source."""
    from pinotbench.stub import StubDataSource

    spark = run.spark
    spark.dataSource.register(StubDataSource)
    total = 0.0
    for counts in shapes:
        df = spark.read.format("pinotbench_stub").option(
            "rows", ",".join(str(n) for n in counts)
        ).load()
        t0 = time.perf_counter()
        with run.tracer.span("spark.stub_query", partitions=len(counts)):
            df.groupBy().count().collect()
        total += time.perf_counter() - t0
    return total


def traced(run, w, session_start: float) -> dict:
    """The three passes; returns every per-layer metric as a value."""
    from datafusion_pinot_spark.catalog import PinotCatalog

    tr = run.tracer

    # pass 1: untraced, as many rounds as a timed run makes at least; the
    # first round after the warm-up is the slowest, so the last is the
    # baseline
    tr.enabled = False
    for _ in range(run.layout["rounds"]):
        t0 = time.perf_counter()
        run_round(run, w.ops())
        untraced = time.perf_counter() - t0

    # pass 2: spans around Spark actions, status store read after each
    tr.enabled = True
    run.status = harness.StatusReader(run.spark)
    compacted0 = run.compacted_bytes
    t0 = time.perf_counter()
    ops = w.ops()
    run_round(run, ops)
    name = w.name
    scans = [scan for _, _, scan in ops if scan is not None]
    traced_wall = time.perf_counter() - t0
    run.status = None

    # pass 3: replay through each layer's public functions
    out: dict = {}
    counts: dict = {}
    replay_trace = tr.new_trace()
    with instrument(tr, counts):
        shapes = replay_scans(run, scans, out, counts)
        scan_names = ("storage.open", "storage.decode", "storage.bloom_probe",
                      "manifest.load", "scan.schema", "scan.plan", "scan.read")
        scan_totals = {n: tr.total(n, replay_trace) for n in scan_names}
        catalog = PinotCatalog.filesystem(run.tables)
        with tr.span("catalog.load_table"):
            catalog.load_table(run.spark, name)
        with tr.span("catalog.count_star"):
            catalog.count_star(name)
        sink_trace = tr.new_trace()
        replay_dir = os.path.join(run.work, "replay", f"{name}_OFFLINE")
        shutil.rmtree(replay_dir, ignore_errors=True)
        rows = run.layout["rows"]
        replay_sink(run, replay_dir, w.tag, run.tasks, rows, w.table_rows, w.opts, out)
        sink_totals = {
            n: tr.total(n, sink_trace)
            for n in ("storage.write_segment", "sink.commit", "manifest.refresh")
        }
        replay_merge(run, replay_dir, w.compact_target(), out)
        out["spark.stub_floor_s"] = stub_floor(run, shapes)
    w.maintain()
    bytes_rewritten = run.compacted_bytes - compacted0

    decode = scan_totals["storage.decode"]
    spark_l = run.spark_layers
    out.update(
        {
            "session.start_s": session_start,
            "storage.open_s": scan_totals["storage.open"],
            "storage.decode_s": decode,
            "storage.decode_rows_per_s": counts.get("decoded_rows", 0) / decode
            if decode
            else 0.0,
            "storage.bloom_probe_s": scan_totals["storage.bloom_probe"],
            "storage.write_segment_s": sink_totals["storage.write_segment"],
            "manifest.load_s": scan_totals["manifest.load"],
            "manifest.refresh_s": sink_totals["manifest.refresh"],
            "scan.schema_s": scan_totals["scan.schema"],
            "scan.plan_s": scan_totals["scan.plan"],
            "scan.read_s": scan_totals["scan.read"],
            "sink.commit_s": sink_totals["sink.commit"],
            "catalog.load_table_s": tr.total("catalog.load_table"),
            "catalog.count_star_s": tr.total("catalog.count_star"),
            "maintenance.plan_compaction_s": tr.total("maintenance.plan_compaction"),
            "maintenance.bytes_rewritten_mb": bytes_rewritten / 1e6,
            "spark.driver_gap_s": spark_l.get("driver_gap_s", 0.0),
            "spark.scan_tasks": spark_l.get("scan_tasks", 0),
            "spark.scan_task_s": spark_l.get("scan_task_s", 0.0),
            "spark.task_floor_s": spark_l.get("scan_task_s", 0.0)
            - scan_totals["scan.read"],
            "spark.codegen_s": spark_l.get("codegen_s", 0.0),
            "spark.agg_build_s": spark_l.get("agg_build_s", 0.0),
            "spark.shuffle_write_mb": spark_l.get("shuffle_write_mb", 0.0),
            "spark.jvm_peak_rss_mb": harness.vm_hwm_mb(run.peak.jvm),
            "driver.peak_rss_mb": harness.vm_hwm_mb(os.getpid()),
            "trace.overhead_s": traced_wall - untraced,
        }
    )
    shutil.rmtree(os.path.dirname(replay_dir), ignore_errors=True)
    return out
