"""The two scan workloads: set-up, timed rounds and the checks of every
answer.

Each workload is a closed loop with one client on Spark ``local[nproc]``.
A round runs a fixed list of operations in a fixed order; a run repeats
whole rounds until ``--seconds`` have passed (at least two on scan_full,
one on scan_fragmented). Answers are kept during a round and compared with
the oracle's after its timing ends.

- ``scan_full``: a few large segments (two per core). Segment decode, the
  Arrow build and the Python-to-JVM handoff do most of the work; there is
  nothing to prune and one task per segment.
- ``scan_fragmented``: many small segments (sixteen per core), loaded
  through ``PinotCatalog``. The per-task floor and driver-side planning and
  pruning do most of the work.

Both build their table by appends through the sink and end with
``maintenance.compact_table`` on it and on copies of it, so the writer,
the commit and the merge are measured too. Set-up warms the sink and the
merge on a small table first, so no sampled append or compaction is the
cold first one."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.compute as pc

from pinotbench import gen, harness

SCALES = {
    # rows is per segment; a table is appends x (tasks_per_core x cores)
    # segments. rounds is the least number of timed rounds: scan_full's
    # ~5 s round gets two even when a slow host stretches the first past
    # --seconds; one ~13-16 s scan_fragmented round is what the run budget
    # allows. append_copies builds the compacted copies of the table through
    # the sink, so they add append samples: a scan_full append takes ~1 s,
    # while scan_fragmented's four ~3.3 s appends per copy would not fit the
    # run budget, so its copies are copied files. warm is the per-segment
    # row count of the warm-up table.
    "full": {
        "scan_full": {"appends": 2, "tasks_per_core": 1, "rows": 50_000, "rounds": 2,
                      "append_copies": True},
        "scan_fragmented": {"appends": 4, "tasks_per_core": 4, "rows": 1_000, "rounds": 1,
                            "append_copies": False},
        "warm": 500,
    },
    "toy": {
        "scan_full": {"appends": 2, "tasks_per_core": 1, "rows": 2_000, "rounds": 2,
                      "append_copies": True},
        "scan_fragmented": {"appends": 2, "tasks_per_core": 2, "rows": 200, "rounds": 1,
                            "append_copies": False},
        "warm": 100,
    },
}
WORKLOADS = ("scan_full", "scan_fragmented")
PLAIN = {"raw": "txt"}
INDEXED = {"raw": "txt", "bloom": "uid", "inverted": "dim"}
TABLE_TAGS = {"scan_full": 1, "scan_fragmented": 2, "warm": 3}
COMPACTIONS = 3  # compact_table runs per run: the table and copies of it


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def segment_dirs(table_dir: str) -> list[str]:
    """The live ``v3`` dirs of a table (staging and retired excluded)."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        os.path.join(table_dir, e, "v3")
        for e in os.listdir(table_dir)
        if os.path.isdir(os.path.join(table_dir, e, "v3"))
    )


def _meta_bytes(table_dir: str) -> int:
    """Bytes of the table-level files (manifest, snapshot log) that every
    commit rewrites whole."""
    return sum(
        os.path.getsize(os.path.join(table_dir, e))
        for e in os.listdir(table_dir)
        if os.path.isfile(os.path.join(table_dir, e))
    )


def live_bytes(table_dir: str) -> int:
    """Segments plus the manifest: what a reader of the table needs."""
    manifest = os.path.join(table_dir, "segment_stats.json")
    return sum(_dir_bytes(os.path.dirname(v3)) for v3 in segment_dirs(table_dir)) + (
        os.path.getsize(manifest) if os.path.exists(manifest) else 0
    )


def segment_sums(v3s) -> list[list]:
    """``[[count, sum(k), sum(qty), sum(price)]]`` of the given segments,
    read back through ``SegmentReader`` in this process."""
    from pinot_segment import SegmentReader

    sums = [0, 0, 0, 0.0]
    for v3 in v3s:
        t = SegmentReader.open(v3).read_columns_arrow(["k", "qty", "price"])
        sums[0] += t.num_rows
        for i, c in enumerate(("k", "qty", "price"), 1):
            sums[i] += pc.sum(t.column(c)).as_py()
    return [sums]


def same(got, want) -> bool:
    """Exact for integers and strings; doubles within 1e-9 relative (sums
    of doubles depend on addition order)."""
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same(g, w) for g, w in zip(got, want))
    if isinstance(got, float) or isinstance(want, float):
        return (
            got is not None
            and want is not None
            and math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-6)
        )
    return got == want


def _rows(rows) -> list[list]:
    return [list(r) for r in rows]


class Run:
    """One benchmark run: the session, its tables, samples and checks."""

    def __init__(self, workload, seed, scale, work, tracer, cpus, alter=None):
        self.workload = workload
        self.seed = seed
        self.scale = SCALES[scale]
        self.layout = self.scale[workload]
        self.work = work
        self.tables = os.path.join(work, "tables")
        self.tracer = tracer
        self.cpus = cpus
        self.tasks = self.layout["tasks_per_core"] * cpus
        self.alter = alter  # an expected answer id to corrupt (self-test)
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.expected: dict = {}
        self.input_bytes: dict = {}
        self.written = 0
        self.status = None  # a harness.StatusReader while tracing Spark
        self.spark_layers: dict[str, float] = {}
        self.compacted_bytes = 0

    # -- plumbing ------------------------------------------------------------

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def attempt(self, qid: str, fn, pending: list):
        """Run one operation (timed by the caller); its answer is checked
        later against ``qid``'s expected answer."""
        self.attempted += 1
        try:
            if self.status is None:
                with self.tracer.span("op", qid=qid):
                    got = fn()
            else:
                got = self._traced_action(qid, fn)
        except Exception as exc:  # counted, reported, and the run goes on
            self.failed += 1
            self.failures.append(f"{qid}: {type(exc).__name__}: {exc}")
            return
        pending.append((qid, got))

    def _traced_action(self, qid, fn):
        group = self.status.begin()
        t0 = time.perf_counter()
        with self.tracer.span("spark.action", qid=qid):
            got = fn()
        wall = time.perf_counter() - t0
        m = self.status.end(group, wall)
        if m["job_s"] > 0:
            m["driver_gap_s"] = wall - m["job_s"]
        for k, v in m.items():
            if k not in ("wall_s", "job_s"):
                self.spark_layers[k] = self.spark_layers.get(k, 0.0) + v
        return got

    def check(self, pending: list) -> None:
        for qid, got in pending:
            want = self.expected[qid]
            if qid == self.alter:
                want = "altered expected answer"
            if not same(got, want):
                self.failed += 1
                self.correct = False
                self.failures.append(f"{qid}: got {got!r}, want {want!r}")
        pending.clear()

    def expect(self, qid: str, ok: bool, detail: str = "") -> None:
        """A check that is not a query answer (segment counts, verify)."""
        self.attempted += 1
        if qid == self.alter:
            ok = not ok
        if not ok:
            self.failed += 1
            self.correct = False
            self.failures.append(f"{qid}: {detail}")

    # -- program calls -------------------------------------------------------

    def append(self, table_dir, tag, g0, tasks, rows, table_rows, opts, count_bytes=True):
        """One append through the sink: ``tasks`` write tasks, each
        generating and writing one segment. Returns the new v3 dirs;
        ``count_bytes`` adds what it writes to the run's written bytes."""
        before = set(segment_dirs(table_dir))
        fn = gen.write_task_fn(self.seed, tag, rows, table_rows)
        w = (
            self.spark.range(g0, g0 + tasks, 1, tasks)
            .mapInArrow(fn, gen.SPARK_SCHEMA)
            .write.format("pinot")
            .mode("append")
        )
        for k, v in opts.items():
            w = w.option(k, v)
        t0 = time.perf_counter()
        with self.tracer.span("sink.append", table=table_dir, g0=g0):
            w.save(table_dir)
        wall = time.perf_counter() - t0
        new = sorted(set(segment_dirs(table_dir)) - before)
        if count_bytes:
            self.written += sum(_dir_bytes(os.path.dirname(v)) for v in new)
            self.written += _meta_bytes(table_dir)
        self.sample("append_rows_per_s", tasks * rows / wall)
        self.peak.sample()
        return new

    def build(self, name, tag, appends, tasks, rows, opts, count_bytes=True):
        """A table of ``appends`` appends; returns its dir and the v3 dirs
        each append added."""
        table_dir = os.path.join(self.tables, f"{name}_OFFLINE")
        table_rows = appends * tasks * rows
        added = [
            self.append(
                table_dir, tag, a * tasks, tasks, rows, table_rows, opts, count_bytes
            )
            for a in range(appends)
        ]
        return table_dir, added

    def compact(self, table_dir, target_docs, count_bytes=True) -> None:
        """``compact_table``, timed; ``count_bytes`` adds what it writes to
        the run's written bytes."""
        from datafusion_pinot_spark.maintenance import compact_table
        from pinot_segment.manifest import load_manifest

        docs = {k: v["total_docs"] for k, v in (load_manifest(table_dir) or {}).items()}
        t0 = time.perf_counter()
        with self.tracer.span("maintenance.compact_table", table=table_dir):
            res = compact_table(self.spark, table_dir, target_docs)
        wall = time.perf_counter() - t0
        rewritten = sum(docs.get(m, 0) for m in res["removed_segments"])
        if count_bytes:
            out = sum(
                _dir_bytes(os.path.join(table_dir, m)) for m in res["merged_segments"]
            )
            self.compacted_bytes += out
            self.written += out + _meta_bytes(table_dir)
        if rewritten:
            self.sample("compact_rows_per_s", rewritten / wall)
        self.peak.sample()

    def verify_compaction(self, qid, table_dir, name, before_segments):
        """Fewer segments, ``verify_table`` clean, and the count and column
        sums (read back through ``SegmentReader``) equal to the input's
        (the expected answers ``compact/count`` and ``compact/sums``)."""
        from datafusion_pinot_spark.catalog import PinotCatalog
        from pinot_segment.verify import verify_table

        segs = segment_dirs(table_dir)
        self.expect(
            f"{qid}/fewer", len(segs) < before_segments, f"{before_segments} -> {len(segs)}"
        )
        bad = {k: v for k, v in verify_table(table_dir).items() if v}
        self.expect(f"{qid}/verify", not bad, json.dumps(bad)[:500])
        count = PinotCatalog.filesystem(self.tables).count_star(name)
        got = {"count": count, "sums": segment_sums(segs)}
        self.attempted += len(got)
        for part in got:
            self.expected[f"{qid}/{part}"] = self.expected[f"compact/{part}"]
        self.check([(f"{qid}/{part}", v) for part, v in got.items()])

    # -- oracle --------------------------------------------------------------

    def oracle(self, tables: dict, queries: dict) -> None:
        """Expected answers from DuckDB in a child process (outside every
        timed region and outside ``setup_s``)."""
        request = {"seed": self.seed, "tables": tables, "queries": queries}
        env = dict(os.environ)
        env["PYTHONPATH"] = harness.ROOT
        proc = subprocess.run(
            [sys.executable, "-m", "pinotbench.oracle"],
            input=json.dumps(request),
            capture_output=True,
            text=True,
            cwd=harness.ROOT,
            env=env,
            timeout=120,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"oracle failed: {proc.stderr[-2000:]}")
        out = json.loads(proc.stdout)
        self.expected.update(out["answers"])
        self.input_bytes.update(out["arrow_bytes"])


# -- scan workloads ----------------------------------------------------------


def _agg(F, *cols):
    return [F.count(F.lit(1))] + [getattr(F, fn)(c) for fn, c in cols]


def scan_full_round(run, source: dict):
    """The BASELINE.md full-scan shapes over the segments ``source`` names
    (a ``path`` or ``segments`` option); returns ``[(qid, fn, scan)]`` where
    ``scan`` describes the source read for the layer replay (options and
    pushed filters)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = run.spark

    def load(cols):
        return spark.read.format("pinot").options(**source).option("columns", cols).load()

    def agg():
        df = load("qty,price,grp")
        return _rows(
            df.agg(
                *_agg(F, ("sum", "qty"), ("min", "price"), ("max", "price"),
                      ("avg", "price"), ("sum", "grp"))
            ).collect()
        )

    def group_dict():
        df = load("dim,grp,qty")
        got = df.groupBy("dim", "grp").agg(F.count(F.lit(1)), F.sum("qty")).collect()
        return sorted(_rows(got))

    def topk_raw():
        df = load("txt,qty")
        got = (
            df.groupBy("txt")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("qty").alias("s"))
            .orderBy(F.desc("c"), F.desc("s"), F.asc("txt"))
            .limit(10)
            .collect()
        )
        return _rows(got)

    def wide_noop():
        df = load(",".join(gen.COLUMNS))
        obs = Observation("wide")
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k"),
            F.sum("uid").alias("uid"),
            F.sum("qty").alias("qty"),
            F.sum("grp").alias("grp"),
            F.sum(F.length("dim")).alias("dim"),
            F.sum(F.length("txt")).alias("txt"),
            F.sum("price").alias("price"),
        ).write.format("noop").mode("overwrite").save()
        g = obs.get
        return [[g[c] for c in ("n", "k", "uid", "qty", "grp", "dim", "txt", "price")]]

    def opts(cols):
        return {**source, "columns": cols}

    return [
        ("agg", agg, (opts("qty,price,grp"), [])),
        ("group_dict", group_dict, (opts("dim,grp,qty"), [])),
        ("topk_raw", topk_raw, (opts("txt,qty"), [])),
        ("wide_noop", wide_noop, (opts(",".join(gen.COLUMNS)), [])),
    ]


def scan_full_sql(t: str) -> dict:
    return {
        "agg": f"SELECT count(*), sum(qty), min(price), max(price), avg(price), "
        f"sum(grp) FROM {t}",
        "group_dict": f"SELECT dim, grp, count(*), sum(qty) FROM {t} "
        f"GROUP BY dim, grp ORDER BY dim, grp",
        "topk_raw": f"SELECT txt, count(*) c, sum(qty) s FROM {t} GROUP BY txt "
        f"ORDER BY c DESC, s DESC, txt ASC LIMIT 10",
        "wide_noop": f"SELECT count(*), sum(k), sum(uid), sum(qty), sum(grp), "
        f"sum(length(dim)), sum(length(txt)), sum(price) FROM {t}",
    }


def fragmented_literals(seed, nseg, rows) -> dict:
    """The round's literals at fixed selectivity: the seed moves the
    literals, not the work. A key range of half a segment inside one
    segment, a uid that exists exactly once, and one of the 16 ``dim``
    values."""
    rng = np.random.default_rng([seed, 77])
    width = rows // 2
    lo = int(rng.integers(nseg)) * rows + int(rng.integers(0, rows - width + 1))
    row = int(rng.integers(nseg * rows))
    return {
        "lo": lo,
        "hi": lo + width,
        "uid": int(gen.uid_of(seed, TABLE_TAGS["scan_fragmented"], row)),
        "dim": gen.DIMS[int(rng.integers(len(gen.DIMS)))],
    }


def fragmented_round(run, name, lit, subset=None):
    """The fragmented-table round; tables load through ``PinotCatalog``,
    or (for the warm-up) from the ``subset`` of segments given."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from datafusion_pinot_spark.catalog import PinotCatalog

    catalog = PinotCatalog.filesystem(run.tables)
    spark = run.spark
    segs = {"segments": ",".join(subset or catalog.provider.get_segment_paths(name))}

    def load():
        if subset:
            return spark.read.format("pinot").options(**segs).load()
        return catalog.load_table(spark, name)

    def full_agg():
        return _rows(
            load().agg(*_agg(F, ("sum", "qty"), ("sum", "price"), ("min", "uid"),
                             ("max", "uid"))).collect()
        )

    def count_star():
        return catalog.count_star(name)

    def key_range():
        df = load().where((F.col("k") >= lit["lo"]) & (F.col("k") < lit["hi"]))
        return _rows(df.agg(*_agg(F, ("sum", "qty"), ("sum", "price"))).collect())

    def point():
        df = load().where(F.col("uid") == lit["uid"]).select(*gen.COLUMNS)
        return _rows(df.collect())

    def dim_eq():
        df = load().where(F.col("dim") == lit["dim"])
        return _rows(df.agg(*_agg(F, ("sum", "qty"), ("sum", "grp"))).collect())

    return [
        ("full_agg", full_agg, (segs, [])),
        ("count_star", count_star, None),
        (
            "key_range",
            key_range,
            (segs, [GreaterThanOrEqual(("k",), lit["lo"]), LessThan(("k",), lit["hi"])]),
        ),
        ("point", point, (segs, [EqualTo(("uid",), lit["uid"])])),
        ("dim_eq", dim_eq, (segs, [EqualTo(("dim",), lit["dim"])])),
    ]


def fragmented_sql(t: str, lit: dict) -> dict:
    return {
        "full_agg": f"SELECT count(*), sum(qty), sum(price), min(uid), max(uid) FROM {t}",
        "count_star": f"SELECT count(*) FROM {t}",
        "key_range": f"SELECT count(*), sum(qty), sum(price) FROM {t} "
        f"WHERE k >= {lit['lo']} AND k < {lit['hi']}",
        "point": f"SELECT {', '.join(gen.COLUMNS)} FROM {t} WHERE uid = {lit['uid']}",
        "dim_eq": f"SELECT count(*), sum(qty), sum(grp) FROM {t} WHERE dim = '{lit['dim']}'",
    }


def run_round(run, ops) -> float:
    """One timed round; returns its wall time. Answers are checked after
    the clock stops."""
    pending: list = []
    run.tracer.new_trace()
    t0 = time.perf_counter()
    with run.tracer.span("round", workload=run.workload):
        for qid, fn, _ in ops:
            run.attempt(qid, fn, pending)
    wall = time.perf_counter() - t0
    run.peak.sample()
    run.check(pending)
    return wall


def _sums_sql(t: str, where: str = "") -> str:
    return f"SELECT count(*), sum(k), sum(qty), sum(price) FROM {t} {where}"


class ScanWorkload:
    """scan_full and scan_fragmented: build, rounds, then the compaction of
    the table and of copies of it (the maintenance a table of this shape
    gets), checked."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.fragmented = run.workload == "scan_fragmented"
        self.name = "frag" if self.fragmented else "large"
        self.opts = INDEXED if self.fragmented else PLAIN
        lay = run.layout
        self.nseg = lay["appends"] * run.tasks
        self.rows = lay["rows"]
        self.table_rows = self.nseg * self.rows
        self.tag = TABLE_TAGS[run.workload]

    def compact_target(self) -> int:
        """Merge into one segment per core."""
        return self.table_rows // self.run.cpus

    def ops(self, subset=None):
        run = self.run
        if self.fragmented:
            return fragmented_round(run, self.name, self.lit, subset)
        source = {"segments": ",".join(subset)} if subset else {"path": self.table_dir}
        return scan_full_round(run, source)

    def setup(self) -> None:
        """Build the table, then warm up on the round's query shapes, so
        JIT, codegen and every Python worker kind are warm before anything
        is timed."""
        run = self.run
        self.lit = fragmented_literals(run.seed, self.nseg, self.rows)
        # one small append and its compaction first, so the measured appends
        # and compactions find the sink's and the merge's workers started
        # (a run's first compaction ran at a quarter to a half of the speed
        # of the next ones)
        warm, _ = run.build(
            "warm", TABLE_TAGS["warm"], 1, run.cpus, run.scale["warm"], self.opts
        )
        run.compact(warm, run.cpus * run.scale["warm"] // 2, count_bytes=False)
        run.samples.clear()
        run.written = 0
        self.table_dir, self.added = run.build(
            self.name, self.tag, run.layout["appends"], run.tasks, self.rows, self.opts
        )
        # scan_full warms up on its whole round; scan_fragmented, whose round
        # takes ~13-16 s, on its query shapes over one segment per core
        subset = segment_dirs(self.table_dir)[: run.cpus] if self.fragmented else None
        for qid, fn, _ in self.ops(subset=subset):
            with run.tracer.span("setup.warm_up", qid=qid):
                fn()

    def expectations(self) -> None:
        run = self.run
        t = self.name
        queries = (
            fragmented_sql(t, self.lit) if self.fragmented else scan_full_sql(t)
        )
        queries["compact/count"] = f"SELECT count(*) FROM {t}"
        queries["compact/sums"] = _sums_sql(t)
        for a in range(len(self.added)):
            lo, hi = a * run.tasks, (a + 1) * run.tasks - 1
            queries[f"append{a}"] = _sums_sql(t, f"WHERE g BETWEEN {lo} AND {hi}")
        run.oracle(
            {
                t: {
                    "tag": self.tag,
                    "segments": list(range(self.nseg)),
                    "rows": self.rows,
                    "table_rows": self.nseg * self.rows,
                }
            },
            queries,
        )
        run.expected["compact/count"] = run.expected["compact/count"][0][0]
        if self.fragmented:
            run.expected["count_star"] = run.expected["count_star"][0][0]
        # every append of the build, read back through the storage layer
        self.check_appends(self.added)

    def check_appends(self, added) -> None:
        """Each append's segments, read back through the storage layer,
        against the generated count and column sums (``append{a}``)."""
        run = self.run
        run.attempted += len(added)
        run.check([(f"append{a}", segment_sums(v3s)) for a, v3s in enumerate(added)])

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        rounds = self.run.layout["rounds"]
        while (
            len(self.run.samples.get("query_s", [])) < rounds
            or time.perf_counter() < deadline
        ):
            ops = self.ops()
            wall = run_round(self.run, ops)
            self.run.sample("query_s", wall / len(ops))

    def maintain(self) -> None:
        """Compact the table and ``COMPACTIONS - 1`` copies of it, and check
        each. The copies are made before any table is compacted: rebuilt
        through the sink by the build's appends (each append read back and
        checked like the build's) where the layout says ``append_copies``,
        else copied outside the timing. Only the table's own appends and
        compaction count toward the bytes written."""
        run = self.run
        before = len(segment_dirs(self.table_dir))
        names = [self.name] + [f"{self.name}_c{i}" for i in range(1, COMPACTIONS)]
        for name in names[1:]:
            if run.layout["append_copies"]:
                _, added = run.build(
                    name, self.tag, run.layout["appends"], run.tasks, self.rows,
                    self.opts, count_bytes=False,
                )
                self.check_appends(added)
            else:
                shutil.copytree(
                    self.table_dir, os.path.join(run.tables, f"{name}_OFFLINE")
                )
        for i, name in enumerate(names):
            table_dir = os.path.join(run.tables, f"{name}_OFFLINE")
            run.compact(table_dir, self.compact_target(), count_bytes=i == 0)
            run.verify_compaction(f"compact/{name}", table_dir, name, before)

    def stored_input_bytes(self) -> int:
        return self.run.input_bytes[self.name]

    def stored(self) -> float:
        return live_bytes(self.table_dir) / self.stored_input_bytes()
