"""The benchmark's closed-loop workloads: one client, one session, whole units.

Each workload generates its inputs from the seed (`generate`), runs a fixed
number of warm-up units (`warm_up`), then measures complete units until the
time budget is spent (`measure`) and checks every result against an
independent oracle (DuckDB). Unit sizes and warm-up counts are constants:
the seed changes values and keys only.
"""

from __future__ import annotations

import decimal
import importlib.util
import math
import os
import statistics
import threading
import time

import duckdb
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import types as T

from . import datagen
from .tracing import SparkLedger, Tracer, jvm_gc_seconds, storage_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_compare():
    """`compare` from the engine's oracle gate (tools/check_correctness.py)."""
    spec = importlib.util.spec_from_file_location("_oracle_gate", os.path.join(ROOT, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def spark_rows(pdf, schema: T.StructType) -> list[tuple]:
    """Rows of a `toPandas` result as the Python values `collect` would give,
    so they compare exactly with DuckDB's `fetchall`."""

    def conv(v, t):
        if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(t, T.ArrayType):
            return [conv(x, t.elementType) for x in v]
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(v)
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return float(v)
        if isinstance(t, T.BooleanType):
            return bool(v)
        if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            return v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
        if isinstance(t, T.DecimalType):
            return v if isinstance(v, decimal.Decimal) else decimal.Decimal(str(v))
        return v

    cols = [(pdf.iloc[:, i].tolist(), f.dataType) for i, f in enumerate(schema.fields)]
    return [tuple(conv(c[0][r], c[1]) for c in cols) for r in range(len(pdf))]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared loop state. Subclasses set `name` and implement the phases."""

    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds  # length of the measured window
        self.tracer = tracer
        self.op_s: list[float] = []  # measured unit-op latencies
        self.read_s: list[float] = []  # measured read-probe latencies
        self.items = 0  # items completed by measured ops
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.storage_trace: list[float] = []
        self.window_s = 0.0  # wall time of the measured window
        self.gc_s = 0.0  # JVM GC time during the measured window

    def check(self, ok: bool, msg: str) -> None:
        if not ok and len(self.problems) < 20:
            self.problems.append(msg)
        elif not ok:
            self.problems[-1] = f"... and more; last: {msg}"

    # phases
    def patch(self) -> None:
        """Install tracing wrappers on the engine functions this workload calls."""

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        """End-of-run checks beyond the per-op ones."""

    def layer_metrics(self, ledger: SparkLedger) -> dict[str, float]:
        return {}

    def details(self) -> dict:
        return {}


# --- cdc_apply -----------------------------------------------------------------


class CdcApply(Workload):
    """Steady-state replication: Maxwell files → one Structured Streaming query
    (text source, one file per trigger) → foreachBatch → CDCPipeline.process_batch,
    then a watermark check and a replica read probe after every commit."""

    name = "cdc_apply"
    N_KEYS = 50_000
    WARMUP_BATCHES = 6
    LOOKUP_KEYS = 32  # keys per point lookup, taken from those the batch wrote
    BACKLOG = 3  # files waiting in the source directory ahead of the stream

    def __init__(self, *a):
        super().__init__(*a)
        from greenplum_cdc_spark.streaming.pipeline import CDCPipeline

        self.src = os.path.join(self.work, "feed")
        self.staging = os.path.join(self.work, "staging")
        self.replica = os.path.join(self.work, "replica")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.pipe = CDCPipeline(self.spark, self.replica, archive_path=os.path.join(self.work, "archive"))
        self.feed = datagen.CdcFeed(self.seed, self.N_KEYS)
        self.pending: dict[str, datagen.FeedBatch] = {}
        self.applied: list[datagen.FeedBatch] = []
        self.n_files = 0
        self.last_wm = None
        self.batch_log: list[dict] = []
        self.rejected_lines = 0
        self.window_start = 0.0
        self.gc0 = 0.0
        self.stop = False
        self.done = threading.Event()
        self.progress: dict[int, dict] = {}

    def patch(self) -> None:
        from greenplum_cdc_spark.operators import cdc
        from greenplum_cdc_spark.sources import maxwell
        from greenplum_cdc_spark.streaming import pipeline

        t = self.tracer
        t.patch(pipeline.ReplicaStore, "read", "store.read")
        t.patch(pipeline.ReplicaStore, "commit", "store.commit")
        t.patch(cdc, "watermark_state", "cdc.watermark_state")
        t.patch(cdc, "write_archive", "cdc.write_archive")
        t.patch(cdc, "apply_incremental", "cdc.apply_incremental")
        t.patch(cdc, "snapshot_latest", "cdc.snapshot_latest")
        t.patch(maxwell, "parse_maxwell", "maxwell.parse")

    def _add_file(self, fb_writer) -> None:
        """Write the next feed file outside the source dir, then move it in
        with a later mtime than every file before it (the file source takes
        the oldest unseen file on each trigger)."""
        name = f"b{self.n_files:06d}.json"
        tmp = os.path.join(self.staging, name)
        fb = fb_writer(tmp)
        dst = os.path.join(self.src, name)
        mtime = 1_700_000_000 + self.n_files
        os.utime(tmp, (mtime, mtime))
        os.rename(tmp, dst)
        fb.path = dst
        self.pending[name] = fb
        self.n_files += 1

    def generate(self) -> None:
        self._add_file(self.feed.write_seed)
        for _ in range(self.WARMUP_BATCHES + self.BACKLOG):
            self._add_file(self.feed.write_batch)

    def _on_batch(self, df, batch_id: int) -> None:
        if self.stop:
            return  # the run is over; the query is being stopped
        t_start = time.perf_counter()
        # one file per trigger, oldest first, on a fresh checkpoint: batch k
        # is file k (the per-batch checks below would catch any other order)
        fb = self.pending.pop(f"b{batch_id:06d}.json")
        n_done = len(self.applied)
        phase = "seed" if n_done == 0 else ("warmup" if n_done <= self.WARMUP_BATCHES else "measure")
        if phase == "measure" and not self.window_start:
            self.window_start = time.perf_counter()
            self.gc0 = jvm_gc_seconds(self.spark)
        if phase == "measure":
            self.attempted += 1
        with self.tracer.span("op", phase=phase, batch=batch_id):
            t0 = time.perf_counter()
            self.pipe.process_batch(df, batch_id)
            apply_s = time.perf_counter() - t0
        self.applied.append(fb)
        read_s = self._probe(fb, phase)
        self.batch_log.append({"batch": batch_id, "phase": phase, "apply_s": apply_s, "read_s": read_s, "events": fb.n_dml})
        if self.tracer.enabled and phase == "measure":
            from greenplum_cdc_spark.sources.maxwell import parse_maxwell

            raw = self.spark.read.text(fb.path).withColumnRenamed("value", "line")
            self.rejected_lines += parse_maxwell(raw).filter(F.col("op").isNull()).count()
        if phase != "seed":
            self._add_file(self.feed.write_batch)
        now = time.perf_counter()
        # whole batches only: stop before one that would overrun the window
        if phase == "measure" and now - self.window_start + (now - t_start) > self.seconds:
            self.window_s = time.perf_counter() - self.window_start
            self.gc_s = jvm_gc_seconds(self.spark) - self.gc0
            self.stop = True
            self.done.set()

    def _probe(self, fb: datagen.FeedBatch, phase: str) -> float:
        """Point lookup of the keys this batch wrote, then the full-replica
        aggregate behind the watermark; both through ReplicaStore.read()."""
        keys = list(fb.touched)[: self.LOOKUP_KEYS]
        t0 = time.perf_counter()
        with self.tracer.span("read", phase=phase):
            rows = []
            if keys:
                with self.tracer.span("read.lookup"):
                    rows = (
                        self.pipe.store.read()
                        .filter(F.col("pk").isin(keys))
                        .select("pk", "seq", F.col("data")["qty"].cast("bigint").alias("qty"))
                        .collect()
                    )
            wm = self.pipe.watermark().select(F.unix_timestamp("high_watermark_ts").alias("wm"), "n_rows").collect()[0]
        read_s = time.perf_counter() - t0
        got = {r.pk: (r.seq, r.qty) for r in rows}
        want = {k: fb.touched[k] for k in keys if fb.touched[k] is not None}
        self.check(got == want, f"batch {os.path.basename(fb.path)}: lookup of {len(keys)} written keys differs")
        self.check(wm.n_rows == fb.live_after, f"replica holds {wm.n_rows} rows, expected {fb.live_after}")
        self.check(wm.wm == fb.max_dml_ts, f"watermark {wm.wm} != max applied ts {fb.max_dml_ts}")
        self.check(self.last_wm is None or wm.wm >= self.last_wm, "watermark moved backwards")
        self.last_wm = wm.wm
        if phase == "measure":
            self.read_s.append(read_s)
        return read_s

    def warm_up(self) -> None:
        """Start the one streaming query and wait until it has applied the
        seed load and the warm-up batches; it then runs on into the window."""
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        raw = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(self.src)
            .withColumnRenamed("value", "line")
        )
        q = self.query = (
            raw.writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", os.path.join(self.work, "ckpt"))
            .start()
        )
        deadline = time.time() + 600
        while time.time() < deadline and q.isActive and len(self.applied) <= self.WARMUP_BATCHES:
            time.sleep(0.02)
        if q.exception() is not None or len(self.applied) <= self.WARMUP_BATCHES:
            raise RuntimeError(f"the stream stopped during warm-up: {q.exception()}")

    def measure(self) -> None:
        q = self.query
        deadline = time.time() + max(120.0, 6 * self.seconds)
        try:
            while time.time() < deadline and q.isActive and not self.done.wait(0.05):
                pass
            if q.exception() is not None:
                self.failed += 1
                self.check(False, f"stream failed: {q.exception()}")
        finally:
            self.stop = True
            q.stop()
            for p in q.recentProgress:
                self.progress[p.batchId] = dict(p.durationMs)
        pre = ("latestOffset", "walCommit", "getBatch", "queryPlanning")
        for b in self.batch_log:
            if b["phase"] != "measure":
                continue
            d = self.progress.get(b["batch"], {})
            b["latency_s"] = sum(d.get(k, 0) for k in pre) / 1e3 + b["apply_s"]
            self.op_s.append(b["latency_s"])
            self.items += b["events"]

    def verify(self) -> None:
        """The final replica equals a DuckDB latest-wins replay of the seed
        plus every applied feed file (row count and checksums)."""
        files = [fb.path for fb in self.applied]
        ddb = duckdb.connect()
        want = ddb.execute(
            """
            WITH ev AS (
              SELECT type, ts, xid, data, old FROM read_json(?, format='newline_delimited',
                columns={type: 'VARCHAR', ts: 'BIGINT', xid: 'BIGINT', data: 'JSON', old: 'JSON'})
              WHERE type IN ('insert', 'update', 'delete')
            ), x AS (
              SELECT CAST(data->>'$.id' AS BIGINT) AS pk, ts, xid, 1 AS subseq, type,
                     CAST(data->>'$.qty' AS BIGINT) AS qty FROM ev
              UNION ALL
              SELECT CAST(old->>'$.id' AS BIGINT), ts, xid, 0, 'delete', NULL FROM ev
              WHERE type = 'update' AND (old->>'$.id') IS NOT NULL
                AND CAST(old->>'$.id' AS BIGINT) <> CAST(data->>'$.id' AS BIGINT)
            ), w AS (
              SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ts DESC, xid DESC, subseq DESC) AS rn FROM x
            )
            SELECT count(*), sum(pk), sum(xid), sum(qty), sum((pk * 31 + xid) % 1000003), max(ts)
            FROM w WHERE rn = 1 AND type <> 'delete'
            """,
            [files],
        ).fetchone()
        ddb.close()
        got = (
            self.pipe.store.read()
            .agg(
                F.count("*"),
                F.sum("pk"),
                F.sum("seq"),
                F.sum(F.col("data")["qty"].cast("bigint")),
                F.sum((F.col("pk") * 31 + F.col("seq")) % 1000003),
                F.max(F.unix_timestamp("ts")),
            )
            .collect()[0]
        )
        self.check(tuple(got) == tuple(want), f"final replica checksums {tuple(got)} != replay {tuple(want)}")
        self.final_rows = got[0]

    def layer_metrics(self, ledger: SparkLedger) -> dict[str, float]:
        t = self.tracer
        ops = [s for s in t.named("op") if s.attrs.get("phase") == "measure"]
        reads = [s for s in t.named("read") if s.attrs.get("phase") == "measure"]
        per_op = [ledger.stats(s) for s in ops]
        commit_s, wm_s, archive_s, merge_s, parse_s, shuffle, rows_in = [], [], [], [], [], [], []
        for s, st in zip(ops, per_op):
            commits = t.within(s, "store.commit")
            commit_s.append(sum(c.dur for c in commits))
            wm_s.append(s.end - max(c.end for c in commits) if commits else 0.0)
            archive_s.append(sum(c.dur for c in t.within(s, "cdc.write_archive")))
            merge_s.append(sum(c.dur for c in t.within(s, "cdc.apply_incremental")))
            parse_s.append(sum(c.dur for c in t.within(s, "maxwell.parse")))
            cst = [ledger.stats(c) for c in commits]
            shuffle.append(sum(c["shuffle_write_bytes"] for c in cst))
            rows_in.append(sum(c["shuffle_write_records"] for c in cst) / max(1, datagen.BATCH_EVENTS - datagen.BATCH_DDL))
        n = max(1, len(ops))
        events = max(1, self.items)
        lookups = [ledger.stats(s) for r in reads for s in t.within(r, "read.lookup")]
        plan_s, exec_s = [], []
        for r in reads:
            p = sum(c.dur for c in t.within(r, "store.read"))
            plan_s.append(p)
            exec_s.append(r.dur - p)
        prog = [self.progress.get(b["batch"], {}) for b in self.batch_log if b["phase"] == "measure"]
        store_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.replica) for f in fs
        )
        return {
            "pipeline.commit_s": median(commit_s),
            "pipeline.watermark_s": median(wm_s),
            "pipeline.archive_s": median(archive_s),
            "pipeline.replica_bytes_read_per_batch": sum(s["input_bytes"] for s in per_op) / n,
            "pipeline.bytes_written_per_event": sum(s["output_bytes"] for s in per_op) / events,
            "pipeline.jobs_per_batch": sum(s["jobs"] for s in per_op) / n,
            "pipeline.tasks_per_batch": sum(s["tasks"] for s in per_op) / n,
            "pipeline.store_bytes_per_row": store_bytes / max(1, self.final_rows),
            "cdc.merge_call_s": median(merge_s),
            "cdc.shuffle_bytes_per_batch": sum(shuffle) / n,
            "cdc.rows_in_per_event": sum(rows_in) / n,
            "maxwell.parse_call_s": median(parse_s),
            "maxwell.rejected_lines": float(self.rejected_lines),
            "stream.latest_offset_s": median([p.get("latestOffset", 0) / 1e3 for p in prog]),
            "stream.query_planning_s": median([p.get("queryPlanning", 0) / 1e3 for p in prog]),
            "stream.add_batch_s": median([p.get("addBatch", 0) / 1e3 for p in prog]),
            "stream.wal_commit_s": median([p.get("walCommit", 0) / 1e3 for p in prog]),
            "stream.commit_offsets_s": median([p.get("commitOffsets", 0) / 1e3 for p in prog]),
            "read.plan_s": median(plan_s),
            "read.exec_s": median(exec_s),
            "read.files_per_lookup": sum(s["files_read"] for s in lookups) / max(1, len(lookups)),
            "read.bytes_per_lookup": sum(s["file_bytes_read"] for s in lookups) / max(1, len(lookups)),
            "spark.executor_run_s": sum(s["run_s"] for s in per_op) / n,
            "spark.executor_cpu_s": sum(s["cpu_s"] for s in per_op) / n,
        }

    def details(self) -> dict:
        live = self.pipe.store.read()
        return {
            "replica_keys_seeded": self.N_KEYS,
            "replica_rows_final": getattr(self, "final_rows", None),
            "replica_current_bytes": sum(os.path.getsize(f.replace("file:", "")) for f in live.inputFiles()),
            "events_per_batch": datagen.BATCH_EVENTS,
            "batches": self.batch_log,
            "progress_keys": sorted({k for d in self.progress.values() for k in d}),
        }


# --- olap_curation ------------------------------------------------------------


class OlapCuration(Workload):
    """Analyst TPC-H queries over a seeded star schema, then dedup and
    similarity operators over a fresh corpus snapshot: one pass runs every op
    once, each result checked against the entry's DuckDB oracle."""

    name = "olap_curation"
    SF = 0.01
    N_DOCS = 500
    N_VECS = 250
    WARMUP_PASSES = 1
    # (entry, input): a fixed subset of the 22 TPC-H queries (a full warm
    # pass does not fit the run budget, see README) with scan-aggregate,
    # 3- and 6-way join, selective filter, outer join and IN-subquery
    # shapes; then the six curation operators on the pass's own snapshot.
    OPS = (
        ("q1_pricing_summary", "tpch"),
        ("q3_shipping_priority", "tpch"),
        ("q5_supplier_volume", "tpch"),
        ("q6_forecast_revenue", "tpch"),
        ("q13_customer_distribution", "tpch"),
        ("q18_large_volume", "tpch"),
        ("dedup_simhash", "corpus"),
        ("dedup_ngram_jaccard", "corpus"),
        ("dedup_clusters", "corpus"),
        ("knn_lsh", "corpus"),
        ("knn_ivf", "corpus"),
        ("embedding_quantize", "corpus"),
    )

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__

        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.compare = _load_compare()
        self.passes = 0
        self.pass_log: list[dict] = []
        self.expected: dict[tuple[str, str], tuple] = {}
        self.tpch = os.path.join(self.work, "tpch")

    def patch(self) -> None:
        from greenplum_cdc_spark import io

        self.tracer.patch(io, "load_table", "io.load_table")

    def _snapshot(self, i: int) -> str:
        d = os.path.join(self.work, f"snapshot{i:04d}")
        if not os.path.isdir(d):
            # one seed per snapshot, all derived from the run's seed
            self.corpus_rows = datagen.write_corpus(self.seed * 1000 + i, d, self.N_DOCS, self.N_VECS)
        return d

    def generate(self) -> None:
        self.tpch_rows = datagen.write_tpch(self.seed, self.SF, self.tpch)
        # the warm-up snapshots and the first measured one; each later
        # snapshot is written after the pass before it, outside the timed ops
        for i in range(self.WARMUP_PASSES + 1):
            self._snapshot(i)

    def _oracle(self, d: str, name: str):
        key = (d, name)
        if key not in self.expected:
            con = duckdb.connect()
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(d, f)}'")
            res = con.execute(self.oracles[name])
            self.expected[key] = ([c[0] for c in res.description], res.fetchall())
            con.close()
        return self.expected[key]

    def _pass(self, phase: str) -> None:
        dirs = {"tpch": self.tpch, "corpus": self._snapshot(self.passes)}
        log = {"pass": self.passes, "phase": phase, "ops": {}}
        for name, source in self.OPS:
            d = dirs[source]
            if phase == "measure":
                self.attempted += 1
            try:
                with self.tracer.span("op", phase=phase, entry=name, source=source):
                    t0 = time.perf_counter()
                    with self.tracer.span("construct"):
                        df = self.fns[name](self.spark, d)
                    with self.tracer.span("exec"):
                        pdf = df.toPandas()
                    op_s = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                self.failed += phase == "measure"
                self.check(False, f"{name} pass {self.passes}: {type(e).__name__}: {e}"[:300])
                continue
            log["ops"][name] = op_s
            if phase == "measure":
                self.op_s.append(op_s)
                self.items += 1
            cols, rows = self._oracle(d, name)
            problems = self.compare(spark_rows(pdf, df.schema), df.columns, rows, cols, name)
            self.check(not problems, f"{name} pass {self.passes}: " + "; ".join(problems))
            if phase == "measure":
                self._probe(d, source)
        log["storage_mb"] = storage_mb(self.spark)
        self.storage_trace.append(log["storage_mb"])
        self.pass_log.append(log)
        self.passes += 1
        self._snapshot(self.passes)

    def _probe(self, d: str, source: str) -> None:
        """Read probe after each measured op: a full scan of the op's main
        input back through io.load_table."""
        from greenplum_cdc_spark.io import load_table

        table = "lineitem" if source == "tpch" else "documents"
        t0 = time.perf_counter()
        with self.tracer.span("read", phase="measure"):
            n = load_table(self.spark, d, table).count()
        self.read_s.append(time.perf_counter() - t0)
        want = self.tpch_rows if source == "tpch" else self.corpus_rows
        self.check(n == want[table], f"{table} read back {n} rows, expected {want[table]}")

    def warm_up(self) -> None:
        for _ in range(self.WARMUP_PASSES):
            self._pass("warmup")

    def measure(self) -> None:
        gc0 = jvm_gc_seconds(self.spark)
        t0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            self._pass("measure")
            now = time.perf_counter()
            # whole passes only: stop before one that would overrun the window
            if now - t0 + (now - p0) > self.seconds:
                break
        self.window_s = time.perf_counter() - t0
        self.gc_s = jvm_gc_seconds(self.spark) - gc0

    def layer_metrics(self, ledger: SparkLedger) -> dict[str, float]:
        t = self.tracer
        m: dict[str, float] = {}
        ops = [s for s in t.named("op") if s.attrs.get("phase") == "measure"]
        per_op = [ledger.stats(s) for s in ops]
        for prefix, source in (("tpch", "tpch"), ("curation", "corpus")):
            mine = [(s, st) for s, st in zip(ops, per_op) if s.attrs["source"] == source]
            n = max(1, len(mine))
            construct = [c for s, _ in mine for c in t.within(s, "construct")]
            m[f"{prefix}.construct_s"] = median([c.dur for c in construct])
            m[f"{prefix}.construct_jobs"] = sum(ledger.stats(c)["jobs"] for c in construct) / n
            m[f"{prefix}.exec_s"] = median([c.dur for s, _ in mine for c in t.within(s, "exec")])
            if source == "tpch":
                m["io.load_s"] = median([sum(c.dur for c in t.within(s, "io.load_table")) for s, _ in mine])
                m["tpch.stages_per_query"] = sum(st["stages"] for _, st in mine) / n
                m["tpch.input_bytes_per_query"] = sum(st["input_bytes"] for _, st in mine) / n
                m["tpch.shuffle_bytes_per_query"] = sum(st["shuffle_write_bytes"] for _, st in mine) / n
            else:
                m["kernel.python_bytes_per_call"] = sum(st["python_bytes"] for _, st in mine) / n
        n = max(1, len(ops))
        m["spark.executor_run_s"] = sum(st["run_s"] for st in per_op) / n
        m["spark.executor_cpu_s"] = sum(st["cpu_s"] for st in per_op) / n
        return m

    def details(self) -> dict:
        return {
            "sf": self.SF,
            "tpch_rows": self.tpch_rows,
            "corpus_rows_per_snapshot": self.corpus_rows,
            "passes": self.pass_log,
            "storage_mb_after_each_pass": self.storage_trace,
        }


WORKLOADS = {w.name: w for w in (CdcApply, OlapCuration)}
