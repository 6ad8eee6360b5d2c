"""The three workloads. Each is a closed loop: one client process sends the
next op only after the previous one returned, on ``local[nproc]``.

- ``headline_sf0.1``: ``bench.py``'s 14 headline queries plus the two pandas
  UDF queries over the sf0.1-shaped tables, in whole passes of seeded order.
- ``scan_20x``: the reference's Q1-Q3 plus flagship, star join and top-k over
  the 20x fact tables, in whole passes of seeded order.
- ``lake_commit``: a CSV ingest into a fresh partitioned warehouse table,
  then rounds of appends and pruned reads, compaction, snapshot expiry, an
  Iceberg v2 export and pruned v2 reads.

An olap op is the registered callable plus ``collect()``. A lake op is one
public call plus, for reads, the ``collect()`` of its count and cent sum.
Result checks, disk accounting and trace bookkeeping run between ops and are
left out of the measured time.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from bench import EXTRA, HEADLINE

import oracle
from inputs import LakeInputs, dir_bytes
from tracing import OpTrace, StatusReader

HEADLINE_OPS = HEADLINE + EXTRA + ["b10_pandas_udf_scalar", "b10_apply_in_pandas_zscore"]
SCAN_OPS = [
    "a10_q1_filter_count", "a11_q2_filter_avg", "a12_q3_group_agg_sort",
    "flagship_pricing_summary", "b3_join_star_revenue", "b5_row_number_topk",
]
LAKE_TABLE = "lineitem_lake"
APPENDS_PER_ROUND = 4
READS_PER_APPEND = 2
V2_READS_PER_ROUND = 3
#: nominal measured seconds of one unit of work on 4 cores: a pass over the
#: headline queries, a lake round. A run does round(seconds / unit) units,
#: at least one, so every run of a workload does the same work whatever the
#: speed of the commit under test.
OLAP_PASS_S = 13.0
LAKE_ROUND_S = 18.0


def units(seconds: float, unit_s: float) -> int:
    return max(1, round(seconds / unit_s))


@dataclass
class OpRecord:
    kind: str  # olap | commit | scan | export
    name: str
    wall: float
    error: str | None = None
    rows: int = 0
    trace: OpTrace | None = None
    stats: dict | None = None
    facts: dict = field(default_factory=dict)


class Runner:
    """Times ops, checks them, and keeps the records of one run."""

    def __init__(self, spark, traced: bool, checked: bool = True):
        self.spark = spark
        self.checked = checked
        self.reader = StatusReader(spark) if traced else None
        self.ops: list[OpRecord] = []
        self.excluded = 0.0  # seconds spent on checks and bookkeeping
        self.trace_s = 0.0  # seconds spent reading traces back
        self.loop_start = 0.0

    def start(self) -> None:
        self.loop_start = time.perf_counter()

    def measured(self) -> float:
        return time.perf_counter() - self.loop_start - self.excluded

    def span(self, tr: OpTrace | None, name: str):
        return tr.span(name) if tr is not None else nullcontext()

    def run(self, kind: str, name: str, body) -> tuple[OpRecord, object]:
        op_id = len(self.ops)
        tr = OpTrace(op_id) if self.reader else None
        if tr is not None:
            b0 = time.perf_counter()
            mark = self.reader.mark()
            self.reader.begin(op_id)
            self.excluded += time.perf_counter() - b0
            self.trace_s += time.perf_counter() - b0
        rec = OpRecord(kind, name, 0.0, trace=tr)
        result = None
        t0 = time.perf_counter()
        try:
            with self.span(tr, "op"):
                result = body(tr, rec)
        except Exception as e:  # an op that raises counts as failed
            rec.error = f"{type(e).__name__}: {str(e)[:300]}"
        rec.wall = time.perf_counter() - t0
        if tr is not None:
            b0 = time.perf_counter()
            self.reader.end()
            rec.stats = self.reader.read(op_id, mark)
            tr.attach_jobs(rec.stats["jobs"])
            rec.facts["cache"] = self.reader.cache_state()
            self.excluded += time.perf_counter() - b0
            self.trace_s += time.perf_counter() - b0
        self.ops.append(rec)
        return rec, result

    def check(self, rec: OpRecord, fn) -> None:
        """Run ``fn`` (returns an error text or None) outside the measured time."""
        if rec.error is not None or not self.checked:
            return
        c0 = time.perf_counter()
        try:
            rec.error = fn()
        except Exception as e:
            rec.error = f"check {type(e).__name__}: {str(e)[:300]}"
        self.excluded += time.perf_counter() - c0


# ------------------------------------------------------------------ olap

def olap_warmup(spark, queries, names, sf_dir) -> None:
    """One untimed call of every op: plan code generation, Python workers."""
    for n in names:
        try:
            queries[n](spark, sf_dir).collect()
        except Exception:  # the timed call of the same op reports the failure
            pass


def olap_loop(run: Runner, queries, names, sf_dir, answers, rng, seconds) -> None:
    """Whole passes over ``names``, each in its own seeded order."""
    spark = run.spark

    def op(n):
        def body(tr, rec):
            with run.span(tr, "build"):
                df = queries[n](spark, sf_dir)
            if tr is not None:
                with run.span(tr, "plan"):
                    rec.facts["catalyst"] = run.reader.catalyst_ms(df)
            with run.span(tr, "collect"):
                rows = df.collect()
            rec.rows = len(rows)
            return df, rows
        return body

    run.start()
    for _ in range(units(seconds, OLAP_PASS_S)):
        for i in rng.permutation(len(names)):
            n = names[i]
            rec, res = run.run("olap", n, op(n))
            if res is not None:
                df, rows = res
                run.check(rec, lambda: oracle.mismatch(answers[n], df.columns, rows))


# ------------------------------------------------------------------ lake

def _pipeline():
    from apache_iceberg_demo_spark.ingest import CsvIngestPipeline

    return CsvIngestPipeline(
        casts={
            "l_orderkey": "bigint", "l_partkey": "bigint", "l_quantity": "double",
            "l_extendedprice": "double", "l_discount": "double",
            "l_shipdate": "timestamp",
        },
        derive_partition=("ship_month", "l_shipdate"),
        partition_format="yyyy-MM",
        sort_by=["ship_month", "l_orderkey"],
    )


def _count_sum(df) -> tuple:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    ).collect()[0]
    return int(row[0]), row[1]


def _files(root: str) -> dict[str, tuple]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


class Lake:
    """One warehouse root driven through the lake op sequence."""

    def __init__(self, run: Runner, inputs: LakeInputs, root: str, v2_root: str):
        from apache_iceberg_demo_spark.sources.warehouse import Warehouse

        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(v2_root, ignore_errors=True)
        os.makedirs(v2_root)
        self.run = run
        self.inputs = inputs
        self.root = root
        self.v2_root = v2_root
        self.wh = Warehouse(run.spark, root)
        self.oracle = oracle.LakeOracle(inputs.base_parquet)
        self.pipeline = _pipeline()
        self.seen = _files(root)
        self.user_bytes = 0
        self.written = 0
        self.live_files = 0
        self.next_batch = 0
        self.next_pred = 0
        self.exports = 0
        self.location = None
        self.schema = None

    def _account(self, rec: OpRecord) -> None:
        c0 = time.perf_counter()
        now = _files(self.root)
        new = sum(v[1] for p, v in now.items() if self.seen.get(p) != v)
        self.seen = now
        self.written += new
        rec.facts["bytes_written"] = new
        self.run.excluded += time.perf_counter() - c0

    def _pred(self) -> str:
        p = self.inputs.predicates[self.next_pred % len(self.inputs.predicates)]
        self.next_pred += 1
        return p

    def _expect_all(self) -> str | None:
        got, want = _count_sum(self.wh.read(LAKE_TABLE)), self.oracle.count_sum()
        return None if got == want else f"table {got} != oracle {want}"

    def ingest(self, csv: str | None = None) -> None:
        pipe, run = self.pipeline, self.run
        csv = csv or self.inputs.csv

        def body(tr, rec):
            if tr is not None:  # spans around the pipeline's public stages
                for stage in ("read", "transform"):
                    setattr(pipe, stage, _spanned(run, tr, f"ingest.{stage}", getattr(pipe, stage)))
            try:
                with run.span(tr, "ingest.run"):
                    df = pipe.run(run.spark, csv, self.root, LAKE_TABLE)
            finally:
                pipe.__dict__.pop("read", None)
                pipe.__dict__.pop("transform", None)
            with run.span(tr, "collect"):
                return df, _count_sum(df)

        rec, res = run.run("commit", "ingest.run", body)
        self.user_bytes += os.path.getsize(self.inputs.base_parquet)
        self._account(rec)
        if res is not None:
            df, got = res
            self.schema = df.schema

            def same():
                want = self.oracle.count_sum()
                return None if got == want else f"ingest {got} != oracle {want}"

            run.check(rec, same)
            if run.reader is not None:
                c0 = time.perf_counter()
                self.live_files = self.wh.files(LAKE_TABLE).count()
                run.excluded += time.perf_counter() - c0

    def append(self) -> None:
        from pyspark.sql import functions as F

        path = self.inputs.batches[self.next_batch % len(self.inputs.batches)]
        self.next_batch += 1

        def body(tr, rec):
            # the user's batch, typed like the table (lazy: read by the append)
            batch = self.run.spark.read.parquet(path).withColumn(
                "ship_month", F.date_format("l_shipdate", "yyyy-MM")
            ).select(*[F.col(f.name).cast(f.dataType) for f in self.schema.fields])
            with self.run.span(tr, "warehouse.append"):
                return self.wh.append(LAKE_TABLE, batch)

        rec, snap = self.run.run("commit", "warehouse.append", body)
        self._account(rec)
        if snap is not None:
            self.oracle.commit(path)
            self.user_bytes += os.path.getsize(path)
            self.live_files = len(snap["manifest"])

            def total():
                got, want = snap["summary"]["total-records"], self.oracle.count_sum()[0]
                return None if got == want else f"append total {got} != oracle {want}"

            self.run.check(rec, total)

    def read(self) -> None:
        where = self._pred()

        def body(tr, rec):
            with self.run.span(tr, "warehouse.read"):
                df = self.wh.read(LAKE_TABLE, where=where)
            with self.run.span(tr, "collect"):
                return _count_sum(df)

        rec, got = self.run.run("scan", "warehouse.read", body)
        rec.facts["files_live"] = self.live_files
        self._account(rec)

        def same():
            want = self.oracle.count_sum(where)
            return None if got == want else f"{where}: {got} != oracle {want}"

        self.run.check(rec, same)

    def compact(self) -> None:
        def body(tr, rec):
            with self.run.span(tr, "warehouse.rewrite_data_files"):
                return self.wh.rewrite_data_files(LAKE_TABLE)

        rec, snap = self.run.run("commit", "warehouse.rewrite_data_files", body)
        self._account(rec)
        if snap is not None:
            self.live_files = len(snap["manifest"])
        self.run.check(rec, self._expect_all)

    def expire(self) -> None:
        def body(tr, rec):
            with self.run.span(tr, "warehouse.expire_snapshots"):
                return self.wh.expire_snapshots(LAKE_TABLE, keep_last=1)

        rec, removed = self.run.run("commit", "warehouse.expire_snapshots", body)
        rec.facts["files_removed"] = removed or 0
        self._account(rec)
        self.run.check(rec, self._expect_all)

    def export(self) -> None:
        from apache_iceberg_demo_spark.sources.iceberg_v2 import export_iceberg_v2

        loc = os.path.join(self.v2_root, f"export-{self.exports:03d}")
        self.exports += 1

        def body(tr, rec):
            with self.run.span(tr, "iceberg_v2.export"):
                return export_iceberg_v2(self.wh, LAKE_TABLE, location=loc)

        rec, location = self.run.run("export", "iceberg_v2.export", body)
        self._account(rec)
        if location is not None:
            if self.location is not None:  # keep only the latest export
                shutil.rmtree(self.location, ignore_errors=True)
            self.location = location
            mdir = os.path.join(location, "metadata")
            rec.facts["manifest_files"] = sum(
                1 for f in os.listdir(mdir) if f.endswith(".avro") and not f.startswith("snap-")
            )

    def read_v2(self) -> None:
        from apache_iceberg_demo_spark.sources.iceberg_v2 import read_iceberg_v2

        where, location = self._pred(), self.location

        def body(tr, rec):
            with self.run.span(tr, "iceberg_v2.read"):
                df = read_iceberg_v2(self.run.spark, location, where=where)
            with self.run.span(tr, "collect"):
                return _count_sum(df)

        rec, got = self.run.run("scan", "iceberg_v2.read", body)
        rec.facts["files_live"] = self.live_files
        self._account(rec)

        def same():
            want = self.oracle.count_sum(where)
            native = _count_sum(self.wh.read(LAKE_TABLE, where=where))
            if got != want:
                return f"v2 {where}: {got} != oracle {want}"
            return None if native == got else f"v2 {where}: {got} != warehouse {native}"

        self.run.check(rec, same)

    def round(self) -> None:
        for _ in range(APPENDS_PER_ROUND):
            self.append()
            for _ in range(READS_PER_APPEND):
                self.read()
        self.compact()
        self.expire()
        self.export()
        for _ in range(V2_READS_PER_ROUND):
            self.read_v2()

    def table_state(self) -> dict:
        """Live files, snapshots and metadata bytes at the end of the run."""
        files = self.wh.files(LAKE_TABLE).select("size_bytes").collect()
        snaps = self.wh.snapshots(LAKE_TABLE).count()
        tdir = os.path.join(self.root, LAKE_TABLE)
        meta = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(tdir) for f in fs if not f.endswith(".parquet")
        )
        return {
            "files_live": len(files),
            "snapshots_live": snaps,
            "avg_file_kb": sum(r[0] for r in files) / max(1, len(files)) / 1024,
            "metadata_bytes": meta,
            "stored": dir_bytes(self.root),
        }

    def close(self) -> None:
        self.oracle.close()
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.rmtree(self.v2_root, ignore_errors=True)


def _spanned(run: Runner, tr: OpTrace, name: str, fn):
    def wrapper(*a, **k):
        with run.span(tr, name):
            return fn(*a, **k)
    return wrapper


def lake_warmup(spark, inputs: LakeInputs, work: str) -> None:
    """One untimed call of every lake op type on a throwaway warehouse fed
    with the small warm-up CSV. Results are not checked (the oracle holds the
    full ingest input); an op that fails here fails again when timed."""
    run = Runner(spark, traced=False, checked=False)
    lake = Lake(run, inputs, os.path.join(work, "lake-warm"), os.path.join(work, "lake-warm-v2"))
    try:
        lake.ingest(inputs.warm_csv)
        lake.append()
        lake.read()
        lake.compact()
        lake.expire()
        lake.export()
        lake.read_v2()
    finally:
        lake.close()


def lake_loop(run: Runner, inputs: LakeInputs, work: str, seconds: float) -> dict:
    lake = Lake(run, inputs, os.path.join(work, "lake-wh"), os.path.join(work, "lake-v2"))
    try:
        run.start()
        lake.ingest()
        for _ in range(units(seconds, LAKE_ROUND_S)):
            lake.round()
        c0 = time.perf_counter()
        state = lake.table_state()
        run.excluded += time.perf_counter() - c0
        state["written"] = lake.written
        state["user_bytes"] = lake.user_bytes
        return state
    finally:
        lake.close()
