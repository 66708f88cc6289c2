"""The benchmark's workloads. Each one runs ops from the driver thread and
knows how to warm up, run one op, and check what its ops produced.

- ``reports``: read-only relational, time-series and monitoring queries
  through the noop sink. No iterative loops, no cache ledger, no writes.
- ``iterative``: round-barrier graph and training loops with eager
  plan-build jobs, checkpoints and persists released through
  ``operators.cache``.
- ``ingest``: seeded raw CSV batches loaded by ``jobs.run_ingestion`` into
  one date-partitioned lakehouse table. One op is one nightly step: a load
  followed by a keyed ``sinks.lakehouse.merge_upsert``.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import ingest_data

# Eight report queries: an aggregate, multi-way joins with top-N, a window
# total, sessionization, an as-of join and two monitoring queries. A warm
# pass takes about 4 s on 4 cores.
REPORTS = [
    "flagship_pricing_summary", "shipping_priority_top10", "market_share",
    "running_total_by_customer", "sessionize_events", "asof_purchase_signup",
    "monitor_recent", "hourly_count_anomalies",
]
# k-core (26 eager jobs while the plan is built) and a training loop,
# logistic regression: 3-4.5 s each once warm on 4 cores. The other
# iterative headline ops do not fit the run budget (see README "Scope").
ITERATIVE = ["part_graph_kcore", "logreg_quality_scores"]


class Ctx:
    """What an op needs: the session, the program's modules, and the
    directories of this run."""

    def __init__(self, spark, mods, data_dir: str, run_dir: str, seed: int):
        self.spark = spark
        self.m = mods
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class QueryWorkload:
    """Declared queries from ``__spark_entry__.queries()``, one op each."""

    ordered = False

    def __init__(self, names: list[str]):
        self.names = names
        self.outputs: dict = {}
        self.peak_storage = 0
        self.live_after_op = 0

    def prepare(self, ctx: Ctx) -> None:
        pass

    def ops(self) -> list[str]:
        return list(self.names)

    def before_pass(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> None:
        """One cold execution of every op, collected to the driver so the
        output check can compare it with the oracle later."""
        self.builders = ctx.m.entry.queries()
        for name in self.names:
            try:
                df = self.builders[name](ctx.spark, ctx.data_dir)
                self.outputs[name] = df.toPandas()
                ctx.m.cache.release(df)
            except Exception as exc:  # noqa: BLE001 - reported by the check
                self.outputs[name] = exc
            ctx.m.cache.release_all()

    def run_op(self, ctx: Ctx, name: str) -> None:
        with ctx.span("build"):
            df = self.builders[name](ctx.spark, ctx.data_dir)
        with ctx.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        if ctx.tracer:
            self.peak_storage = max(self.peak_storage, _storage_bytes(ctx.spark))
        with ctx.span("release"):
            ctx.m.cache.release(df)
            if ctx.tracer:
                self.live_after_op = max(self.live_after_op,
                                         len(ctx.m.cache._LIVE))
            ctx.m.cache.release_all()

    def check(self, ctx: Ctx) -> dict[str, str]:
        """Hash-level comparison of each op's cold-pass output with its
        DuckDB oracle, through the same canonical form as
        ``tools/verify_oracle.py``. Returns {op: problem} for failures."""
        import duckdb

        vo = ctx.m.verify_oracle
        oracles = ctx.m.entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in vo.TABLES:
                path = os.path.join(ctx.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            problems = {}
            for name in self.names:
                got = self.outputs.get(name)
                if isinstance(got, Exception) or got is None:
                    problems[name] = f"spark error: {got!r}"
                elif name not in oracles:
                    problems[name] = "no oracle"
                else:
                    problem = _compare(vo, got, con.execute(oracles[name]).df())
                    if problem:
                        problems[name] = problem
            return problems
        finally:
            con.close()


def _compare(vo, spark_pdf, duck_pdf) -> str | None:
    scols, skinds, srows = vo._canon(spark_pdf)
    dcols, dkinds, drows = vo._canon(duck_pdf)
    if scols != dcols:
        return f"columns spark={scols} duck={dcols}"
    bad = [c for c in scols if not vo._kinds_compatible(skinds[c], dkinds[c])]
    if bad:
        return f"dtype kinds differ on {bad}"
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duck={len(drows)}"
    if srows != drows:
        first = next((a, b) for a, b in zip(srows, drows) if a != b)
        return f"values differ, first: {first}"
    return None


class IngestWorkload:
    """A fixed schedule of nightly steps into one lakehouse table that
    starts empty on every pass. A step is one op: a ``run_ingestion`` load
    of a raw batch, then a ``merge_upsert`` of its update batch."""

    ordered = True

    def __init__(self):
        self.peak_storage = 0
        self.live_after_op = 0

    def prepare(self, ctx: Ctx) -> None:
        self.inputs = ingest_data.generate(ctx.seed,
                                           os.path.join(ctx.run_dir, "input"))
        self.table = os.path.join(ctx.run_dir, "lakehouse", "relational")

    def ops(self) -> list[str]:
        return [f"step_{i:02d}" for i in range(ingest_data.LOADS)]

    def before_pass(self, ctx: Ctx) -> None:
        shutil.rmtree(self.table, ignore_errors=True)

    def warmup(self, ctx: Ctx) -> None:
        self.before_pass(ctx)
        for op in self.ops():
            self.run_op(ctx, op)

    def run_op(self, ctx: Ctx, name: str) -> None:
        from pyspark.sql import functions as F

        i = int(name.split("_")[1])
        m = ctx.m
        with ctx.span("load"):
            load = self.inputs.loads[i]
            cfg = m.jobs.IngestionConfig(
                name="relational", source_format="csv",
                source_path=load.path, sink_path=self.table,
                dump_mode=load.mode, ts_col="created_at",
                run_id=f"load-{i:02d}")
            report = m.jobs.run_ingestion(ctx.spark, cfg)
            if not report.ok:
                raise RuntimeError(f"ingestion report not ok: {report.checks}")
        with ctx.span("upsert"):
            with ctx.span("build"):
                raw = m.files.read_csv_raw(ctx.spark, self.inputs.upserts[i].path,
                                           sep=ingest_data.SEP)
                updates = (m.conform.conform(raw, source="relational")
                           .withColumn("_run_id", F.lit(f"upsert-{i:02d}")))
            m.lakehouse.merge_upsert(ctx.spark, self.table, updates,
                                     keys=["id"], order_col="updated_at",
                                     ts_col="created_at")
        with ctx.span("release"):
            m.cache.release_all()

    def check(self, ctx: Ctx) -> dict[str, str]:
        """The table the last pass left must equal the model's: same row
        count and, per key, the keep-last winner."""
        rows = (ctx.m.lakehouse.read_table(ctx.spark, self.table)
                .select("id", "updated_at", "valor", "status").collect())
        got = {r["id"]: (r["updated_at"], r["valor"], r["status"]) for r in rows}
        want = self.inputs.expected
        if len(rows) != len(want):
            return {"table": f"rows {len(rows)} != expected {len(want)}"}
        wrong = [k for k in want if got.get(k) != want[k]]
        if wrong:
            k = wrong[0]
            return {"table": f"{len(wrong)} keys differ, e.g. id {k}: "
                             f"{got.get(k)} != {want[k]}"}
        return {}

    def table_files(self) -> tuple[int, int]:
        n = size = 0
        for d, _, files in os.walk(self.table):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size


def make(name: str):
    if name == "reports":
        return QueryWorkload(REPORTS)
    if name == "iterative":
        return QueryWorkload(ITERATIVE)
    if name == "ingest":
        return IngestWorkload()
    raise SystemExit(f"unknown workload {name!r}")
