"""The three closed-loop workloads: one client, one operation at a time.

Each workload offers ``warm(ctx)`` (the untimed warm-up that ends
set-up), ``op_pass(ctx, pass_no)`` (one timed pass over its operations)
and ``check(ctx)`` (output checks against DuckDB, run after the timed
region). The product is driven only through its public functions:
``__spark_entry__.queries()`` / ``oracle_sql()``, ``streaming.serving``
and ``sources.writers``.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry
from data_engineering_capstone_project_spark.plans.registry import events_table
from data_engineering_capstone_project_spark.sources.writers import (
    merge_upsert_partitioned,
)
from data_engineering_capstone_project_spark.streaming import serving
from tools.compare import TABLES, compare_query

import gen

STAR_OLAP = [
    # the paper's four questions
    "visits_by_year", "visits_by_region", "top5_nations_ytd",
    "top_nations_by_month",
    # TPC-H-shaped star joins
    "pricing_summary", "revenue_by_priority", "shipping_priority_q3",
    "local_supplier_volume_q5", "returned_revenue_q10", "volume_shipping_q7",
    "sole_late_supplier_q21",
]
CURATION = [
    "dedup_canonical", "doc_pagerank", "simhash_near_dups",
    "minhash_lsh_pairs", "bpe_encode", "ann_ivf_topk", "curation_funnel",
]


@dataclass
class Ctx:
    spark: object
    tracer: object
    inputs: Path
    run_dir: Path
    seed: int
    failures: list = field(default_factory=list)
    attempted: int = 0

    def fail(self, what: str, why: object) -> None:
        """Count one failed operation or check; exceptions are printed
        with their traceback to stderr."""
        if isinstance(why, BaseException):
            traceback.print_exception(why, file=sys.stderr)
            why = f"{type(why).__name__}: {why}"
        self.failures.append(f"{what}: {why}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, source in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {source}")
    return con


class _Collected:
    """A result already collected, shaped like the DataFrame that
    ``compare_query`` expects, so the check re-runs nothing in Spark."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class QueryWorkload:
    """Repeated passes over registered queries; each invocation is the
    builder call plus full evaluation to the ``noop`` sink."""

    # The first timed pass still ran 10-25% slower than later ones
    # (JIT, first-use set-up), so set-up ends after two passes.
    WARM_PASSES = 2

    def __init__(self, names: list[str]):
        self.names = names
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.first_results: dict[str, _Collected] = {}

    def _invoke(self, ctx: Ctx, name: str, phase: str) -> None:
        tr, sf_dir = ctx.tracer, str(ctx.inputs)
        ctx.attempted += 1
        try:
            with tr.invocation(name, phase) as inv:
                with tr.span("plans.build"):
                    df = self.queries[name](ctx.spark, sf_dir)
                inv["build_jobs"] = tr.jobs_so_far()
                with tr.span("spark.exec"):
                    if name not in self.first_results:
                        self.first_results[name] = _Collected(
                            df.columns, df.collect()
                        )
                    else:
                        _noop(df)
        except Exception as exc:  # counted, the loop goes on
            ctx.fail(f"{phase} {name}", exc)

    def warm(self, ctx: Ctx) -> None:
        for pass_no in range(self.WARM_PASSES):
            order = list(self.names)
            random.Random(ctx.seed * 1_000 - pass_no).shuffle(order)
            for name in order:
                self._invoke(ctx, name, "warm")

    def op_pass(self, ctx: Ctx, pass_no: int) -> int:
        order = list(self.names)
        random.Random(ctx.seed * 1_000 + pass_no + 1).shuffle(order)
        for name in order:
            self._invoke(ctx, name, "timed")
        return len(order)

    def stored_ratio(self, ctx: Ctx) -> float:
        return 0.0  # a read workload stores nothing

    def check(self, ctx: Ctx) -> None:
        present = [t for t in TABLES if (ctx.inputs / f"{t}.parquet").exists()]
        con = _duck({t: f"'{ctx.inputs}/{t}.parquet'" for t in present})
        for name in self.names:
            ctx.attempted += 1
            got = self.first_results.get(name)
            if got is None:
                ctx.fail(f"check {name}", "no result to check")
                continue
            try:
                problems = compare_query(
                    ctx.spark, con, lambda *_: got, self.oracles[name],
                    str(ctx.inputs),
                )
            except Exception as exc:
                problems = [repr(exc)]
            if problems:
                ctx.fail(f"check {name}", problems)


class IngestServe:
    """Seeded event micro-batches folded into four serving tables and
    upserted into a day-partitioned store; the served views are read
    after every batch. One operation is one whole batch."""

    VIEWS = {
        "trending": lambda s, d: serving.trending_topk_view(s, d, k=3),
        "kmv": lambda s, d: serving.kmv_serving_view(s, d, "event_type"),
        "ohlc": serving.ohlc_serving_view,
    }

    WARM_BATCHES = 5

    def __init__(self):
        self.next_batch = 0
        self.applied: list[int] = []

    def _dirs(self, ctx: Ctx) -> dict[str, str]:
        root = ctx.run_dir / "serving"
        return {t: str(root / t) for t in ("user_counts", "trending", "kmv", "ohlc")}

    def _store(self, ctx: Ctx) -> str:
        return str(ctx.run_dir / "store" / "events")

    def _apply(self, ctx: Ctx, table: str, ev, b: int) -> bool:
        d = self._dirs(ctx)[table]
        if table == "user_counts":
            return serving.apply_user_counts_batch(ctx.spark, ev, b, d)
        if table == "trending":
            return serving.apply_additive_batch(
                ctx.spark, ev, b, d, serving.trending_increment,
                keys=["window_start", "event_type"], sum_cols=["events"],
            )
        if table == "kmv":
            return serving.apply_kmv_batch(
                ctx.spark, ev, b, d, group_col="event_type", id_col="user_id"
            )
        return serving.apply_ohlc_batch(ctx.spark, ev, b, d)

    def _batch(self, ctx: Ctx, phase: str) -> None:
        b = self.next_batch
        self.next_batch += 1
        tr = ctx.tracer
        ctx.attempted += 1
        try:
            with tr.invocation("batch", phase) as inv:
                before = self._files(ctx) if tr.enabled else {}
                with tr.span("sources.events_table"):
                    ev = events_table(ctx.spark, str(gen.batch_dir(ctx.inputs, b)))
                for table in self._dirs(ctx):
                    with tr.span(f"serving.apply.{table}"):
                        if self._apply(ctx, table, ev, b) is not True:
                            raise RuntimeError(f"{table}: batch {b} not applied")
                rows = ev.withColumn("day", F.to_date("ts"))
                with tr.span("writers.upsert"):
                    if b == 0:
                        # merge_upsert_partitioned raises PATH_NOT_FOUND on
                        # a store that was never written, so the store
                        # starts from a plain partitioned write.
                        rows.write.partitionBy("day").parquet(self._store(ctx))
                    else:
                        merge_upsert_partitioned(
                            ctx.spark, self._store(ctx), rows, ["event_id"], ["day"]
                        )
                inv["build_jobs"] = 0
                for view, fn in self.VIEWS.items():
                    jobs = tr.jobs_so_far()
                    with tr.span("plans.build"):
                        df = fn(ctx.spark, self._dirs(ctx)[view])
                    inv["build_jobs"] += tr.jobs_so_far() - jobs
                    with tr.span("spark.exec"):
                        _noop(df)
                if tr.enabled:
                    new = set(self._files(ctx).items()) - set(before.items())
                    inv["files_written"] = len(new)
                    inv["bytes_written"] = sum(size for _, (size, _) in new)
            self.applied.append(b)
        except Exception as exc:
            ctx.fail(f"{phase} batch {b}", exc)

    def warm(self, ctx: Ctx) -> None:
        # Batch 0 creates every table, batch 1 is the first real upsert;
        # batch latency kept falling until about the fifth batch.
        for _ in range(self.WARM_BATCHES):
            self._batch(ctx, "warm")

    def op_pass(self, ctx: Ctx, pass_no: int) -> int:
        if self.next_batch == gen.N_BATCHES:
            return 0  # every pre-generated batch is in
        self._batch(ctx, "timed")
        return 1

    def _files(self, ctx: Ctx) -> dict[str, tuple[int, int]]:
        """path -> (size, mtime_ns) of every file under the written dirs."""
        out = {}
        for root in [*self._dirs(ctx).values(), self._store(ctx)]:
            for p in Path(root).rglob("*"):
                if p.is_file():
                    st = p.stat()
                    out[str(p)] = (st.st_size, st.st_mtime_ns)
        return out

    def stored_ratio(self, ctx: Ctx) -> float:
        """Bytes on disk under the serving and store dirs over the bytes
        of the batch files folded in."""
        stored = sum(size for size, _ in self._files(ctx).values())
        return stored / sum(
            (gen.batch_dir(ctx.inputs, b) / "events.parquet").stat().st_size
            for b in self.applied
        )

    def check(self, ctx: Ctx) -> None:
        if not self.applied:
            ctx.fail("check", "no batch was applied")
            return
        last = self.applied[-1]
        ev = events_table(ctx.spark, str(gen.batch_dir(ctx.inputs, last)))
        for table in self._dirs(ctx):
            ctx.attempted += 1
            try:
                if self._apply(ctx, table, ev, last) is not False:
                    ctx.fail(f"replay {table}", f"batch {last} applied twice")
            except Exception as exc:
                ctx.fail(f"replay {table}", exc)

        files = ", ".join(
            f"'{gen.batch_dir(ctx.inputs, b)}/events.parquet'" for b in self.applied
        )
        con = _duck({"events": f"read_parquet([{files}])"})
        oracles, d = entry.oracle_sql(), self._dirs(ctx)
        spark = ctx.spark
        served = {
            "user_counts_streamed_parity": lambda *_: spark.read.parquet(
                d["user_counts"]
            ).select("user_id", "n_events", "value_fp"),
            "trending_streamed_parity": lambda *_: self.VIEWS["trending"](
                spark, d["trending"]
            ).select("window_start", "event_type", "events", "rnk"),
            "kmv_streamed_parity": lambda *_: self.VIEWS["kmv"](spark, d["kmv"]),
            "ohlc_streamed_parity": lambda *_: self.VIEWS["ohlc"](spark, d["ohlc"]),
        }
        checks = {name: (fn, oracles[name]) for name, fn in served.items()}
        checks["store"] = (
            lambda *_: spark.read.parquet(self._store(ctx)),
            "SELECT *, CAST(ts AS DATE) AS day FROM events",
        )
        for name, (fn, oracle) in checks.items():
            ctx.attempted += 1
            try:
                problems = compare_query(spark, con, fn, oracle, "")
            except Exception as exc:
                problems = [repr(exc)]
            if problems:
                ctx.fail(f"check {name}", problems)


WORKLOADS = {
    "star_olap": lambda: QueryWorkload(STAR_OLAP),
    "curation": lambda: QueryWorkload(CURATION),
    "ingest_serve": IngestServe,
}


def timed_loop(wl, ctx: Ctx, seconds: float, on_pass, min_passes: int = 1) -> float:
    """Closed loop: whole passes until ``seconds`` have elapsed, so every
    run times a balanced mix. Returns the wall seconds taken."""
    start, pass_no = time.perf_counter(), 0
    while pass_no < min_passes or time.perf_counter() - start < seconds:
        on_pass(pass_no)
        if not wl.op_pass(ctx, pass_no):
            break
        pass_no += 1
    return time.perf_counter() - start
