"""The benchmark's workloads. Each has `setup()` (timed into `setup_s`) and
`measure()`, which runs ops until `ctx.seconds` have passed and returns the
op samples. Every op's output is checked outside its timed region.

Sizes are scaled to fit the benchmark's time budget on a 4-core machine:
`SIZES["full"]` is what the benchmark measures, `SIZES["tiny"]` is what the
self-test runs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gc
import os
import random
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

from checks import accuracy_check, log_file_count, normalize, packed_digest, rows_match, table_snapshots
from corpus import EVAL_ID_OFFSET, eval_ids, write_documents
from meter import CpuWindow
from spans import CURATE_STAGES, PANELS

from weather_data_warehouse_aws_spark.pipeline import analytics, curate, sql_views, views
from weather_data_warehouse_aws_spark.pipeline import run as run_mod
from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze
from weather_data_warehouse_aws_spark.sources.tables import load_table

SIZES = {
    # history_days: days of bronze the warehouse is pre-built from (two
    # extractions a day, 8 cities, 40 forecast points per city and
    # extraction); corpus_docs: documents the curation op processes
    "full": {"history_days": 4, "corpus_docs": 600},
    "tiny": {"history_days": 3, "corpus_docs": 200},
}

# full collections before the live heap is read, and the pause after each
HEAP_SETTLE_ROUNDS = 5
HEAP_SETTLE_S = 0.25

START = dt.date(2024, 1, 1)
EXTRACTIONS_PER_DAY = 2
DASHBOARD_CLIENTS = 4


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    size: dict
    tracer: object = None

    def span(self, name: str, op: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op)

    def heap_live_mb(self) -> float:
        """JVM heap in use once garbage has settled. Python's collector
        first drops the py4j handles the ops left behind. Then the heap is
        collected HEAP_SETTLE_ROUNDS times, HEAP_SETTLE_S apart: each full
        collection lets Spark's context cleaner release the broadcast and
        shuffle state the previous one freed, so the heap shrinks in steps
        (measured: it was flat after at most 4 rounds)."""
        sc = self.spark.sparkContext
        gc.collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        for _ in range(HEAP_SETTLE_ROUNDS):
            sc._jvm.System.gc()
            time.sleep(HEAP_SETTLE_S)
        sc._jvm.System.gc()
        usage = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return usage.getUsed() / 2**20

    def resolve(self) -> None:
        if self.tracer is not None:
            self.tracer.resolve_counts()


@dataclass
class Sample:
    op: str
    latency_s: float
    ok: bool
    cpu: dict
    error: str | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class Outcome:
    samples: list[Sample]
    ops_per_s: float
    summary: dict  # workload-specific end-to-end values
    units: dict = field(default_factory=dict)  # per-unit layer values


def _failure(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()


def _dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _dir_bytes(root: str) -> int:
    return sum(size for size, _ in _dir_files(root).values())


def _noon(day: dt.date) -> dt.datetime:
    return dt.datetime.combine(day, dt.time(12))


class DailyCycle:
    """One op is one day in the warehouse's life: load the next day's bronze
    into the warehouse (`run_pipeline`), then DASHBOARD_CLIENTS dashboard
    clients, each in its own Spark session, concurrently pin the newly
    published snapshot and render the six panels in a seeded order. The op
    ends when the last client is done. The warehouse is pre-built from
    `history_days` of seeded bronze, and days load consecutively."""

    # ops get faster for several ops while the JIT compiles, so a run
    # measures a fixed number of them unless the host is fast enough to fit
    # more into `seconds`: a time limit alone let the count, and so the
    # median, flip with the host's speed
    MIN_OPS = 2

    def setup(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "warehouse")
        hist = os.path.join(ctx.work, "bronze", "history")
        days = ctx.size["history_days"]
        generate_bronze(hist, start=START, days=days,
                        extractions_per_day=EXTRACTIONS_PER_DAY, seed=ctx.seed)
        self.last_day = START + dt.timedelta(days=days - 1)
        run_mod.run_pipeline(ctx.spark, hist, self.dir, effective_date=self.last_day,
                             now=_noon(self.last_day))
        self.ingested_bytes = _dir_bytes(hist)
        self.clients = [
            (ctx.spark.newSession(), random.Random(ctx.seed * 1000 + c))
            for c in range(DASHBOARD_CLIENTS)
        ]
        self.reference_session = ctx.spark.newSession()

    def _pin(self, session):
        """Pin the published snapshot in `session`; returns the DataFrames
        the DataFrame-API panels read and the snapshot-open latency."""
        t0 = time.perf_counter()
        snap = run_mod.read_gold_snapshot(session, self.dir)
        opened = time.perf_counter() - t0
        facts = views.register_fact_views(
            session, snap["silver_current"], snap["silver_forecast"],
            snap["dim_location"], snap["dim_date"],
        )
        # the accuracy panels read the materialized fact, as after a load
        snap["fact_forecast_accuracy"].createOrReplaceTempView("fact_forecast_accuracy")
        return {"actual": facts["fact_weather_actual"], "dim_location": snap["dim_location"]}, opened

    def _panel(self, session, pinned, panel: str):
        if panel == "current_summary":
            return sql_views.run_sample_query(session, panel, as_of=self.last_day.isoformat())
        if panel == "condition_distribution":
            return analytics.condition_distribution(pinned["actual"], pinned["dim_location"])
        if panel == "daily_temperature_trend":
            return analytics.daily_temperature_trend(pinned["actual"], pinned["dim_location"])
        return sql_views.run_sample_query(session, panel)

    def _page_view(self, c: int, op_id: str, out: dict) -> None:
        session, rng = self.clients[c]
        try:
            with self.ctx.span("run.page_view", f"{op_id}/c{c}"):
                pinned, opened = self._pin(session)
                t0 = time.perf_counter()
                results = {}
                for panel in rng.sample(PANELS, len(PANELS)):
                    with self.ctx.span(f"query.{panel}"):
                        results[panel] = self._panel(session, pinned, panel).collect()
            out[c] = {"open_s": opened, "view_s": time.perf_counter() - t0,
                      "results": results}
        except Exception as exc:  # a failed page view fails its op
            out[c] = {"error": _failure(exc)}

    def _cycle(self, op_id: str) -> Sample:
        ctx = self.ctx
        day = self.last_day + dt.timedelta(days=1)
        bronze = os.path.join(ctx.work, "bronze", day.isoformat())
        generate_bronze(bronze, start=day, days=1, extractions_per_day=EXTRACTIONS_PER_DAY,
                        seed=ctx.seed * 100_003 + (day - START).days)
        in_bytes = _dir_bytes(bronze)
        before = _dir_files(self.dir)
        self.last_day = day  # the page views' `current_summary` date
        pages: dict[int, dict] = {}
        cpu = CpuWindow()
        cpu.start()
        t0 = time.perf_counter()
        error = None
        try:
            with ctx.span("run.op", op_id):
                run_mod.run_pipeline(ctx.spark, bronze, self.dir, effective_date=day,
                                     now=_noon(day))
                load_s = time.perf_counter() - t0
                with ctx.span("query.page_views"):
                    threads = [
                        threading.Thread(target=self._page_view, args=(c, op_id, pages),
                                         name=f"dashboard-client-{c}")
                        for c in range(DASHBOARD_CLIENTS)
                    ]
                    for t in threads:
                        t.start()
                    for t in threads:
                        t.join()
        except Exception as exc:  # an op that raises counts as failed
            error = _failure(exc)
        latency = time.perf_counter() - t0
        usage = cpu.stop()
        self.ingested_bytes += in_bytes
        after = _dir_files(self.dir)
        written = sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))
        extra = {
            "write_amp": written / in_bytes,
            "space_amp": sum(size for size, _ in after.values()) / self.ingested_bytes,
            "txlog.bytes_written": written,
        }
        if error is None:
            error = next((p["error"] for p in pages.values() if "error" in p), None)
        if error is None:
            extra["load_ms"] = load_s * 1000.0
            extra["page_view_ms"] = [p["view_s"] * 1000.0 for p in pages.values()]
            extra["snapshot_open_ms"] = [p["open_s"] * 1000.0 for p in pages.values()]
            try:
                error = self._check(op_id, pages, extra)
            except Exception as exc:  # any failure to verify fails the op
                error = _failure(exc)
        ctx.resolve()
        return Sample(op_id, latency, error is None, usage, error, extra)

    def _check(self, op_id: str, pages: dict, extra: dict) -> str | None:
        """The accuracy fact against DuckDB, and every client's panels
        against a single-threaded reference on the same snapshot."""
        snaps = table_snapshots(self.dir, lambda name: self.ctx.span(name, op_id))
        committed = accuracy_check(snaps)
        extra["views.accuracy_rows"] = committed["rows"]
        extra["txlog.live_files"] = sum(len(s["files"]) for _, s in snaps.values())
        extra["txlog.log_files"] = sum(log_file_count(p) for p, _ in snaps.values())
        session = self.reference_session
        pinned, _ = self._pin(session)
        for panel in PANELS:
            want = normalize(self._panel(session, pinned, panel).collect())
            for c, page in sorted(pages.items()):
                if not rows_match(normalize(page["results"][panel]), want):
                    return f"client {c} {panel}: result differs from the reference"
        return None

    def measure(self) -> Outcome:
        samples = _sequential(self.ctx, self._cycle, self.MIN_OPS)
        ok = [s.extra for s in samples if "load_ms" in s.extra]

        def med(key):
            vals = [v for e in ok for v in (e[key] if isinstance(e[key], list) else [e[key]])]
            return statistics.median(vals) if vals else float("nan")

        units = {
            s.op: {k: v for k, v in s.extra.items() if k.startswith(("txlog.", "views."))}
            for s in samples
        }
        return Outcome(samples, _rate(samples), {
            "load_p50_ms": med("load_ms"),
            "page_view_p50_ms": med("page_view_ms"),
            "snapshot_open_p50_ms": med("snapshot_open_ms"),
            "write_amp": med("write_amp"),
            "space_amp": samples[-1].extra["space_amp"],
        }, units)


class Curation:
    """One op curates the seeded corpus (1 % of it doubling as the eval
    slice), counts the packed output and releases the curation's caches."""

    MIN_OPS = 3  # see DailyCycle.MIN_OPS

    def setup(self, ctx: Ctx) -> None:
        self.ctx = ctx
        n_docs = ctx.size["corpus_docs"]
        corpus_dir = os.path.join(ctx.work, "corpus")
        write_documents(corpus_dir, n_docs, ctx.seed)
        from pyspark.sql import functions as F

        self.docs = load_table(ctx.spark, corpus_dir, "documents")
        self.eval_docs = self.docs.filter(F.col("doc_id").isin(eval_ids(n_docs, ctx.seed))).select(
            (F.col("doc_id") + EVAL_ID_OFFSET).alias("doc_id"), "text"
        )
        self.digest = None
        warm = self._curate("warmup")
        if not warm.ok:
            raise RuntimeError(f"curation warm-up op failed: {warm.error}")

    def _curate(self, op_id: str) -> Sample:
        ctx = self.ctx
        cpu = CpuWindow()
        cpu.start()
        t0 = time.perf_counter()
        error, digest, extra = None, None, {}
        try:
            with ctx.span("run.op", op_id):
                stages = curate.curate_corpus(self.docs, eval_docs=self.eval_docs)
                try:
                    if ctx.tracer is not None:
                        extra = self._count_stages(stages)
                    with ctx.span("curate.packed"):
                        # counts packed; the digest rides the same job
                        digest = packed_digest(stages["packed"])
                finally:
                    curate.release_curation(stages)
        except Exception as exc:  # an op that raises counts as failed
            error = _failure(exc)
        latency = time.perf_counter() - t0
        usage = cpu.stop()
        if error is None:
            if digest[0] == 0:
                error = "packed output is empty"
            elif self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                error = f"packed digest {digest} != first op's {self.digest}"
        ctx.resolve()
        return Sample(op_id, latency, error is None, usage, error, extra)

    def _count_stages(self, stages) -> dict:
        """Traced run only: count each stage in lineage order, so each
        span's time is what that stage adds over the ones before it."""
        counts = {}
        for stage in CURATE_STAGES[:-1]:
            if stage == "survivors":
                with self.ctx.span("curate.count_dup_pairs"):
                    counts["dup_pairs"] = stages["dup_pairs"].count()
            with self.ctx.span(f"curate.{stage}"):
                counts[stage] = stages[stage].count()
        return {
            "curate.dup_pairs": counts["dup_pairs"],
            "curate.survivor_ratio": counts["survivors"] / counts["cleaned"],
        }

    def measure(self) -> Outcome:
        samples = _sequential(self.ctx, self._curate, self.MIN_OPS)
        return Outcome(samples, _rate(samples), {},
                       {s.op: s.extra for s in samples})


def _rate(samples: list[Sample]) -> float:
    """Ops per second of op time (checks between ops excluded)."""
    return len(samples) / sum(s.latency_s for s in samples)


def _sequential(ctx: Ctx, op, min_ops: int) -> list[Sample]:
    """Run ops one after another until their timed parts add up to
    `ctx.seconds` and at least `min_ops` have run; checks between ops are
    not counted."""
    samples: list[Sample] = []
    while len(samples) < min_ops or sum(s.latency_s for s in samples) < ctx.seconds:
        samples.append(op(f"op{len(samples)}"))
    return samples


WORKLOADS = {"daily_cycle": DailyCycle, "curation": Curation}
