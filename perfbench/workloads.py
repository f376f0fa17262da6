"""Workloads: seeded inputs, the closed-loop job, oracle twins and the
extra layer measurements of a traced run.

Every workload is a closed loop with one client: the next job starts
after the previous one returns. A job builds its DataFrames through the
engine's public entry points only (the ``__spark_entry__.queries()``
registry, ``processed_ticks`` and operator functions with their required
arguments) and writes each to parquet. Build time (constructing the
DataFrame, including any Spark work the engine runs eagerly while doing
so) and run time (the parquet write) are timed separately.
"""

from __future__ import annotations

import random
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tickdatapipeline_spark.operators.bars import bar_aggregate
from tickdatapipeline_spark.operators.dedup import (
    BAND_SIZE,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import hot_loop
from tickdatapipeline_spark.oracle import bars_ctes, pipeline_ctes
from tickdatapipeline_spark.plans.common import (
    BP_FIR,
    SP_CPM,
    processed_ticks,
    ticks_cache_info,
)
from tickdatapipeline_spark.sources.tickfile import ticks_from_events

import gen
from check import OracleCache, digest_parquet, parquet_columns
from tracing import COUNTED_OPS, ROW_OPS, TIMED_OPS, Counters, StatusStore, Tracer

MB = float(2**20)

# tick_etl: one stream of 100 k events. That is below the engine's 500 k
# two-pass cutover, so the engine's own size rule picks the windowed
# posture: a two-pass job at the cutover takes 30-40 s on 4 cores, so a
# run could time only one, and one sample a run is too noisy on a shared
# host. The tick fixture derives every tick from event_id alone, so the
# seed varies only the other event columns.
TICK_EVENTS = 100_000
TICK_JOB_SLOT_S = 9.0  # 3 jobs a 27 s run; a warm job takes 5-8 s on 4 cores
# traced runs of dedup_curation also time the analysis queries over a
# staged 50 k-event tick table (below the cutover, so the chain is
# windowed): the analysis layer has no workload of its own, and
# dedup_curation's traced run is the shorter one
ANALYTICS_EVENTS = 50_000
ANALYTICS_QUERIES = [
    "q1_delta_stats", "q2_percentiles", "q3_zero_share", "q4_threshold_sweep",
    "q5_winsorize_reco", "q6_sigma_buckets", "q7_price_range", "q9_range_slice",
    "q10_bar_audit", "bars_boxcar", "bars_fir", "ticks_enriched",
]
# dedup_curation: Zipf-vocabulary corpus with a 10 % near-duplicate
# share. On 1 k documents the job was planning-bound (core_util 0.30),
# and a host that stole 5-10 % of the CPU slowed it by up to 75 %; on
# 5 k, data work is a larger share of it (core_util 0.59).
DEDUP_DOCS = 5_000
DEDUP_JOB_SLOT_S = 13.5  # 2 jobs a 27 s run; a warm job takes 9-11 s
DEDUP_QUERIES = ["dedup_lsh_candidates", "dedup_decontaminate"]
DEDUP_GEN = dict(vocab=5000, min_len=20, max_len=80, near_dup_share=0.1)
DOC_COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]

TICK_LAYERS = ["sources.run_s", "sources.rows", "expansion.run_s", "expansion.ratio",
               "hotloop.run_s", "bars.run_s"]
DEDUP_LAYERS = ["dedup.shingle_s", "dedup.band_s", "dedup.candidate_s", "dedup.verify_s",
                "dedup.candidates", "dedup.useful_ratio", "dedup.max_band_bucket"]
JOB_LAYERS = [
    "plans.build_s", "plans.build_executions", "plans.build_executor_s",
    "sink.run_s", "sink.rows_out", "sink.bytes_out",
    "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.core_util",
    "spark.spill_mb", "spark.gc_s", "spark.shuffle_write_mb", "spark.pinned_mb",
    "plans.ticks_cache_mb",
] + [f"op.{k}.time_s" for k in TIMED_OPS] + [f"op.{k}.rows" for k in ROW_OPS] + [
    f"op.{k}.nodes" for k in COUNTED_OPS]
QUERY_LAYERS = [f"query.{q}.{p}" for q in ANALYTICS_QUERIES for p in ("build_s", "run_s")]
TRACE_LAYERS = ["jvm.peak_rss_mb", "trace.job_s", "trace.overhead_s"]
PER_LAYER = JOB_LAYERS + TICK_LAYERS + DEDUP_LAYERS + QUERY_LAYERS + TRACE_LAYERS


@dataclass
class Sink:
    """One DataFrame a job writes, with the DuckDB twin of its output.
    ``oracle_sql`` gets the written column names."""
    name: str
    build: Callable[[], DataFrame]
    oracle_sql: Callable[[list[str]], str]
    oracle_inputs: dict[str, tuple[Path, list[str]]]


@dataclass
class Job:
    label: str
    build_s: float = 0.0
    run_s: float = 0.0
    outputs: list[tuple[Sink, Path]] = field(default_factory=list)
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.build_s + self.run_s


@dataclass
class Outcome:
    """What a workload hands back to the reporter: ``timed`` are the
    closed-loop jobs the end-to-end metrics come from."""
    setup_s: float
    timed: list[Job]
    rows_in: int
    layers: dict[str, float] = field(default_factory=dict)


class Runner:
    """Runs jobs on one session and keeps every job it ran, so that all
    of their outputs get checked. Spans are kept around each build and
    each write; with ``traced`` it also reads status-store counters
    around them."""

    def __init__(self, spark: SparkSession, work: Path, cores: int, traced: bool):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.traced = traced
        self.tracer = Tracer()
        self.store = StatusStore(spark) if traced else None
        self.jobs: list[Job] = []

    def out_dir(self, label: str) -> Path:
        return self.work / "out" / label

    def run_job(self, label: str, sinks: list[Sink]) -> Job:
        job = Job(label)
        self.jobs.append(job)
        store, tracer = self.store, self.tracer
        # status-store marks only in a traced run; spans always
        mark = store.mark if store is not None else lambda: None
        builds = []
        try:
            with tracer.span("job", job=label):
                first = mark()
                for sink in sinks:
                    out = self.out_dir(f"{label}-{sink.name}")
                    m0 = mark()
                    with tracer.span(f"build:{sink.name}") as sb:
                        df = sink.build()
                    m1 = mark()
                    with tracer.span(f"sink:{sink.name}") as sr:
                        df.write.mode("overwrite").parquet(str(out))
                    job.build_s += sb.seconds
                    job.run_s += sr.seconds
                    job.outputs.append((sink, out))
                    builds.append((m0, m1))
            if store is not None:
                pinned = store.stored_bytes()
                total, *per_build = store.counters((first, store.mark()), *builds)
                job.layers = self._layers(job, total, per_build, pinned)
        except Exception as exc:  # noqa: BLE001 — a failed job is counted, the loop goes on
            job.error = f"{type(exc).__name__}: {exc}"[:500]
        return job

    def _layers(self, job: Job, total: Counters, per_build: list[Counters],
                pinned: float) -> dict[str, float]:
        rows = sum(pq.ParquetDataset(str(o)).read(columns=[]).num_rows for _, o in job.outputs)
        size = sum(f.stat().st_size for _, o in job.outputs for f in o.glob("*.parquet"))
        layers = {
            "plans.build_s": job.build_s,
            "plans.build_executions": sum(c.executions for c in per_build),
            "plans.build_executor_s": sum(c.executor_run_s for c in per_build),
            "sink.run_s": job.run_s,
            "sink.rows_out": rows,
            "sink.bytes_out": size,
            "spark.stages": total.stages,
            "spark.tasks": total.tasks,
            "spark.executor_run_s": total.executor_run_s,
            "spark.core_util": total.executor_run_s / (job.seconds * self.cores),
            "spark.spill_mb": total.spill_bytes / MB,
            "spark.gc_s": total.gc_s,
            "spark.shuffle_write_mb": total.shuffle_write_bytes / MB,
            "spark.pinned_mb": pinned / MB,
            "trace.job_s": job.seconds,
        }
        for k in TIMED_OPS:
            layers[f"op.{k}.time_s"] = total.op_time_s.get(k, 0.0)
        for k in ROW_OPS:
            layers[f"op.{k}.rows"] = total.op_rows.get(k, 0.0)
        for k in COUNTED_OPS:
            layers[f"op.{k}.nodes"] = total.op_nodes.get(k, 0)
        return layers

    def loop(self, sinks: Callable[[], list[Sink]], seconds: float,
             slot_s: float) -> list[Job]:
        """Closed loop: issue one job per ``slot_s`` of ``seconds`` (at
        least two), each after the previous one returns. Returns the
        second half of the jobs, which the metrics come from: the JIT is
        still warming up through the first half, whose jobs ran 10 to
        40 % slower on 4 cores. The count does not follow the host's
        speed: a count that grew on a fast host would move the median
        along that warm-up curve."""
        n = max(2, round(seconds / slot_s))
        jobs = [self.run_job(f"job{i}", sinks()) for i in range(n)]
        return jobs[n // 2:]

    def stage(self, name: str, build: Callable[[], DataFrame]) -> tuple[DataFrame, float]:
        """Build one stage of a staged chain and write it to parquet;
        return the re-read frame and the build-plus-write time."""
        out = self.out_dir(f"stage-{name}")
        with self.tracer.span(f"stage:{name}", job="staged") as s:
            build().write.mode("overwrite").parquet(str(out))
        return self.spark.read.parquet(str(out)), s.seconds


def job_layers(jobs: list[Job]) -> dict[str, float]:
    """Per-job layer values -> their median over the run's jobs."""
    done = [j for j in jobs if j.layers]
    if not done:
        return {}
    return {k: statistics.median(j.layers[k] for j in done) for k in done[0].layers}


# ---- tick_etl --------------------------------------------------------------


def _bars_sql(cols: list[str]) -> str:
    return (f"WITH {pipeline_ctes(SP_CPM)}, {bars_ctes(SP_CPM, BP_FIR)} "
            f"SELECT {', '.join(cols)} FROM bars_out")


def _etl_sinks(spark: SparkSession, events_dir: Path) -> list[Sink]:
    return [Sink(
        "bars",
        lambda: bar_aggregate(processed_ticks(spark, str(events_dir), SP_CPM), BP_FIR),
        _bars_sql,
        {"events": (events_dir / "events.parquet", ["event_id"])},
    )]


def _registry_sinks(spark: SparkSession, data_dir: Path, names: list[str],
                    inputs: dict[str, tuple[Path, list[str]]]) -> list[Sink]:
    queries, oracles = entry.queries(), entry.oracle_sql()
    return [Sink(n, lambda n=n: queries[n](spark, str(data_dir)),
                 lambda _cols, n=n: oracles[n], inputs) for n in names]


def tick_etl(runner: Runner, seed: int, seconds: float, t_start: float) -> Outcome:
    spark, work = runner.spark, runner.work
    events_dir = work / "events"
    gen.write_events(events_dir, TICK_EVENTS, seed)
    # warm-up: the first, cold job on the same input (JVM, codegen,
    # scheduler); a warm-up on a smaller input leaves the next jobs
    # about 40 % slower than later ones
    runner.run_job("warmup", _etl_sinks(spark, events_dir))
    setup_s = time.perf_counter() - t_start
    jobs = runner.loop(lambda: _etl_sinks(spark, events_dir), seconds, TICK_JOB_SLOT_S)
    layers = job_layers(jobs)
    if runner.traced:
        layers.update(_tick_chain(runner, events_dir))
    return Outcome(setup_s, jobs, TICK_EVENTS, layers)


def _tick_chain(runner: Runner, events_dir: Path) -> dict[str, float]:
    """source -> expand -> hot loop -> bars, each public operator called
    with its required arguments on the previous stage's parquet copy.
    Without ``chunk_size`` the operators take the windowed posture, the
    one the job's ``processed_ticks`` picks at this size."""
    spark = runner.spark
    raw, t_src = runner.stage("sources", lambda: ticks_from_events(spark, str(events_dir)))
    expanded, t_exp = runner.stage("expansion", lambda: expand_volume(raw))
    ticks, t_hot = runner.stage("hotloop", lambda: hot_loop(expanded, SP_CPM))
    _, t_bars = runner.stage("bars", lambda: bar_aggregate(ticks, BP_FIR))
    n_raw, n_exp = raw.count(), expanded.count()
    # the staged bars are the job's output by another plan: check them too
    staged = Job("staged", outputs=[(_etl_sinks(spark, events_dir)[0],
                                     runner.out_dir("stage-bars"))])
    runner.jobs.append(staged)
    return {"sources.run_s": t_src, "sources.rows": n_raw, "expansion.run_s": t_exp,
            "expansion.ratio": n_exp / n_raw, "hotloop.run_s": t_hot, "bars.run_s": t_bars}


def _analytics(runner: Runner, seed: int) -> dict[str, float]:
    """Stage processed ticks once, then build and write each analysis
    query over the staged table in a seeded order."""
    spark = runner.spark
    data_dir = runner.work / "analytics"
    gen.write_events(data_dir, ANALYTICS_EVENTS, seed + 2)
    with runner.tracer.span("stage:processed_ticks", job="analytics"):
        processed_ticks(spark, str(data_dir)).count()
    cache = sum(e["mem_bytes"] + e["disk_bytes"] for e in ticks_cache_info(spark))
    order = list(ANALYTICS_QUERIES)
    random.Random(seed).shuffle(order)
    inputs = {"events": (data_dir / "events.parquet", ["event_id"])}
    layers: dict[str, float] = {"plans.ticks_cache_mb": cache / MB}
    for sink in _registry_sinks(spark, data_dir, order, inputs):
        job = runner.run_job(f"query-{sink.name}", [sink])
        layers[f"query.{sink.name}.build_s"] = job.build_s
        layers[f"query.{sink.name}.run_s"] = job.run_s
    return layers


# ---- dedup_curation --------------------------------------------------------


def dedup_curation(runner: Runner, seed: int, seconds: float, t_start: float) -> Outcome:
    spark, work = runner.spark, runner.work
    docs_dir = work / "docs"
    gen.write_documents(docs_dir, DEDUP_DOCS, seed, **DEDUP_GEN)
    inputs = {"documents": (docs_dir / "documents.parquet", DOC_COLUMNS)}

    def sinks() -> list[Sink]:
        return _registry_sinks(spark, docs_dir, DEDUP_QUERIES, inputs)

    # warm-up: the first, cold job on the same input (JVM, codegen, scheduler)
    runner.run_job("warmup", sinks())
    setup_s = time.perf_counter() - t_start
    jobs = runner.loop(sinks, seconds, DEDUP_JOB_SLOT_S)
    layers = job_layers(jobs)
    if runner.traced:
        layers.update(_dedup_chain(runner, docs_dir, inputs))
        layers.update(_analytics(runner, seed))
    return Outcome(setup_s, jobs, DEDUP_DOCS, layers)


def _dedup_chain(runner: Runner, docs_dir: Path,
                 inputs: dict[str, tuple[Path, list[str]]]) -> dict[str, float]:
    """shingle -> band -> candidate join -> verify. The public dedup
    operators each start from the documents, so every stage time below
    includes that operator's own shingling; only verification takes the
    previous stage (the materialized candidates) as input."""
    spark = runner.spark
    docs = spark.read.parquet(str(docs_dir / "documents.parquet"))
    _, t_sh = runner.stage("shingles", lambda: shingles(docs))
    sigs, t_band = runner.stage("signatures", lambda: minhash_signatures(docs))
    cands, t_cand = runner.stage("candidates", lambda: lsh_candidate_pairs(docs))
    verified, t_ver = runner.stage("verified", lambda: jaccard_pairs(docs, candidates=cands))
    n_cand, n_ver = cands.count(), verified.count()
    # band buckets as LSH forms them: docs whose BAND_SIZE consecutive
    # signature lanes all agree share a bucket
    band_keys = sigs.groupBy("doc_id", (F.col("j") / BAND_SIZE).cast("int").alias("band")).agg(
        F.sort_array(F.collect_list(F.struct("j", "sig"))).alias("key"))
    max_bucket = band_keys.groupBy("band", "key").count().agg(F.max("count")).first()[0]
    # no bucket reaches the default cap here, so the capped candidates
    # must equal the exhaustive registry query's oracle
    sink = _registry_sinks(spark, docs_dir, ["dedup_lsh_candidates"], inputs)[0]
    runner.jobs.append(Job("staged", outputs=[(sink, runner.out_dir("stage-candidates"))]))
    return {"dedup.shingle_s": t_sh, "dedup.band_s": t_band, "dedup.candidate_s": t_cand,
            "dedup.verify_s": t_ver, "dedup.candidates": n_cand,
            "dedup.useful_ratio": n_ver / n_cand if n_cand else 0.0,
            "dedup.max_band_bucket": max_bucket}


WORKLOADS = {"tick_etl": tick_etl, "dedup_curation": dedup_curation}


def verify(jobs: list[Job], oracle: OracleCache) -> int:
    """Check every output of every job against its oracle digest; record
    the first problem on the job. Returns the number of failed jobs."""
    failed = 0
    for job in jobs:
        for sink, out in job.outputs:
            if job.error:
                break
            try:
                got = digest_parquet(out)
                want = oracle.digest(sink.oracle_sql(parquet_columns(out)), sink.oracle_inputs)
                if got != want:
                    job.error = f"{sink.name}: spark {got} != oracle {want}"
            except Exception as exc:  # noqa: BLE001 — a failed check is a failed job
                job.error = f"{sink.name}: {type(exc).__name__}: {exc}"[:500]
        failed += job.error is not None
    return failed
