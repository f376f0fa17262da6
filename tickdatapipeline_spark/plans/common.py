"""Shared helpers for the query surface.

Cross-engine float policy: every float column that crosses the oracle
boundary is rounded with ``rnd`` — floor(x*10^d + 0.5)/10^d — pure IEEE
double arithmetic that evaluates identically in Spark and DuckDB (unlike
round(), whose tie-handling routes differ between BigDecimal-on-shortest-
repr and multiply-then-nearbyint). Columns produced purely by +,-,*,/
on identical inputs are already bit-identical and may skip rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tickdatapipeline_spark.config import BarProcessingConfig, SignalProcessingConfig
from tickdatapipeline_spark.operators.bars import bar_aggregate
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.globalorder import GO_CHUNK
from tickdatapipeline_spark.operators.hotloop import hot_loop
from tickdatapipeline_spark.sources.tickfile import ticks_from_events

# configs mirroring the shipped default TOML
# (/root/reference/config/pipeline/default.toml)
SP_DERIV = SignalProcessingConfig(encoder_type="derivative", tick_derivative_imag_scale=2.0,
                                  cpm_modulation_index=0.2)
SP_HEXAD = SignalProcessingConfig(encoder_type="hexad16")
SP_CPM = SignalProcessingConfig(encoder_type="cpm", cpm_modulation_index=0.2)
SP_AMC = SignalProcessingConfig(encoder_type="amc")
BP_BOX = BarProcessingConfig(enabled=True, ticks_per_bar=21, normalization_window_bars=120,
                             bar_method="boxcar")
BP_FIR = BarProcessingConfig(enabled=True, ticks_per_bar=5, normalization_window_bars=40,
                             bar_method="FIR")


from tickdatapipeline_spark.functions.rounding import rnd, sql_rnd  # noqa: E402,F401  (shared float policy)


# session-scoped persist cache: q1-q10 (and the bar suites) all recompute
# the same expand->hot-loop lineage; materializing it once per
# (session, sf_dir, config) cuts the whole analytics suite to one pipeline
# pass. Keyed by applicationId so entries die with their session.
# At deployment scale the equivalent is "write ticks_out to parquet once,
# point every analysis query at it" — and at sf10+ an unbounded persist
# cache is the first OOM candidate, so insertion is FIFO-capped: the
# oldest entry is unpersist()ed when the cap is exceeded (an evicted
# frame stays usable — later actions just recompute its lineage).
_TICKS_CACHE: dict[tuple, DataFrame] = {}
_CACHE_ENABLED = True
_CACHE_CAP = 4


def set_ticks_cache(enabled: bool) -> None:
    """Toggle the shared ticks materialization (bench.py measures the
    flagship pipeline queries with it OFF — true end-to-end chain cost —
    and the analytics suite with it ON — the staged-table shape)."""
    global _CACHE_ENABLED
    _CACHE_ENABLED = enabled


def set_ticks_cache_cap(n: int) -> None:
    """Max cached (session, sf_dir) entries before FIFO eviction."""
    global _CACHE_CAP
    _CACHE_CAP = max(int(n), 1)


def _cache_insert(key: tuple, df: DataFrame) -> None:
    app = key[0]
    # entries from dead sessions hold no storage but keep frame refs —
    # drop them on the next insert
    for k in [k for k in _TICKS_CACHE if k[0] != app]:
        del _TICKS_CACHE[k]
    while len(_TICKS_CACHE) >= _CACHE_CAP:
        old = next(iter(_TICKS_CACHE))
        _TICKS_CACHE.pop(old).unpersist()
    _TICKS_CACHE[key] = df


def ticks_cache_info(spark: SparkSession) -> list[dict]:
    """Per-entry persisted bytes for the shared ticks cache (memory
    accounting, r04 verdict item 8): resolves each entry's cached
    column-buffer RDD through the session's CacheManager and reads its
    sizes from SparkContext storage info. `materialized` is False until
    the first action fills the persist."""
    infos = {
        i.id(): (i.memSize(), i.diskSize(), i.numCachedPartitions())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    cm = spark._jsparkSession.sharedState().cacheManager()
    out = []
    for (app, sf_dir), df in _TICKS_CACHE.items():
        entry = {"sf_dir": sf_dir, "application_id": app,
                 "mem_bytes": 0, "disk_bytes": 0, "materialized": False}
        try:
            cd = cm.lookupCachedData(df._jdf)
            if cd.isDefined():
                rid = (cd.get().cachedRepresentation()
                       .cacheBuilder().cachedColumnBuffers().id())
                if rid in infos:
                    m, d, p = infos[rid]
                    entry.update(mem_bytes=m, disk_bytes=d,
                                 materialized=p > 0)
        except Exception:
            pass  # py4j internals shifted — report the entry, sizes unknown
        out.append(entry)
    return out


_PLAIN_COLS = ["tick_idx", "timestamp", "raw_price", "price_delta",
               "sig_re", "sig_im", "normalization", "status_flag"]

# Single-stream global-order strategy (SURVEY §4 item 1): below the
# threshold the serial single-window plan wins outright (the stream fits
# one partition; the two-pass plan's ~30 extra scheduling-bound stages
# cost more than the whole query — measured 2.5 s vs 6.5-7.5 s at sf0.1,
# PERF.md r05); above it the windowed plan stops scaling and the chunked
# two-pass formulation (operators/globalorder.py — chunk-local window
# prefixes + in-plan broadcast offsets, zero SinglePartition exchanges)
# takes over. A deterministic size rule, same spirit as Spark's own
# broadcast-join threshold; both plans are bit-identical
# (tests/test_hotloop.py) and the scale plan's shape is pinned by
# tests/test_plan_shape.py via set_two_pass_threshold(0).
TWO_PASS_CHUNK = 8192
# measured crossover (PERF.md r05): 100K events — window 2.5 s vs
# two-pass 6.5 s; 1M — 15.0 vs 12.5; 4M — 96.6 vs 36.0 (2.7x)
TWO_PASS_MIN_EVENTS = 500_000
_TWO_PASS_THRESHOLD = TWO_PASS_MIN_EVENTS


def set_two_pass_threshold(n: int | None) -> None:
    """Override the two-pass cutover (tests / scale probes); None resets."""
    global _TWO_PASS_THRESHOLD
    _TWO_PASS_THRESHOLD = TWO_PASS_MIN_EVENTS if n is None else n


def _events_rows(sf_dir: str) -> int:
    """Row count from parquet footer metadata — no Spark job. Handles
    both a single file (driver testdata) and a directory of parts."""
    from pathlib import Path

    import pyarrow.parquet as pq

    p = Path(f"{sf_dir}/events.parquet")
    if p.is_dir():
        return sum(
            pq.ParquetFile(str(f)).metadata.num_rows for f in p.glob("*.parquet")
        )
    return pq.ParquetFile(str(p)).metadata.num_rows


def _chain(spark: SparkSession, sf_dir: str, sp: SignalProcessingConfig,
           keep_internals: bool) -> DataFrame:
    """Flagship chain; the one place the global-order posture is decided.

    Two-pass mode: the source stamps the ONE chunk column every operator
    downstream (bar_aggregate included) reads and keys its in-plan
    chunk-offset subquery on, so the chain pays a single full-data
    exchange and zero SinglePartition windows; chunk_size scales with
    the stream so #chunks stays O(10^4) — capped at 2^27 rows/chunk so
    the largest un-modded in-chunk accumulation (CPM phase deltas,
    |dp| < 2^35) stays below 2^62; past the cap #chunks grows instead,
    which the two-level offsets hierarchy absorbs to ~2^31 chunks
    (globalorder.MAX_SUPERS)."""
    n = _events_rows(sf_dir)
    if n < _TWO_PASS_THRESHOLD:
        return hot_loop(expand_volume(ticks_from_events(spark, sf_dir)), sp,
                        keep_internals=keep_internals)
    chunk = min(max(TWO_PASS_CHUNK, n // 10_000), 1 << 27)
    raw = ticks_from_events(spark, sf_dir, chunk_size=chunk)
    return hot_loop(
        expand_volume(raw, valid_price_range=(sp.min_price, sp.max_price)), sp,
        keep_internals=keep_internals,
    )


def processed_ticks(spark: SparkSession, sf_dir: str, sp: SignalProcessingConfig = SP_DERIV,
                    keep_internals: bool = False) -> DataFrame:
    """events -> ticks_raw -> expanded -> hot loop (the flagship chain);
    keeps the chain's chunk column (posture) when it has one."""
    if sp is not SP_DERIV or not _CACHE_ENABLED:
        # only the default config's lineage is shared across queries
        # (bars, enrichment, q1-q10); the other encoders are one-shot —
        # persisting them would cost a materialization nobody reuses
        return _chain(spark, sf_dir, sp, keep_internals)
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _TICKS_CACHE.get(key)
    if df is None:
        # materialize WITH internals: the plain shape is a strict column
        # subset, so one cached frame serves both callers
        df = _chain(spark, sf_dir, sp, keep_internals=True).persist()
        _cache_insert(key, df)
    plain = _PLAIN_COLS + ([GO_CHUNK] if GO_CHUNK in df.columns else [])
    return df if keep_internals else df.select(*plain)


def pipeline_bars(spark: SparkSession, sf_dir: str, bp: BarProcessingConfig,
                  sp: SignalProcessingConfig = SP_DERIV) -> DataFrame:
    return bar_aggregate(processed_ticks(spark, sf_dir, sp), bp)


def exact_percentiles(df: DataFrame, value_col: str, pcts: list[float],
                      out_value: str = "q") -> DataFrame:
    """Deterministic exact percentile with linear interpolation.

    rank = p*(n-1) (0-based); q = v[floor]+frac*(v[ceil]-v[floor]).
    Implemented with a row_number sort + two positional joins so both
    engines interpolate the exact same pair of values (percentile_approx
    / quantile_cont internals are not cross-engine reproducible).

    Scale note: this is a full sort of the value column — the exact
    formulation. At 100 TB you'd switch to percentile_approx; both are
    exposed (see q2_percentiles vs q2_percentiles_approx).
    """
    from pyspark.sql import Window

    # percentiles are over the NON-NULL values (standard semantics);
    # without the filter the two engines would rank NULLs on opposite
    # ends (Spark NULLS FIRST, DuckDB NULLS LAST) and interpolate
    # different pairs on any nullable input
    ranked = df.select(F.col(value_col).alias("_v")).where(
        F.col("_v").isNotNull()
    ).withColumn(
        "_r", F.row_number().over(Window.orderBy("_v")) - 1
    )
    from tickdatapipeline_spark.operators.globalorder import pin

    ranked = pin(ranked)  # consumed twice (lo + hi joins); DISK_ONLY — full-length frame
    n = ranked.count()
    pdf = df.sparkSession.createDataFrame([(p,) for p in pcts], "pct double")
    pos = pdf.select(
        "pct",
        (F.col("pct") * (n - 1)).alias("_rank"),
        F.floor(F.col("pct") * (n - 1)).cast("long").alias("_lo"),
        F.least(F.floor(F.col("pct") * (n - 1)).cast("long") + 1, F.lit(n - 1)).alias("_hi"),
    )
    lo = ranked.select(F.col("_r").alias("_lo"), F.col("_v").alias("_vlo"))
    hi = ranked.select(F.col("_r").alias("_hi"), F.col("_v").alias("_vhi"))
    out = (
        pos.join(lo, "_lo").join(hi, "_hi")
        .select(
            "pct",
            rnd(
                F.col("_vlo").cast("double")
                + (F.col("_rank") - F.col("_lo").cast("double"))
                * (F.col("_vhi").cast("double") - F.col("_vlo").cast("double"))
            ).alias(out_value),
        )
    )
    return out


def sql_exact_percentiles(source_sql: str, value_expr: str, pcts: list[float],
                          out_value: str = "q") -> str:
    """DuckDB twin of exact_percentiles (same interpolation arithmetic)."""
    pct_rows = ", ".join(f"({p!r}e0)" for p in pcts)
    q = (
        "_vlo + (_rank - CAST(_lo AS DOUBLE)) * (_vhi - _vlo)"
    )
    return f"""
WITH _src AS ({source_sql}),
_ranked AS (
    SELECT CAST({value_expr} AS DOUBLE) AS _v,
           row_number() OVER (ORDER BY CAST({value_expr} AS DOUBLE)) - 1 AS _r
    FROM _src WHERE {value_expr} IS NOT NULL
),
_n AS (SELECT count(*) AS n FROM _ranked),
_pos AS (
    SELECT pct, pct * (n - 1) AS _rank,
           CAST(floor(pct * (n - 1)) AS BIGINT) AS _lo,
           least(CAST(floor(pct * (n - 1)) AS BIGINT) + 1, n - 1) AS _hi
    FROM (VALUES {pct_rows}) p(pct), _n
)
SELECT pct, {sql_rnd(q)} AS {out_value}
FROM _pos
JOIN (SELECT _r AS _lo, _v AS _vlo FROM _ranked) USING (_lo)
JOIN (SELECT _r AS _hi, _v AS _vhi FROM _ranked) USING (_hi)
"""


def grouped_exact_percentiles(df: DataFrame, group_col: str, value_col: str,
                              pcts: list[float], out_value: str = "q") -> DataFrame:
    """Exact linear-interpolated percentiles PER GROUP — the at-scale
    counterpart of ``exact_percentiles``: ranking windows partition by
    the group key, so nothing is globally sorted and groups distribute
    across the cluster (the global variant's full sort is the one
    documented exact-by-design scale cost).

    Output: (group_col, pct, q) — one row per group x pct.
    """
    from pyspark.sql import Window

    # non-null values only — see exact_percentiles for the cross-engine
    # NULL-ordering rationale
    ranked = df.select(
        F.col(group_col), F.col(value_col).alias("_v")
    ).where(F.col("_v").isNotNull()).withColumn("_r", F.row_number().over(
        Window.partitionBy(group_col).orderBy("_v")) - 1
    ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(group_col)))
    from tickdatapipeline_spark.operators.globalorder import pin

    ranked = pin(ranked)  # consumed by both the lo and hi joins
    pdf = df.sparkSession.createDataFrame([(p,) for p in pcts], "pct double")
    pos = (
        ranked.select(group_col, "_n").distinct()
        .crossJoin(pdf)
        .select(
            group_col, "pct",
            (F.col("pct") * (F.col("_n") - 1)).alias("_rank"),
            F.floor(F.col("pct") * (F.col("_n") - 1)).cast("long").alias("_lo"),
            F.least(
                F.floor(F.col("pct") * (F.col("_n") - 1)).cast("long") + 1,
                F.col("_n") - 1,
            ).alias("_hi"),
        )
    )
    lo = ranked.select(group_col, F.col("_r").alias("_lo"), F.col("_v").alias("_vlo"))
    hi = ranked.select(group_col, F.col("_r").alias("_hi"), F.col("_v").alias("_vhi"))
    return (
        pos.join(lo, [group_col, "_lo"]).join(hi, [group_col, "_hi"])
        .select(
            group_col, "pct",
            rnd(
                F.col("_vlo").cast("double")
                + (F.col("_rank") - F.col("_lo").cast("double"))
                * (F.col("_vhi").cast("double") - F.col("_vlo").cast("double"))
            ).alias(out_value),
        )
    )


def sql_grouped_exact_percentiles(source_sql: str, group_col: str, value_expr: str,
                                  pcts: list[float], out_value: str = "q") -> str:
    """DuckDB twin of grouped_exact_percentiles (same interpolation)."""
    pct_rows = ", ".join(f"({p!r}e0)" for p in pcts)
    q = "_vlo + (_rank - CAST(_lo AS DOUBLE)) * (_vhi - _vlo)"
    return f"""
WITH _src AS ({source_sql}),
_ranked AS (
    SELECT {group_col}, CAST({value_expr} AS DOUBLE) AS _v,
           row_number() OVER (PARTITION BY {group_col} ORDER BY CAST({value_expr} AS DOUBLE)) - 1 AS _r,
           count(*) OVER (PARTITION BY {group_col}) AS _n
    FROM _src WHERE {value_expr} IS NOT NULL
),
_pos AS (
    SELECT {group_col}, pct, pct * (_n - 1) AS _rank,
           CAST(floor(pct * (_n - 1)) AS BIGINT) AS _lo,
           least(CAST(floor(pct * (_n - 1)) AS BIGINT) + 1, _n - 1) AS _hi
    FROM (SELECT DISTINCT {group_col}, _n FROM _ranked), (VALUES {pct_rows}) p(pct)
)
SELECT {group_col}, pct, {sql_rnd(q)} AS {out_value}
FROM _pos
JOIN (SELECT {group_col}, _r AS _lo, _v AS _vlo FROM _ranked) USING ({group_col}, _lo)
JOIN (SELECT {group_col}, _r AS _hi, _v AS _vhi FROM _ranked) USING ({group_col}, _hi)
"""
