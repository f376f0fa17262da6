"""Reference-parity query surface: the pipeline itself plus Q1-Q10 from
SURVEY.md §2.8 (the reference's analysis scripts re-expressed natively).

Each entry is a (spark_fn, duckdb_sql) pair; the SQL reproduces the Spark
plan's semantics exactly (see oracle.py / plans/common.py float policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.operators.bars import bar_aggregate
from tickdatapipeline_spark.oracle import bars_ctes, pipeline_ctes
from tickdatapipeline_spark.sources.io import read_parquet
from tickdatapipeline_spark.plans.common import (
    BP_BOX,
    BP_FIR,
    SP_AMC,
    SP_CPM,
    SP_DERIV,
    SP_HEXAD,
    exact_percentiles,
    processed_ticks,
    rnd,
    sql_exact_percentiles,
    sql_rnd,
)

TICK_COLS = ["tick_idx", "timestamp", "raw_price", "price_delta", "sig_re", "sig_im",
             "normalization", "status_flag"]

_PROCESSED_SQL = f"WITH {{ctes}} SELECT {{cols}} FROM ticks_out"


def _tick_query(sp_cfg, round_sig: bool):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = processed_ticks(spark, sf_dir, sp_cfg)
        if round_sig:
            df = df.withColumn("sig_re", rnd(F.col("sig_re"))).withColumn("sig_im", rnd(F.col("sig_im")))
        return df.select(*TICK_COLS)

    cols = ", ".join(
        c if not (round_sig and c.startswith("sig_")) else f"{sql_rnd(c)} AS {c}"
        for c in TICK_COLS
    )
    sql = _PROCESSED_SQL.format(ctes=pipeline_ctes(sp_cfg), cols=cols)
    return fn, sql


def twopass_derivative_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale single-stream formulation, driver-gated on its own:
    forces the chunked two-pass plan (zero SinglePartition exchanges,
    operators/globalorder.py) regardless of input size, so the scale
    plan — not just the small-input window plan — is hash-verified
    against the DuckDB oracle every round. Small chunk_size exercises
    many chunk boundaries at sf0.01."""
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events

    raw = ticks_from_events(spark, sf_dir, chunk_size=997)
    df = hot_loop(
        expand_volume(raw, valid_price_range=(SP_DERIV.min_price, SP_DERIV.max_price)),
        SP_DERIV,
    )
    return df.select(*TICK_COLS)


BAR_COLS = ["bar_idx", "bar_ticks", "bar_volume", "bar_open_raw", "bar_high_raw",
            "bar_low_raw", "bar_close_raw", "bar_average_raw", "bar_price_delta",
            "bar_sig_re", "bar_sig_im", "bar_normalization", "bar_flags",
            "bar_end_timestamp", "end_tick_idx"]


def _bar_query(bp_cfg):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bar_aggregate(processed_ticks(spark, sf_dir, SP_DERIV), bp_cfg).select(*BAR_COLS)

    sql = (
        f"WITH {pipeline_ctes(SP_DERIV)}, {bars_ctes(SP_DERIV, bp_cfg)} "
        f"SELECT {', '.join(BAR_COLS)} FROM bars_out"
    )
    return fn, sql


# ---- multi-stream pipeline: the 100 TB deployment shape ----
#
# One logical stream per session/day file; EVERY window partitions by
# `stream`, so the plan has no single-partition shuffle anywhere —
# .explain shows N-way partitioned WindowExecs. This is the query that
# proves the scale path, not just documents it.


def multistream_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events_streams

    raw = ticks_from_events_streams(spark, sf_dir)
    df = hot_loop(expand_volume(raw, stream_id="stream"), SP_DERIV, stream_id="stream")
    return df.select("stream", *TICK_COLS)


def _multistream_sql() -> str:
    from tickdatapipeline_spark.oracle import pipeline_ctes as _pc
    from tickdatapipeline_spark.sources.tickfile import ticks_streams_sql

    ctes = _pc(SP_DERIV, streams=True, ticks_raw_sql=ticks_streams_sql())
    return f"WITH {ctes} SELECT stream, {', '.join(TICK_COLS)} FROM ticks_out"


def multistream_twopass_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined scale axes, driver-gated on its own: streams
    partition the work AND every window within a stream is chunked
    (partitionBy(stream, chunk) + per-stream broadcast offsets) — the
    plan for a deployment whose INDIVIDUAL streams are too long for one
    partition. Same oracle as the windowed multistream query; small
    chunk_size exercises many per-stream chunk boundaries at sf0.01."""
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events_streams

    raw = ticks_from_events_streams(spark, sf_dir, chunk_size=997)
    df = hot_loop(
        expand_volume(raw, stream_id="stream",
                      valid_price_range=(SP_DERIV.min_price, SP_DERIV.max_price)),
        SP_DERIV, stream_id="stream",
    )
    return df.select("stream", *TICK_COLS)


# ---- B7 pass-through enrichment: bar fields only on completing ticks ----

ENRICH_BAR_COLS = ["bar_idx", "bar_open_raw", "bar_high_raw", "bar_low_raw",
                   "bar_close_raw", "bar_average_raw", "bar_price_delta",
                   "bar_normalization", "bar_flags"]


def enriched_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tickdatapipeline_spark.operators.bars import enrich_ticks_with_bars

    ticks = processed_ticks(spark, sf_dir, SP_DERIV)
    bars = bar_aggregate(ticks, BP_BOX)
    out = enrich_ticks_with_bars(ticks, bars)
    return out.select(*TICK_COLS, *ENRICH_BAR_COLS)


ENRICHED_SQL = (
    f"WITH {pipeline_ctes(SP_DERIV)}, {bars_ctes(SP_DERIV, BP_BOX)} "
    f"SELECT {', '.join('t.' + c for c in TICK_COLS)}, "
    f"{', '.join('b.' + c for c in ENRICH_BAR_COLS)} "
    f"FROM ticks_out t LEFT JOIN bars_out b ON t.tick_idx = b.end_tick_idx"
)


# ---- Q1: delta distribution stats (analyze_tick_deltas.jl:83-92) ----

def q1_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = processed_ticks(spark, sf_dir, SP_DERIV)
    d = F.col("price_delta").cast("double")
    return df.agg(
        F.count(F.lit(1)).alias("n_ticks"),
        rnd(F.avg(d)).alias("mean_delta"),
        rnd(F.stddev_samp(d)).alias("std_delta"),
        F.min("price_delta").alias("min_delta"),
        F.max("price_delta").alias("max_delta"),
        rnd(F.avg(F.abs(d))).alias("mean_abs_delta"),
        F.max(F.abs(F.col("price_delta"))).alias("max_abs_delta"),
        F.sum(F.when(F.col("price_delta") == 0, 1).otherwise(0)).alias("n_zero"),
    )


Q1_SQL = f"""
WITH {pipeline_ctes(SP_DERIV)}
SELECT count(*) AS n_ticks,
       {sql_rnd('avg(CAST(price_delta AS DOUBLE))')} AS mean_delta,
       {sql_rnd('stddev_samp(CAST(price_delta AS DOUBLE))')} AS std_delta,
       min(price_delta) AS min_delta,
       max(price_delta) AS max_delta,
       {sql_rnd('avg(abs(CAST(price_delta AS DOUBLE)))')} AS mean_abs_delta,
       max(abs(price_delta)) AS max_abs_delta,
       CAST(sum(CASE WHEN price_delta = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM ticks_out
"""

# ---- Q2: percentile table (analyze_tick_deltas.jl:94-121) ----

PCTS = [0.001, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999]


def q2_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = processed_ticks(spark, sf_dir, SP_DERIV)
    signed = exact_percentiles(df, "price_delta", PCTS, "q_signed")
    absd = exact_percentiles(df.select(F.abs("price_delta").alias("abs_delta")), "abs_delta", PCTS, "q_abs")
    return signed.join(absd, "pct").orderBy("pct")


Q2_SQL = f"""
WITH _signed AS ({sql_exact_percentiles(f'WITH {pipeline_ctes(SP_DERIV)} SELECT * FROM ticks_out', 'price_delta', PCTS, 'q_signed')}),
_abs AS ({sql_exact_percentiles(f'WITH {pipeline_ctes(SP_DERIV)} SELECT abs(price_delta) AS abs_delta FROM ticks_out', 'abs_delta', PCTS, 'q_abs')})
SELECT pct, q_signed, q_abs FROM _signed JOIN _abs USING (pct) ORDER BY pct
"""

# ---- Q3: zero-delta share (analyze_tick_deltas.jl:123-129) ----

def q2_approx_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment-scale percentile path: percentile_approx (one pass,
    mergeable sketches, no global sort). Rows-only check — sketch
    internals are not cross-engine reproducible; the exact variant
    (q2_percentiles) is the oracle-gated twin."""
    df = processed_ticks(spark, sf_dir, SP_DERIV)
    pcts = F.array(*[F.lit(p) for p in PCTS])
    return df.agg(
        F.percentile_approx(F.col("price_delta").cast("double"), pcts, 10000).alias("q_signed"),
        F.percentile_approx(F.abs("price_delta").cast("double"), pcts, 10000).alias("q_abs"),
    ).select(
        F.posexplode("q_signed").alias("i", "q_signed_v"), "q_abs"
    ).select(
        F.element_at(F.array(*[F.lit(p) for p in PCTS]), F.col("i") + 1).alias("pct"),
        F.col("q_signed_v").alias("q_signed"),
        F.element_at("q_abs", F.col("i") + 1).alias("q_abs"),
    )


def q3_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = processed_ticks(spark, sf_dir, SP_DERIV)
    return df.agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.when(F.col("price_delta") == 0, 1).otherwise(0)).alias("n_zero"),
        rnd(
            F.sum(F.when(F.col("price_delta") == 0, 1.0).otherwise(0.0)) / F.count(F.lit(1)).cast("double") * 100.0
        ).alias("zero_pct"),
    )


Q3_SQL = f"""
WITH {pipeline_ctes(SP_DERIV)}
SELECT count(*) AS n_ticks,
       CAST(sum(CASE WHEN price_delta = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       {sql_rnd('sum(CASE WHEN price_delta = 0 THEN 1.0 ELSE 0.0 END) / CAST(count(*) AS DOUBLE) * 100.0')} AS zero_pct
FROM ticks_out
"""

# ---- Q4: threshold sweep (analyze_tick_deltas.jl:131-141) ----

THRESHOLDS = [1, 2, 3, 5, 10, 20, 50, 100]


def q4_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one conditional-aggregate pass + unpivot — NOT a thresholds-cross-join,
    # which would replay the whole pipeline len(THRESHOLDS) times.
    df = processed_ticks(spark, sf_dir, SP_DERIV).select(F.abs("price_delta").alias("abs_delta"))
    wide = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.when(F.col("abs_delta") > t, 1).otherwise(0)).alias(f"_b{t}") for t in THRESHOLDS],
    )
    rows = F.array(*[
        F.struct(F.lit(t).cast("long").alias("threshold"), F.col(f"_b{t}").alias("n_beyond"))
        for t in THRESHOLDS
    ])
    return (
        wide.select("_n", F.explode(rows).alias("r"))
        .select(
            F.col("r.threshold").alias("threshold"),
            F.col("r.n_beyond").alias("n_beyond"),
            rnd(F.col("r.n_beyond").cast("double") / F.col("_n").cast("double") * 100.0).alias("pct_beyond"),
        )
        .orderBy("threshold")
    )


Q4_SQL = f"""
WITH {pipeline_ctes(SP_DERIV)}
SELECT threshold,
       CAST(sum(CASE WHEN abs(price_delta) > threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond,
       {sql_rnd('sum(CASE WHEN abs(price_delta) > threshold THEN 1.0 ELSE 0.0 END) / CAST(count(*) AS DOUBLE) * 100.0')} AS pct_beyond
FROM ticks_out, (SELECT CAST(unnest({THRESHOLDS}) AS BIGINT) AS threshold) t
GROUP BY threshold ORDER BY threshold
"""

# ---- Q5: winsorization threshold recommendation (analyze_tick_deltas.jl:143-183) ----

CLIP_TARGETS = [0.001, 0.005, 0.01, 0.05]


def q5_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = processed_ticks(spark, sf_dir, SP_DERIV).select(F.abs("price_delta").alias("abs_delta"))
    out = exact_percentiles(df, "abs_delta", [1.0 - p for p in CLIP_TARGETS], "recommended_threshold")
    return out.select(rnd(1.0 - F.col("pct")).alias("clip_target"), "recommended_threshold").orderBy("clip_target")


Q5_SQL = f"""
SELECT {sql_rnd('1.0 - pct')} AS clip_target, recommended_threshold
FROM ({sql_exact_percentiles(f'WITH {pipeline_ctes(SP_DERIV)} SELECT abs(price_delta) AS abs_delta FROM ticks_out', 'abs_delta', [1.0 - p for p in CLIP_TARGETS], 'recommended_threshold')})
ORDER BY clip_target
"""

# ---- Q6: sigma-bucket histogram of normalized ratio (analyze_winsorization.jl:30-166) ----

def q6_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = processed_ticks(spark, sf_dir, SP_DERIV, keep_internals=True).where(F.col("is_core"))
    stats = df.agg(rnd(F.avg("ratio")).alias("mu"), rnd(F.stddev_samp("ratio")).alias("sigma"))
    j = df.crossJoin(F.broadcast(stats))
    bucket = F.greatest(
        F.lit(-6),
        F.least(F.lit(6), F.floor((F.col("ratio") - F.col("mu")) / (F.col("sigma") / 2.0)).cast("int")),
    ).cast("long")
    b = j.select(bucket.alias("bucket"), "status_flag")
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.expr(f"status_flag & {C.FLAG_CLIPPED}") != 0, 1).otherwise(0)).alias("n_clipped"),
    )
    total = agg.agg(F.sum("n").alias("total"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(total))
        .withColumn("pct", rnd(F.col("n").cast("double") / F.col("total").cast("double") * 100.0))
        .withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pct", rnd(F.col("cum_n").cast("double") / F.col("total").cast("double") * 100.0))
        .select("bucket", "n", "n_clipped", "pct", "cum_pct")
        .orderBy("bucket")
    )


Q6_SQL = f"""
WITH {pipeline_ctes(SP_DERIV)},
core AS (SELECT * FROM ticks_out WHERE is_core),
stats AS (SELECT {sql_rnd('avg(ratio)')} AS mu, {sql_rnd('stddev_samp(ratio)')} AS sigma FROM core),
bucketed AS (
    SELECT greatest(-6, least(6, CAST(floor((ratio - mu) / (sigma / 2.0)) AS INTEGER))) AS bucket, status_flag
    FROM core, stats
),
agg AS (
    SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
           CAST(sum(CASE WHEN (status_flag & {C.FLAG_CLIPPED}) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM bucketed GROUP BY 1
),
tot AS (SELECT sum(n) AS total FROM agg)
SELECT bucket, n, n_clipped,
       {sql_rnd('CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 100.0')} AS pct,
       {sql_rnd('CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(total AS DOUBLE) * 100.0')} AS cum_pct
FROM agg, tot ORDER BY bucket
"""

# ---- Q7: price range scan (find_price_range.jl:14-72) ----

def q7_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events

    raw = ticks_from_events(spark, sf_dir)
    rng = F.max("last") - F.min("last")
    return raw.agg(
        F.min("last").alias("min_price"),
        F.max("last").alias("max_price"),
        rng.alias("price_range"),
        F.floor(rng.cast("double") * 0.1 + 0.5).cast("long").alias("suggested_margin"),
    )


from tickdatapipeline_spark.sources.tickfile import TICKS_FROM_EVENTS_SQL

Q7_SQL = f"""
WITH ticks_raw AS ({TICKS_FROM_EVENTS_SQL})
SELECT min(last) AS min_price, max(last) AS max_price,
       max(last) - min(last) AS price_range,
       CAST(floor(CAST(max(last) - min(last) AS DOUBLE) * 0.1 + 0.5) AS BIGINT) AS suggested_margin
FROM ticks_raw
"""

# ---- VWAP bars over the RAW (pre-expansion) tick stream ----

VWAP_BAR_SIZE = 144  # ticks per bar, matching the reference bar period


def bars_vwap_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per fixed-count bar over the RAW
    tick stream — the standard market bar statistic the reference's
    boxcar/FIR bars (src/BarProcessor.jl:134-202) sidestep by running
    AFTER volume expansion (where every row's volume is 1 and VWAP
    degenerates to the plain mean). On raw ticks the weights matter:
    a 5-lot print moves the bar's VWAP five times as far as a 1-lot.

    Exactness: pv = sum(last*volume) and bar_volume = sum(volume) are
    exact BIGINTs (both emitted); vwap itself is the ONE double
    division, crossed through rnd. Bar id comes off line_no, so bars
    are the same fixed-count windows as q10's audit.

    Scale: one map-side projection + one combinable groupBy(bar_id);
    line numbering at corpus scale comes from the two-pass chunked
    formulation (operators/globalorder.py) exactly as in
    tick_pipeline_*_twopass — bar_id derives from line_no either way.
    Aggregation lives in operators/bars.vwap_bars (unit-tested on a
    constructed tick frame)."""
    from tickdatapipeline_spark.operators.bars import vwap_bars
    from tickdatapipeline_spark.sources.tickfile import ticks_from_events

    return vwap_bars(ticks_from_events(spark, sf_dir), VWAP_BAR_SIZE).orderBy("bar_id")


BARS_VWAP_SQL = f"""
WITH ticks_raw AS ({TICKS_FROM_EVENTS_SQL}),
b AS (SELECT (line_no - 1) // {VWAP_BAR_SIZE} AS bar_id, last, volume FROM ticks_raw)
SELECT bar_id,
       CAST(count(*) AS BIGINT) AS n_ticks,
       CAST(sum(volume) AS BIGINT) AS bar_volume,
       CAST(sum(last * volume) AS BIGINT) AS pv,
       CAST(min(last) AS BIGINT) AS low,
       CAST(max(last) AS BIGINT) AS high,
       {sql_rnd('CAST(sum(last * volume) AS DOUBLE) / CAST(sum(volume) AS DOUBLE)')} AS vwap
FROM b
GROUP BY bar_id
ORDER BY bar_id
"""

# ---- Q8: latency-style percentiles over a metric column (benchmark.jl:104-123),
#      applied to events.value as the metrics stand-in ----

LAT_PCTS = [0.5, 0.9, 0.95, 0.99, 1.0]


def q8_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(F.col("value").cast("double").alias("value"))
    return exact_percentiles(ev, "value", LAT_PCTS, "q_value").orderBy("pct")


Q8_SQL = sql_exact_percentiles("SELECT CAST(value AS DOUBLE) AS value FROM events", "value", LAT_PCTS, "q_value") + " ORDER BY pct"

# ---- Q9: range slice with min-max scaling (plot_jld2_data.jl:34-68) ----

SLICE_START, SLICE_N = 1001, 500


def q9_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = processed_ticks(spark, sf_dir, SP_DERIV).where(
        F.col("tick_idx").between(SLICE_START, SLICE_START + SLICE_N - 1)
    )
    stats = df.agg(F.min("raw_price").alias("pmin"), F.max("raw_price").alias("pmax"))
    return (
        df.crossJoin(F.broadcast(stats))
        .select(
            "tick_idx",
            rnd(
                (F.col("raw_price") - F.col("pmin")).cast("double")
                / F.greatest((F.col("pmax") - F.col("pmin")).cast("double"), F.lit(1.0))
            ).alias("price_norm"),
            rnd(F.col("sig_re") * 6.0).alias("sig_re_scaled"),
            rnd(F.col("sig_im") * 6.0).alias("sig_im_scaled"),
        )
        .orderBy("tick_idx")
    )


Q9_SQL = f"""
WITH {pipeline_ctes(SP_DERIV)},
sl AS (SELECT * FROM ticks_out WHERE tick_idx BETWEEN {SLICE_START} AND {SLICE_START + SLICE_N - 1}),
st AS (SELECT min(raw_price) AS pmin, max(raw_price) AS pmax FROM sl)
SELECT tick_idx,
       {sql_rnd('CAST(raw_price - pmin AS DOUBLE) / greatest(CAST(pmax - pmin AS DOUBLE), 1.0)')} AS price_norm,
       {sql_rnd('sig_re * 6.0')} AS sig_re_scaled,
       {sql_rnd('sig_im * 6.0')} AS sig_im_scaled
FROM sl, st ORDER BY tick_idx
"""

# ---- Q10: bar invariant audit (validate_bar_processing.jl:49-200) ----

def q10_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = processed_ticks(spark, sf_dir, SP_DERIV)
    bars = bar_aggregate(ticks, BP_BOX)
    n_ticks = ticks.agg(F.count(F.lit(1)).alias("nt"))
    audit = bars.agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum(F.when(F.col("bar_high_raw") < F.col("bar_low_raw"), 1).otherwise(0)).alias("high_lt_low"),
        F.sum(F.when(F.col("bar_high_raw") < F.col("bar_open_raw"), 1).otherwise(0)).alias("high_lt_open"),
        F.sum(F.when(F.col("bar_high_raw") < F.col("bar_close_raw"), 1).otherwise(0)).alias("high_lt_close"),
        F.sum(F.when(F.col("bar_low_raw") > F.col("bar_open_raw"), 1).otherwise(0)).alias("low_gt_open"),
        F.sum(F.when(F.col("bar_low_raw") > F.col("bar_close_raw"), 1).otherwise(0)).alias("low_gt_close"),
        F.sum(F.when(F.col("bar_ticks") != BP_BOX.ticks_per_bar, 1).otherwise(0)).alias("bad_tick_counts"),
        F.sum(F.when(F.isnan("bar_sig_re") | F.isnan("bar_sig_im"), 1).otherwise(0)).alias("nan_signals"),
        F.sum(F.when(F.expr(f"bar_flags & {C.FLAG_CLIPPED}") != 0, 1).otherwise(0)).alias("clipped_bars"),
        F.min("bar_average_raw").alias("min_bar_avg"),
        F.max("bar_average_raw").alias("max_bar_avg"),
    )
    return audit.crossJoin(F.broadcast(n_ticks)).withColumn(
        "expected_bars", (F.col("nt") / BP_BOX.ticks_per_bar).cast("long")
    ).withColumn("bar_count_matches", (F.col("n_bars") == F.col("expected_bars")).cast("long")).drop("nt")


Q10_SQL = f"""
WITH {pipeline_ctes(SP_DERIV)}, {bars_ctes(SP_DERIV, BP_BOX)},
nt AS (SELECT count(*) AS nt FROM ticks_out)
SELECT count(*) AS n_bars,
       CAST(sum(CASE WHEN bar_high_raw < bar_low_raw THEN 1 ELSE 0 END) AS BIGINT) AS high_lt_low,
       CAST(sum(CASE WHEN bar_high_raw < bar_open_raw THEN 1 ELSE 0 END) AS BIGINT) AS high_lt_open,
       CAST(sum(CASE WHEN bar_high_raw < bar_close_raw THEN 1 ELSE 0 END) AS BIGINT) AS high_lt_close,
       CAST(sum(CASE WHEN bar_low_raw > bar_open_raw THEN 1 ELSE 0 END) AS BIGINT) AS low_gt_open,
       CAST(sum(CASE WHEN bar_low_raw > bar_close_raw THEN 1 ELSE 0 END) AS BIGINT) AS low_gt_close,
       CAST(sum(CASE WHEN bar_ticks <> {BP_BOX.ticks_per_bar} THEN 1 ELSE 0 END) AS BIGINT) AS bad_tick_counts,
       CAST(sum(CASE WHEN isnan(bar_sig_re) OR isnan(bar_sig_im) THEN 1 ELSE 0 END) AS BIGINT) AS nan_signals,
       CAST(sum(CASE WHEN (bar_flags & {C.FLAG_CLIPPED}) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS clipped_bars,
       min(bar_average_raw) AS min_bar_avg,
       max(bar_average_raw) AS max_bar_avg,
       CAST(nt // {BP_BOX.ticks_per_bar} AS BIGINT) AS expected_bars,
       CAST(CASE WHEN count(*) = nt // {BP_BOX.ticks_per_bar} THEN 1 ELSE 0 END AS BIGINT) AS bar_count_matches
FROM bars_out, nt
GROUP BY nt
"""


def latency_metrics_fn(spark: SparkSession, sf_dir: str, n_batches: int = 6) -> DataFrame:
    """O2 per-batch latency metrics: run the derivative pipeline
    micro-batched (line_no slices through the seeded streaming state
    machine) and report the reference's PipelineMetrics latency summary
    (PipelineOrchestrator.jl:19-33, benchmark.jl:104-123 percentile
    shape). Wall-clock values are nondeterministic -> rows-only gate."""
    import time

    from tickdatapipeline_spark.sources.tickfile import ticks_from_events
    from tickdatapipeline_spark.streaming.metrics import PipelineMetrics
    from tickdatapipeline_spark.streaming.state import StreamState, advance

    raw = ticks_from_events(spark, sf_dir)
    hi = raw.agg(F.max("line_no")).collect()[0][0] or 0
    metrics = PipelineMetrics()
    state = StreamState()
    per = max(1, (hi + n_batches - 1) // n_batches)
    for b in range(n_batches):
        lo, up = b * per + 1, min((b + 1) * per, hi)
        if lo > up:
            break
        batch = raw.where((F.col("line_no") >= lo) & (F.col("line_no") <= up))
        ticks_before = state.tick0
        t0 = time.perf_counter()
        processed, state = advance(batch, SP_DERIV, state)
        signal_us = int((time.perf_counter() - t0) * 1e6)
        processed.unpersist()
        metrics.record_batch(
            ticks=state.tick0 - ticks_before,
            total_us=int((time.perf_counter() - t0) * 1e6),
            signal_us=signal_us,
            broadcasts=1,
        )
    return metrics.summary_df(spark)


def queries() -> dict[str, tuple]:
    d_fn, d_sql = _tick_query(SP_DERIV, round_sig=False)
    h_fn, h_sql = _tick_query(SP_HEXAD, round_sig=False)
    c_fn, c_sql = _tick_query(SP_CPM, round_sig=True)
    a_fn, a_sql = _tick_query(SP_AMC, round_sig=True)
    bb_fn, bb_sql = _bar_query(BP_BOX)
    bf_fn, bf_sql = _bar_query(BP_FIR)
    return {
        "tick_pipeline_derivative": (d_fn, d_sql),
        # same oracle as the windowed flagship: the two formulations
        # must be indistinguishable to the gate
        "tick_pipeline_derivative_twopass": (twopass_derivative_fn, d_sql),
        "tick_pipeline_hexad16": (h_fn, h_sql),
        "tick_pipeline_cpm": (c_fn, c_sql),
        "tick_pipeline_amc": (a_fn, a_sql),
        "tick_pipeline_multistream": (multistream_fn, _multistream_sql()),
        # same oracle as the windowed multistream plan
        "tick_pipeline_multistream_twopass": (
            multistream_twopass_fn, _multistream_sql()),
        "bars_boxcar": (bb_fn, bb_sql),
        "bars_fir": (bf_fn, bf_sql),
        "bars_vwap": (bars_vwap_fn, BARS_VWAP_SQL),
        "ticks_enriched": (enriched_fn, ENRICHED_SQL),
        "q1_delta_stats": (q1_fn, Q1_SQL),
        "q2_percentiles": (q2_fn, Q2_SQL),
        "q2_percentiles_approx": (q2_approx_fn, None),  # rows-only: sketch-based
        "q3_zero_share": (q3_fn, Q3_SQL),
        "q4_threshold_sweep": (q4_fn, Q4_SQL),
        "q5_winsorize_reco": (q5_fn, Q5_SQL),
        "q6_sigma_buckets": (q6_fn, Q6_SQL),
        "q7_price_range": (q7_fn, Q7_SQL),
        "q8_value_percentiles": (q8_fn, Q8_SQL),
        "q9_range_slice": (q9_fn, Q9_SQL),
        "q10_bar_audit": (q10_fn, Q10_SQL),
        # rows-only: wall-clock latencies are nondeterministic by nature
        "pipeline_latency_metrics": (latency_metrics_fn, None),
    }
