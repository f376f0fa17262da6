"""Micro-batch continuation state for the streaming tick pipeline.

The reference pushes one mutable state struct down a Channel
(/root/reference/src/TickHotLoopF32.jl:53-83). In Spark Structured
Streaming the natural unit is the micro-batch, and because every piece
of hot-loop state is a prefix aggregate (SURVEY.md §2.3), a batch can be
processed EXACTLY given a small seed of prefix totals. ``advance``
processes one raw-tick batch and returns (processed_df, next_state);
streaming output over any batch split is bit-identical to the batch
plan over the concatenated input (tested in tests/test_streaming.py).

Scale: state is O(1) per stream (a dozen scalars), extracted with two
tiny aggregations per batch — no growing state store, no shuffling of
history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark import constants as C
from tickdatapipeline_spark.config import SignalProcessingConfig
from tickdatapipeline_spark.operators.expansion import expand_volume
from tickdatapipeline_spark.operators.hotloop import HotLoopSeed, hot_loop

OUT_COLS = ["tick_idx", "timestamp", "raw_price", "price_delta",
            "sig_re", "sig_im", "normalization", "status_flag"]


@dataclass(frozen=True)
class StreamState:
    """Everything needed to continue the stream in the next batch."""

    tick0: int = 0                 # ticks emitted so far
    prev_last: int | None = None   # last raw price of the previous batch
    hot: HotLoopSeed = HotLoopSeed()


def advance(
    raw_batch: DataFrame,
    cfg: SignalProcessingConfig,
    state: StreamState,
    stats_ticks_per_bar: int = C.STATS_TICKS_PER_BAR,
) -> tuple[DataFrame, StreamState]:
    """Process one ticks_raw micro-batch; return (processed, next_state).

    The returned DataFrame is materialized (cached + counted) before
    state extraction, so callers can write it to any sink without
    recomputation.
    """
    n = stats_ticks_per_bar
    expanded = expand_volume(
        raw_batch, seed_prev_last=state.prev_last, seed_tick0=state.tick0
    )
    processed = hot_loop(
        expanded, cfg, stats_ticks_per_bar=n, keep_internals=True, seed=state.hot
    ).cache()
    n_rows = processed.count()
    if n_rows == 0:
        processed.unpersist()
        return processed, state

    s = state.hot
    scale = 2.0 * float(cfg.cpm_modulation_index) * 2.0**31

    top = processed.agg(
        F.max("tick_idx").alias("max_tick"),
        F.max_by("raw_price", "tick_idx").alias("last_price"),
        F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("valid_b"),
        F.max("core_seq").alias("core_total"),
        F.min(F.when(F.col("is_valid"), F.col("tick_idx"))).alias("first_valid_tick"),
        F.max_by(F.col("ratio"), F.when(F.col("is_core"), F.col("tick_idx"))).alias("last_core_ratio"),
        F.max_by(F.col("inv_q16"), F.when(F.col("is_core"), F.col("tick_idx"))).alias("last_inv"),
        F.sum(
            F.when(F.col("is_core"), F.bround(F.col("ratio") * F.lit(scale), 0).cast("long")).otherwise(F.lit(0))
        ).alias("dp_sum"),
    ).collect()[0]

    core_total = int(top["core_total"] or s.core_seq0)

    # stats-bar bookkeeping: merge the carried partial bar, count the bars
    # newly completed in this batch, and capture the new trailing partial.
    bars = (
        processed.where(F.col("is_core"))
        .groupBy("bar_ord")
        .agg(F.min("delta_w").alias("bmin"), F.max("delta_w").alias("bmax"),
             F.count(F.lit(1)).alias("cnt"))
    )
    pb = s.core_seq0 // n
    if s.partial_cnt0 > 0:
        bars = bars.withColumn(
            "bmin", F.when(F.col("bar_ord") == pb, F.least("bmin", F.lit(s.partial_min0))).otherwise(F.col("bmin"))
        ).withColumn(
            "bmax", F.when(F.col("bar_ord") == pb, F.greatest("bmax", F.lit(s.partial_max0))).otherwise(F.col("bmax"))
        ).withColumn(
            "cnt", F.when(F.col("bar_ord") == pb, F.col("cnt") + s.partial_cnt0).otherwise(F.col("cnt"))
        )
    new_partial_ord = core_total // n if core_total % n != 0 else None
    brow = bars.agg(
        F.sum(F.when(F.col("cnt") == n, F.col("bmin"))).alias("add_bmin"),
        F.sum(F.when(F.col("cnt") == n, F.col("bmax"))).alias("add_bmax"),
        F.max(F.when(F.col("bar_ord") == new_partial_ord, F.col("bmin"))).alias("p_min"),
        F.max(F.when(F.col("bar_ord") == new_partial_ord, F.col("bmax"))).alias("p_max"),
        F.max(F.when(F.col("bar_ord") == new_partial_ord, F.col("cnt"))).alias("p_cnt"),
    ).collect()[0]

    # zero rows (invalid before any valid ever) only exist while no valid
    # tick has been seen; they advance no encoder (is_zero rows).
    if s.n_valid0 > 0:
        zero_b = 0
    elif top["first_valid_tick"] is None:
        zero_b = n_rows
    else:
        zero_b = int(top["first_valid_tick"]) - state.tick0 - 1

    p_cnt = int(brow["p_cnt"] or 0)
    p_min = None if brow["p_min"] is None else int(brow["p_min"])
    p_max = None if brow["p_max"] is None else int(brow["p_max"])
    if p_cnt == 0 and new_partial_ord == pb and s.partial_cnt0 > 0:
        # carried partial bar got no new core ticks this batch — keep it
        p_cnt, p_min, p_max = s.partial_cnt0, s.partial_min0, s.partial_max0

    next_hot = HotLoopSeed(
        n_valid0=s.n_valid0 + int(top["valid_b"] or 0),
        core_seq0=core_total,
        sum_bmin0=s.sum_bmin0 + int(brow["add_bmin"] or 0),
        sum_bmax0=s.sum_bmax0 + int(brow["add_bmax"] or 0),
        partial_cnt0=p_cnt,
        partial_min0=p_min,
        partial_max0=p_max,
        inv_q16_0=int(top["last_inv"]) if top["last_inv"] is not None else s.inv_q16_0,
        cpm_theta0=(s.cpm_theta0 + int(top["dp_sum"] or 0)) % C.Q32_MOD,
        amc_n0=s.amc_n0 + (n_rows - zero_b),
        last_core_ratio0=(
            float(top["last_core_ratio"]) if top["last_core_ratio"] is not None else s.last_core_ratio0
        ),
    )
    next_state = StreamState(
        tick0=int(top["max_tick"]), prev_last=int(top["last_price"]), hot=next_hot
    )
    # NOTE: the returned frame is the CACHED internals frame, so the
    # caller's sink writes don't recompute the plan. Select OUT_COLS for
    # the reference-parity output schema, and unpersist() after writing.
    return processed, next_state


def advance_bars(
    ticks_batch: DataFrame,
    bp,
    seed,
):
    """Bar stage for one micro-batch of processed ticks (global tick_idx).

    Returns (bars_df, next_BarSeed): the bars completing in this batch
    plus the carried state — unfinished OHLC bar, lag average, cumulative
    high/low sums, latest normalization, and the FIR price tail.
    """
    from tickdatapipeline_spark.functions.fir import design_decimation_filter
    from tickdatapipeline_spark.operators.bars import BarSeed, bar_aggregate

    n = bp.ticks_per_bar
    bars = bar_aggregate(ticks_batch, bp, seed=seed).cache()
    brow = bars.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum("bar_high_raw").alias("add_high"),
        F.sum("bar_low_raw").alias("add_low"),
        F.max_by("bar_average_raw", "bar_idx").alias("last_avg"),
        F.max_by("bar_normalization", "bar_idx").alias("last_norm"),
        F.max("bar_idx").alias("max_bar_idx"),
    ).collect()[0]
    bars_done = int(brow["max_bar_idx"]) if brow["max_bar_idx"] is not None else seed.bars_done0

    # trailing partial OHLC bar = ticks with bar_id == bars_done
    part_row = (
        ticks_batch.withColumn("_bar_id", ((F.col("tick_idx") - 1) / n).cast("long"))
        .where(F.col("_bar_id") == bars_done)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min_by("raw_price", "tick_idx").alias("first_price"),
            F.max("raw_price").alias("high"),
            F.min("raw_price").alias("low"),
        )
        .collect()[0]
    )
    p_cnt = int(part_row["cnt"] or 0)
    if bars_done == seed.bars_done0 and seed.partial_cnt0 > 0:
        # the carried partial bar is still unfinished: merge batch ticks in
        p_open = seed.partial_open0
        p_high = seed.partial_high0 if p_cnt == 0 else max(int(part_row["high"]), seed.partial_high0)
        p_low = seed.partial_low0 if p_cnt == 0 else min(int(part_row["low"]), seed.partial_low0)
        p_cnt += seed.partial_cnt0
    elif p_cnt > 0:
        p_open = int(part_row["first_price"])
        p_high = int(part_row["high"])
        p_low = int(part_row["low"])
    else:
        p_open = p_high = p_low = None

    tail: tuple[tuple[int, int], ...] = ()
    if bp.bar_method == "FIR":
        L = len(design_decimation_filter(n))
        rows = (
            ticks_batch.select("tick_idx", "raw_price")
            .orderBy(F.col("tick_idx").desc())
            .limit(L - 1)
            .collect()
        )
        merged = {int(r["tick_idx"]): int(r["raw_price"]) for r in rows}
        for t_idx, price in seed.tail_prices0:
            merged.setdefault(t_idx, price)
        tail = tuple(sorted(merged.items())[-(L - 1):])

    next_seed = BarSeed(
        partial_cnt0=p_cnt,
        partial_open0=p_open,
        partial_high0=p_high,
        partial_low0=p_low,
        bars_done0=bars_done,
        prev_avg0=int(brow["last_avg"]) if brow["last_avg"] is not None else seed.prev_avg0,
        sum_high0=seed.sum_high0 + int(brow["add_high"] or 0),
        sum_low0=seed.sum_low0 + int(brow["add_low"] or 0),
        norm0=float(brow["last_norm"]) if brow["last_norm"] is not None else seed.norm0,
        tail_prices0=tail,
    )
    return bars, next_seed


def advance_bars_streams(
    ticks_batch: DataFrame,
    bp,
    seeds: dict,
    stream_id: str,
):
    """Bar stage for a micro-batch holding SEVERAL streams at once.

    ``seeds`` maps stream key -> BarSeed (missing keys = start of
    stream); returns (bars_df, next_seeds). Mirrors the reference's
    per-stream BarProcessor state (/root/reference/src/BarProcessor.jl:41-68)
    without a per-stream driver loop: every extraction below is ONE
    grouped aggregation collecting O(streams) rows — the shape that holds
    when a micro-batch carries thousands of streams.
    """
    from tickdatapipeline_spark.functions.fir import design_decimation_filter
    from tickdatapipeline_spark.operators.bars import BarSeed, bar_aggregate

    n = bp.ticks_per_bar
    bars = bar_aggregate(ticks_batch, bp, stream_id=stream_id, seed=seeds).cache()
    stats = {
        r[stream_id]: r
        for r in bars.groupBy(stream_id).agg(
            F.sum("bar_high_raw").alias("add_high"),
            F.sum("bar_low_raw").alias("add_low"),
            F.max_by("bar_average_raw", "bar_idx").alias("last_avg"),
            F.max_by("bar_normalization", "bar_idx").alias("last_norm"),
            F.max("bar_idx").alias("max_bar_idx"),
        ).collect()
    }
    keys = set(seeds) | set(stats) | {
        r[stream_id] for r in ticks_batch.select(stream_id).distinct().collect()
    }
    bars_done = {
        k: (int(stats[k]["max_bar_idx"]) if k in stats and stats[k]["max_bar_idx"] is not None
            else seeds.get(k, BarSeed()).bars_done0)
        for k in keys
    }

    # trailing partial OHLC bar per stream: one grouped agg over the ticks
    # whose bar_id equals that stream's bars_done (broadcast-joined map)
    bd_df = F.broadcast(
        ticks_batch.sparkSession.createDataFrame(
            list(bars_done.items()),
            f"{stream_id} {ticks_batch.schema[stream_id].dataType.simpleString()}, _bd long",
        )
    )
    part_rows = {
        r[stream_id]: r
        for r in (
            ticks_batch.withColumn("_bar_id", ((F.col("tick_idx") - 1) / n).cast("long"))
            .join(bd_df, on=stream_id)
            .where(F.col("_bar_id") == F.col("_bd"))
            .groupBy(stream_id)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min_by("raw_price", "tick_idx").alias("first_price"),
                F.max("raw_price").alias("high"),
                F.min("raw_price").alias("low"),
            )
            .collect()
        )
    }

    tails: dict = {k: () for k in keys}
    if bp.bar_method == "FIR":
        L = len(design_decimation_filter(n))
        w = Window.partitionBy(stream_id).orderBy(F.col("tick_idx").desc())
        tail_rows = (
            ticks_batch.select(stream_id, "tick_idx", "raw_price")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= L - 1)
            .collect()
        )
        by_key: dict = {}
        for r in tail_rows:
            by_key.setdefault(r[stream_id], {})[int(r["tick_idx"])] = int(r["raw_price"])
        for k in keys:
            merged = by_key.get(k, {})
            for t_idx, price in seeds.get(k, BarSeed()).tail_prices0:
                merged.setdefault(t_idx, price)
            tails[k] = tuple(sorted(merged.items())[-(L - 1):])

    next_seeds: dict = {}
    for k in keys:
        sk = seeds.get(k, BarSeed())
        st = stats.get(k)
        pr = part_rows.get(k)
        p_cnt = int(pr["cnt"]) if pr is not None else 0
        if bars_done[k] == sk.bars_done0 and sk.partial_cnt0 > 0:
            p_open = sk.partial_open0
            p_high = sk.partial_high0 if p_cnt == 0 else max(int(pr["high"]), sk.partial_high0)
            p_low = sk.partial_low0 if p_cnt == 0 else min(int(pr["low"]), sk.partial_low0)
            p_cnt += sk.partial_cnt0
        elif p_cnt > 0:
            p_open = int(pr["first_price"])
            p_high = int(pr["high"])
            p_low = int(pr["low"])
        else:
            p_open = p_high = p_low = None
        next_seeds[k] = BarSeed(
            partial_cnt0=p_cnt,
            partial_open0=p_open,
            partial_high0=p_high,
            partial_low0=p_low,
            bars_done0=bars_done[k],
            prev_avg0=(
                int(st["last_avg"]) if st is not None and st["last_avg"] is not None
                else sk.prev_avg0
            ),
            sum_high0=sk.sum_high0 + (int(st["add_high"] or 0) if st is not None else 0),
            sum_low0=sk.sum_low0 + (int(st["add_low"] or 0) if st is not None else 0),
            norm0=(
                float(st["last_norm"]) if st is not None and st["last_norm"] is not None
                else sk.norm0
            ),
            tail_prices0=tails[k],
        )
    return bars, next_seeds


def advance_streams(
    raw_batch: DataFrame,
    cfg: SignalProcessingConfig,
    states: dict,
    stream_id: str,
    stats_ticks_per_bar: int = C.STATS_TICKS_PER_BAR,
) -> tuple[DataFrame, dict]:
    """advance() for a micro-batch holding MANY streams at once.

    ``states`` maps stream key -> StreamState (missing keys = start of
    stream); returns (processed, next_states). Mirrors the reference's
    one-TickHotLoopState-per-stream model without a per-stream driver
    loop: expansion and hot loop run ONCE over the whole batch with
    per-stream seeds broadcast-joined in, and every state extraction is
    a grouped aggregation collecting O(streams) rows — a constant number
    of Spark jobs per batch no matter how many streams it carries.
    """
    n = stats_ticks_per_bar
    expanded = expand_volume(
        raw_batch, stream_id,
        seeds={k: (st.prev_last, st.tick0) for k, st in states.items()},
    )
    processed = hot_loop(
        expanded, cfg, stream_id=stream_id, stats_ticks_per_bar=n,
        keep_internals=True, seed={k: st.hot for k, st in states.items()},
    ).cache()
    n_rows = processed.count()
    if n_rows == 0:
        processed.unpersist()
        return processed, dict(states)

    scale = 2.0 * float(cfg.cpm_modulation_index) * 2.0**31
    top = {
        r[stream_id]: r
        for r in processed.groupBy(stream_id).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("tick_idx").alias("max_tick"),
            F.max_by("raw_price", "tick_idx").alias("last_price"),
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("valid_b"),
            F.max("core_seq").alias("core_total"),
            F.min(F.when(F.col("is_valid"), F.col("tick_idx"))).alias("first_valid_tick"),
            F.max_by(F.col("ratio"), F.when(F.col("is_core"), F.col("tick_idx"))).alias("last_core_ratio"),
            F.max_by(F.col("inv_q16"), F.when(F.col("is_core"), F.col("tick_idx"))).alias("last_inv"),
            F.sum(
                F.when(F.col("is_core"), F.bround(F.col("ratio") * F.lit(scale), 0).cast("long")).otherwise(F.lit(0))
            ).alias("dp_sum"),
        ).collect()
    }
    keys = set(states) | set(top)
    seed_of = {k: states.get(k, StreamState()) for k in keys}
    core_total = {
        k: (int(top[k]["core_total"]) if k in top and top[k]["core_total"] is not None
            else seed_of[k].hot.core_seq0)
        for k in keys
    }

    # stats-bar bookkeeping, one grouped agg: the carried partial bar and
    # each stream's new trailing-partial ordinal ride in via a broadcast
    # seed table keyed by stream.
    key_t = raw_batch.schema[stream_id].dataType.simpleString()
    sd_rows = [
        (
            k,
            seed_of[k].hot.core_seq0 // n,
            seed_of[k].hot.partial_cnt0,
            seed_of[k].hot.partial_min0,
            seed_of[k].hot.partial_max0,
            core_total[k] // n if core_total[k] % n != 0 else None,
        )
        for k in keys
    ]
    sd = F.broadcast(processed.sparkSession.createDataFrame(
        sd_rows, f"{stream_id} {key_t}, _pb long, _pcnt long, _pmin long, _pmax long, _npo long"
    ))
    bars = (
        processed.where(F.col("is_core"))
        .groupBy(stream_id, "bar_ord")
        .agg(F.min("delta_w").alias("bmin"), F.max("delta_w").alias("bmax"),
             F.count(F.lit(1)).alias("cnt"))
        .join(sd, on=stream_id, how="left")
    )
    is_pb = (F.coalesce(F.col("_pcnt"), F.lit(0)) > 0) & (F.col("bar_ord") == F.col("_pb"))
    bars = bars.withColumn(
        "bmin", F.when(is_pb, F.least("bmin", F.col("_pmin"))).otherwise(F.col("bmin"))
    ).withColumn(
        "bmax", F.when(is_pb, F.greatest("bmax", F.col("_pmax"))).otherwise(F.col("bmax"))
    ).withColumn(
        "cnt", F.when(is_pb, F.col("cnt") + F.col("_pcnt")).otherwise(F.col("cnt"))
    )
    brow = {
        r[stream_id]: r
        for r in bars.groupBy(stream_id).agg(
            F.sum(F.when(F.col("cnt") == n, F.col("bmin"))).alias("add_bmin"),
            F.sum(F.when(F.col("cnt") == n, F.col("bmax"))).alias("add_bmax"),
            F.max(F.when(F.col("bar_ord") == F.col("_npo"), F.col("bmin"))).alias("p_min"),
            F.max(F.when(F.col("bar_ord") == F.col("_npo"), F.col("bmax"))).alias("p_max"),
            F.max(F.when(F.col("bar_ord") == F.col("_npo"), F.col("cnt"))).alias("p_cnt"),
        ).collect()
    }

    next_states: dict = {}
    for k in keys:
        st = seed_of[k]
        s = st.hot
        if k not in top:  # stream idle this batch: unchanged
            next_states[k] = st
            continue
        t, b = top[k], brow.get(k)
        nr = int(t["n_rows"])
        if s.n_valid0 > 0:
            zero_b = 0
        elif t["first_valid_tick"] is None:
            zero_b = nr
        else:
            zero_b = int(t["first_valid_tick"]) - st.tick0 - 1
        p_cnt = int(b["p_cnt"] or 0) if b is not None else 0
        p_min = int(b["p_min"]) if b is not None and b["p_min"] is not None else None
        p_max = int(b["p_max"]) if b is not None and b["p_max"] is not None else None
        npo = core_total[k] // n if core_total[k] % n != 0 else None
        if p_cnt == 0 and npo == s.core_seq0 // n and s.partial_cnt0 > 0:
            # carried partial bar got no new core ticks this batch
            p_cnt, p_min, p_max = s.partial_cnt0, s.partial_min0, s.partial_max0
        next_hot = HotLoopSeed(
            n_valid0=s.n_valid0 + int(t["valid_b"] or 0),
            core_seq0=core_total[k],
            sum_bmin0=s.sum_bmin0 + (int(b["add_bmin"] or 0) if b is not None else 0),
            sum_bmax0=s.sum_bmax0 + (int(b["add_bmax"] or 0) if b is not None else 0),
            partial_cnt0=p_cnt,
            partial_min0=p_min,
            partial_max0=p_max,
            inv_q16_0=int(t["last_inv"]) if t["last_inv"] is not None else s.inv_q16_0,
            cpm_theta0=(s.cpm_theta0 + int(t["dp_sum"] or 0)) % C.Q32_MOD,
            amc_n0=s.amc_n0 + (nr - zero_b),
            last_core_ratio0=(
                float(t["last_core_ratio"]) if t["last_core_ratio"] is not None
                else s.last_core_ratio0
            ),
        )
        next_states[k] = StreamState(
            tick0=int(t["max_tick"]), prev_last=int(t["last_price"]), hot=next_hot
        )
    return processed, next_states
