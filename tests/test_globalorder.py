"""Direct tests of the chunk-offsets hierarchy (operators/globalorder.py),
specifically forcing the MULTI-SUPER triangular-join path that production
only reaches past super_size (1024) chunks — sums, mod reduction, carries
and per-key (stream) locality, each checked against a naive Python
computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tickdatapipeline_spark.operators.globalorder import (
    GO_CHUNK,
    add_chunk,
    chunk_offsets_plan,
    set_super_size,
)


@pytest.fixture(autouse=True)
def tiny_supers():
    set_super_size(2)  # chunks 0-1 -> super 0, 2-3 -> super 1, ...
    yield
    set_super_size(None)


def make(spark, rows_per_stream, chunk=3, streams=("A",)):
    rows = []
    for s in streams:
        base = ord(s)
        for i in range(rows_per_stream):
            # value pattern with nulls for the carry checks
            v = None if (i + base) % 4 == 0 else (i * 7 + base) % 23
            rows.append((s, i, v))
    df = spark.createDataFrame(rows, "k string, pos long, v long")
    return add_chunk(df, "pos", chunk), rows, chunk


def naive_offsets(rows, chunk, mod=None):
    """Per (key, chunk): exclusive prefix sum of v (nulls=0) and the last
    non-null v of preceding chunks."""
    out = {}
    by_key: dict = {}
    for k, pos, v in rows:
        by_key.setdefault(k, []).append((pos, v))
    for k, items in by_key.items():
        items.sort()
        n_chunks = max(p for p, _ in items) // chunk + 1
        run_sum, last_v = 0, None
        for c in range(n_chunks):
            member = [(p, v) for p, v in items if p // chunk == c]
            out[(k, c)] = (run_sum % mod if mod else run_sum, last_v)
            run_sum += sum(v or 0 for _, v in member)
            nn = [v for _, v in member if v is not None]
            if nn:
                last_v = nn[-1]
    return out


def test_sums_and_carries_across_supers(spark):
    # 8 chunks of 3 rows -> 4 supers of 2 -> triangular join is live
    df, rows, chunk = make(spark, 24)
    offs = chunk_offsets_plan(
        df,
        sums={"s0": F.coalesce(F.col("v"), F.lit(0))},
        carries={"c0": (F.col("pos"), F.col("v"))},
    )
    got = {r[GO_CHUNK]: (r.s0, r.c0) for r in offs.collect()}
    want = naive_offsets(rows, chunk)
    assert got == {c: sv for (_k, c), sv in want.items()}
    assert len(got) == 8  # all chunks present


def test_mod_reduction_at_every_level(spark):
    df, rows, chunk = make(spark, 24)
    offs = chunk_offsets_plan(
        df, sums={"s0": F.coalesce(F.col("v"), F.lit(0))}, mods={"s0": 7},
    )
    got = {r[GO_CHUNK]: r.s0 for r in offs.collect()}
    want = naive_offsets(rows, chunk, mod=7)
    assert got == {c: s for (_k, c), (s, _l) in want.items()}


def test_per_key_locality_across_supers(spark):
    # three streams with different lengths; offsets must never leak
    # across keys even when the triangular join is multi-super
    df, rows, chunk = make(spark, 24, streams=("A", "B", "C"))
    offs = chunk_offsets_plan(
        df,
        sums={"s0": F.coalesce(F.col("v"), F.lit(0))},
        carries={"c0": (F.col("pos"), F.col("v"))},
        keys=["k"],
    )
    got = {(r.k, r[GO_CHUNK]): (r.s0, r.c0) for r in offs.collect()}
    assert got == naive_offsets(rows, chunk)


@pytest.mark.heavy
def test_hot_loop_chunked_equality_survives_multi_super(spark):
    """End-to-end: with super_size forced to 2 the flagship chunked plans
    (derivative carries, CPM mod-reduced sums) must still equal the
    windowed plan — the cross-SUPER composition is what production hits
    at >1024 chunks per stream."""
    from tests.conftest import make_ticks_raw
    from tickdatapipeline_spark.config import SignalProcessingConfig
    from tickdatapipeline_spark.operators.expansion import expand_volume
    from tickdatapipeline_spark.operators.hotloop import hot_loop

    TS = "20250319 120000 0000000"
    rows = []
    price = 41970
    for i in range(60):
        price += (i * 7) % 11 - 5
        if i == 13:
            rows.append((i + 1, TS, 99999, 1))
            continue
        rows.append((i + 1, TS, price, 1 + i % 3))
    raw = make_ticks_raw(spark, rows)
    for enc in ("derivative", "cpm"):
        cfg = SignalProcessingConfig(encoder_type=enc, cpm_modulation_index=0.2,
                                     tick_derivative_imag_scale=2.0)
        win = hot_loop(expand_volume(raw), cfg, stats_ticks_per_bar=8)
        chk = hot_loop(expand_volume(add_chunk(raw, "line_no", 7)), cfg,
                       stats_ticks_per_bar=8)
        a = win.orderBy("tick_idx").toPandas()
        b = chk.orderBy("tick_idx").select(list(a.columns)).toPandas()
        assert a.equals(b), enc


def test_max_supers_guard(spark):
    """The two-level offsets hierarchy broadcasts one row per super; a
    super id at/past max_supers (misconfigured tiny chunk_size on an
    enormous stream) must RAISE at execution, not degrade the broadcast.
    Within the bound the guard is invisible."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from tickdatapipeline_spark.operators.globalorder import MAX_SUPERS

    assert MAX_SUPERS >= 1 << 20  # production default stays exabyte-class

    df, rows, chunk = make(spark, 30)  # super_size=2, chunks 0-9 -> supers 0-4
    ok = chunk_offsets_plan(df, sums={"off": F.coalesce("v", F.lit(0))},
                            keys=["k"], max_supers=5)
    naive = naive_offsets(rows, chunk)
    got = {(r.k, r[GO_CHUNK]): r.off for r in ok.collect()}
    assert got == {kc: s for kc, (s, _l) in naive.items()}

    bad = chunk_offsets_plan(df, sums={"off": F.coalesce("v", F.lit(0))},
                             keys=["k"], max_supers=4)
    with pytest.raises(SparkRuntimeException, match="max_supers=4"):
        bad.collect()
