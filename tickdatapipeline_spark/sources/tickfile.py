"""Tick sources.

S1-S3 from SURVEY.md §2.1: semicolon tick-file scan, tokenizer and
malformed-record skip (/root/reference/src/VolumeExpansion.jl:95-113,
:145-218). Plus a deterministic derivation of the same tick shape from
the driver's `events` parquet table, used so the Spark engine and the
DuckDB oracle see identical inputs without writing new files.

Scale note: the reader is a plain distributed text scan; `line_no` is a
within-stream ordering key. At 100 TB you ingest one file/partition per
session (trading day) and make `stream_id` a partition column — every
downstream window partitions by it, so no global single-partition
ordering ever materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tickdatapipeline_spark.sources.io import read_parquet

# Raw tick schema: "yyyymmdd hhmmss uuuuuuu;bid;ask;last;volume"
# (README.md:137-154, VolumeExpansion.jl:84-113)


def read_tick_file(
    spark: SparkSession, path: str, distributed_numbering: bool = False
) -> DataFrame:
    """Parse a semicolon tick file into (line_no, ts_str, bid, ask, last, volume).

    Mirrors parse_tick_line (VolumeExpansion.jl:95-113): split on ';',
    require exactly 5 fields, integer-parse fields 2-5 (null on failure),
    silently drop empty/malformed lines (:162-171). `line_no` numbers the
    *parsed* lines, matching the reference's first_tick/previous_last
    bookkeeping which only advances on successful parses.

    ``distributed_numbering``: number lines with the two-pass chunked
    formulation instead of a SinglePartition row_number window. The
    natural chunk is the FILE SPLIT: ``monotonically_increasing_id()``
    is (partition_index << 33) + offset for a text scan, so its high
    bits are a monotone chunk id in file-byte order and the low bits
    order lines within the split — line_no = split-local row_number +
    broadcast per-split count offsets (operators/globalorder.py). Same
    values. The split-keyed chunk column is not stamped by ``add_chunk``,
    so the frame stays in the windowed posture downstream.
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), ";")
    df = (
        lines.withColumn("_mid", F.monotonically_increasing_id())
        .where(F.length(F.trim(F.col("value"))) > 0)
        .withColumn("_parts", parts)
        # F.get is 0-based and null-safe on short arrays (ANSI mode keeps
        # element_at strict); try_cast nulls out non-integer fields.
        .withColumn("ts_str", F.trim(F.get("_parts", 0)))
        .withColumn("bid", F.trim(F.get("_parts", 1)).try_cast("long"))
        .withColumn("ask", F.trim(F.get("_parts", 2)).try_cast("long"))
        .withColumn("last", F.trim(F.get("_parts", 3)).try_cast("long"))
        .withColumn("volume", F.trim(F.get("_parts", 4)).try_cast("long"))
        .where(
            (F.size("_parts") == 5)
            & F.col("bid").isNotNull()
            & F.col("ask").isNotNull()
            & F.col("last").isNotNull()
            & F.col("volume").isNotNull()
        )
    )
    if not distributed_numbering:
        return (
            df.withColumn("line_no", F.row_number().over(Window.orderBy("_mid")))
            .select("line_no", "ts_str", "bid", "ask", "last", "volume")
        )

    from tickdatapipeline_spark.operators.globalorder import (
        GO_CHUNK,
        chunk_offsets_plan,
    )

    df = df.withColumn(GO_CHUNK, F.shiftrightunsigned("_mid", 33))
    off = chunk_offsets_plan(df, sums={"_go_ln0": F.lit(1)})
    wloc = Window.partitionBy(GO_CHUNK).orderBy("_mid")
    return (
        df.join(F.broadcast(off), on=GO_CHUNK, how="left")
        .select(
            (F.row_number().over(wloc) + F.coalesce("_go_ln0", F.lit(0)))
            .cast("long").alias("line_no"),
            "ts_str", "bid", "ask", "last", "volume", GO_CHUNK,
        )
    )


# --- deterministic events -> ticks derivation (shared with DuckDB oracle) ---
#
# Pure 64-bit integer arithmetic (an LCG step on event_id) so both engines
# compute bit-identical inputs. Produces out-of-range spikes every 211th
# event (exercises hold-last, TickHotLoopF32.jl:304-326) and +75 jumps
# every 97th event (exercises the jump guard :347-351).

# field derivation without the line_no window, so the Spark two-pass
# path can number lines distributedly; the windowed wrapper below is the
# oracle/default shape
_TICKS_FIELDS_CORE = """
SELECT
    event_id,
    printf('%08d %06d 0000000',
           20250319 + event_id // 240000,
           event_id % 240000)                                     AS ts_str,
    CAST(px - 1 AS BIGINT)                                        AS bid,
    CAST(px + 1 AS BIGINT)                                        AS ask,
    CAST(px AS BIGINT)                                            AS last,
    CAST(1 + m % 5 AS BIGINT)                                     AS volume
FROM (
    SELECT event_id, m,
           CASE WHEN event_id % 211 = 0 THEN 99999
                ELSE 41970 + (m % 101) - 50
                     + CASE WHEN event_id % 97 = 0 THEN 75 ELSE 0 END
           END AS px
    FROM (
        SELECT event_id,
               (event_id * 1103515245 + 12345) % 2147483648 AS m
        FROM {events}
    )
)
"""

_TICKS_FROM_EVENTS_CORE = (
    "SELECT row_number() OVER (ORDER BY event_id) AS line_no,\n"
    "       ts_str, bid, ask, last, volume\n"
    "FROM (" + _TICKS_FIELDS_CORE + ")"
)

# DuckDB dialect: // is integer division, printf is C-style.
TICKS_FROM_EVENTS_SQL = _TICKS_FROM_EVENTS_CORE.format(events="events")


def _spark_dialect(sql: str) -> str:
    # Spark dialect: DIV for integer division; format_string == printf.
    return sql.replace("event_id // 240000", "event_id DIV 240000").replace(
        "printf(", "format_string(")


def _dense_chunked(df: DataFrame, key_expr: str, chunk_size: int) -> DataFrame:
    """Two-pass posture for a closed-form-numbered fixture source.

    ``add_chunk`` stamps the chunk column; the density claim (r15) joins
    it: downstream, expand_volume's existing per-chunk offsets aggregate
    verifies that ``line_no`` really is the dense 1-based row number
    (``GO_CHUNK == (line_no-1) DIV chunk_size``) and RAISES loudly on a
    gapped/duplicated/re-keyed events table instead of silently
    misnumbering every line — the closed forms are exact ONLY for
    contiguous 0-based event_ids (the fixture generator's invariant).
    Schema metadata survives select/repartition/localCheckpoint, so the
    check rides an aggregate that already exists (no extra pass).

    A small events file arrives as ONE scan partition, which would
    serialize the pin's materialization AND every downstream consumer
    of the checkpoint (offsets groupBys, the expansion's explode all
    read the pin's partitioning); fan_out is a no-op at scale, where
    the scan already has many splits (guide: repartition right after a
    narrow read, before the row-multiplying stages). The pin lets the
    chain's offsets subqueries and main plan read one materialization.
    """
    from tickdatapipeline_spark.functions.scale import fan_out
    from tickdatapipeline_spark.operators.globalorder import GO_CHUNK, add_chunk, pin

    df = add_chunk(df, key_expr, chunk_size)
    meta = {**df.schema[GO_CHUNK].metadata, "go_dense_order": "line_no"}
    return pin(fan_out(df.withMetadata(GO_CHUNK, meta)))


def ticks_from_events(
    spark: SparkSession, sf_dir: str, chunk_size: int | None = None,
) -> DataFrame:
    """ticks_raw fixture derived from {sf_dir}/events.parquet (FIXTURES.md F1).

    With ``chunk_size``, the frame is in the two-pass posture
    (operators/globalorder.py): it carries the chunk column
    (event_id DIV chunk_size) that every downstream tick operator
    reads, and line numbering needs no SinglePartition row_number
    window. Values are identical to the windowed form.
    """
    read_parquet(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView("__events_src")
    if chunk_size is None:
        return spark.sql(_spark_dialect(_TICKS_FROM_EVENTS_CORE).format(events="__events_src"))

    from tickdatapipeline_spark.operators.globalorder import GO_CHUNK

    # closed-form line numbering (r14): row_number() OVER (ORDER BY
    # event_id) over the driver generator's contiguous 0-based event_ids
    # is exactly event_id + 1 — the same closed form
    # ticks_from_events_streams already uses per stream — so the chunked
    # source needs neither a per-chunk row_number window nor a
    # chunk-offsets subquery (one full-data window pass and one offsets
    # job fewer per query; values identical, oracle-hash-verified).
    base = spark.sql(_spark_dialect(_TICKS_FIELDS_CORE).format(events="__events_src"))
    return _dense_chunked(base, "event_id", chunk_size).select(
        (F.col("event_id") + 1).cast("long").alias("line_no"),
        "ts_str", "bid", "ask", "last", "volume", GO_CHUNK,
    )


def read_tick_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Multi-file scan: one logical stream per file (the deployment unit).

    Output adds a `stream` column (the file path); `line_no` restarts per
    file and every window downstream partitions by stream — this is the
    read path that scales, unlike read_tick_file's single global order.
    """
    lines = spark.read.text(path_glob).withColumn("stream", F.input_file_name())
    parts = F.split(F.col("value"), ";")
    w = Window.partitionBy("stream").orderBy(F.monotonically_increasing_id())
    return (
        lines.where(F.length(F.trim(F.col("value"))) > 0)
        .withColumn("_parts", parts)
        .withColumn("ts_str", F.trim(F.get("_parts", 0)))
        .withColumn("bid", F.trim(F.get("_parts", 1)).try_cast("long"))
        .withColumn("ask", F.trim(F.get("_parts", 2)).try_cast("long"))
        .withColumn("last", F.trim(F.get("_parts", 3)).try_cast("long"))
        .withColumn("volume", F.trim(F.get("_parts", 4)).try_cast("long"))
        .where(
            (F.size("_parts") == 5)
            & F.col("bid").isNotNull()
            & F.col("ask").isNotNull()
            & F.col("last").isNotNull()
            & F.col("volume").isNotNull()
        )
        .withColumn("line_no", F.row_number().over(w))
        .select("stream", "line_no", "ts_str", "bid", "ask", "last", "volume")
    )


# --- multi-stream variant: the 100 TB deployment shape ---
#
# One logical stream per session/day; here streams are derived by
# event_id % N so both engines agree. line_no is PER-STREAM, and every
# downstream window partitions by `stream` — no global ordering, no
# single-partition shuffle anywhere in the plan.

_TICKS_STREAMS_CORE = """
SELECT
    CAST(event_id % {n_streams} AS BIGINT)                        AS stream,
    row_number() OVER (PARTITION BY event_id % {n_streams}
                       ORDER BY event_id)                         AS line_no,
    printf('%08d %06d 0000000',
           20250319 + event_id {intdiv} 240000,
           event_id % 240000)                                     AS ts_str,
    CAST(px - 1 AS BIGINT)                                        AS bid,
    CAST(px + 1 AS BIGINT)                                        AS ask,
    CAST(px AS BIGINT)                                            AS last,
    CAST(1 + m % 5 AS BIGINT)                                     AS volume
FROM (
    SELECT event_id, m,
           CASE WHEN event_id % 211 = 0 THEN 99999
                ELSE 41970 + (m % 101) - 50
                     + CASE WHEN event_id % 97 = 0 THEN 75 ELSE 0 END
           END AS px
    FROM (
        SELECT event_id,
               (event_id * 1103515245 + 12345) % 2147483648 AS m
        FROM {events}
    )
)
"""

N_STREAMS = 4


def ticks_streams_sql(n_streams: int = N_STREAMS) -> str:
    """DuckDB dialect."""
    return _TICKS_STREAMS_CORE.format(n_streams=n_streams, intdiv="//", events="events")


def ticks_from_events_streams(
    spark: SparkSession, sf_dir: str, n_streams: int = N_STREAMS,
    chunk_size: int | None = None,
) -> DataFrame:
    """With ``chunk_size``: the at-scale variant — per-stream line_no
    comes from the closed form ``event_id DIV n_streams + 1`` (exact for
    the driver generator's contiguous 0-based event_ids, identical to
    the row_number the windowed form computes) and the frame is in the
    two-pass posture (per-stream chunk column stamped by ``add_chunk``),
    so not even the SOURCE plans a per-stream serial window."""
    read_parquet(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView("__events_src")
    sql = _TICKS_STREAMS_CORE.format(
        n_streams=n_streams, intdiv="DIV", events="__events_src"
    ).replace("printf(", "format_string(")
    if chunk_size is None:
        return spark.sql(sql)
    closed = sql.replace(
        f"row_number() OVER (PARTITION BY event_id % {n_streams}\n"
        f"                       ORDER BY event_id)",
        f"CAST(event_id DIV {n_streams} + 1 AS BIGINT)",
    )
    assert closed != sql, "line_no window not found for closed-form rewrite"
    return _dense_chunked(spark.sql(closed), "line_no - 1", chunk_size)
