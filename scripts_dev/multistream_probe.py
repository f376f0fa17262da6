"""Multistream scale probe: per-stream windowed vs per-stream chunked.

Generates N synthetic ticks split across S streams and times the full
hot loop (derivative encode) under both formulations — the few-long-
streams case where the per-stream serial window caps throughput and
the (stream, chunk) two-pass plan restores core scaling (PERF.md).

Usage: python scripts_dev/multistream_probe.py [n_ticks [n_streams [chunk]]]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_streams = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    chunk = int(sys.argv[3]) if len(sys.argv) > 3 else 131_072

    from pyspark.sql import functions as F

    from tickdatapipeline_spark.operators.globalorder import add_chunk
    from tickdatapipeline_spark.operators.hotloop import hot_loop
    from tickdatapipeline_spark.plans.common import SP_DERIV
    from tickdatapipeline_spark.session import get_spark

    spark = get_spark("multistream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    raw = spark.range(1, n + 1).select(
        (F.col("id") % n_streams).cast("string").alias("stream"),
        ((F.col("id") - 1) / n_streams + 1).cast("long").alias("tick_idx"),
        F.lit(0).cast("long").alias("timestamp"),
        (F.lit(41970) + (F.col("id") * 7) % 11).cast("long").alias("raw_price"),
        ((F.col("id") * 3) % 7 - 3).cast("long").alias("price_delta"),
    )
    for tag, ticks in (("windowed", raw),
                       ("chunked", add_chunk(raw, "tick_idx - 1", chunk))):
        df = hot_loop(ticks, SP_DERIV, stream_id="stream")
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        print(f"{n_streams} streams x {n // n_streams:,} ticks  {tag:<9} "
              f"{dt:6.2f} s  ({n / dt / 1e3:6.0f} K ticks/s)")
    spark.stop()


if __name__ == "__main__":
    main()
