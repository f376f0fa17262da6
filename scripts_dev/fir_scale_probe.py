"""FIR scatter scale probe (r15): serial vs chunked _fir_averages over
one giant 1-partition stream (3M ticks, ~10x sf0.1). Measured on the
round-15 box: serial 10.67 s (1-task stages) vs chunked 2.06 s (5.2x,
32-task explode stages) -- the scatter bar_aggregate takes whenever its
ticks are in the two-pass posture (a chunk column stamped by
globalorder.add_chunk, carried from the source through the chain); the
sub-threshold windowed posture keeps the fused serial scatter, which
measures faster at sf0.1 (1.94 vs 2.29 s bench entry at matched
probe_ratio).

Usage: python scripts_dev/fir_scale_probe.py
"""
import json, shutil, sys, time, os
sys.path.insert(0, ".")
evdir = "/tmp/fir-probe-ev"
shutil.rmtree(evdir, ignore_errors=True); os.makedirs(evdir)
from pyspark.sql import SparkSession
SparkSession.builder.master("local[32]").config(
    "spark.eventLog.enabled", "true").config(
    "spark.eventLog.dir", evdir).config(
    "spark.eventLog.compress", "false").getOrCreate()
from tickdatapipeline_spark.session import get_spark
from tickdatapipeline_spark.functions.fir import design_decimation_filter
from tickdatapipeline_spark.operators.bars import _fir_averages
from pyspark.sql import functions as F
spark = get_spark("fir-probe"); spark.sparkContext.setLogLevel("ERROR")
N = 3_000_000  # ~10x the sf0.1 tick count, ONE partition (a giant stream)
ticks = spark.range(N).select(
    (F.col("id") + 1).alias("tick_idx"),
    (F.col("id") % 97 + 41970).alias("raw_price"),
).coalesce(1).localCheckpoint()  # pinned 1-partition input
taps = design_decimation_filter(5)
res = {}
for label, chunked in (("serial", False), ("chunked", True)):
    best = None
    for _ in range(2):
        spark.sparkContext.setJobDescription(f"fir:{label}")
        t0 = time.time()
        _fir_averages(ticks, [], taps, step=5, chunked=chunked) \
            .write.format("noop").mode("overwrite").save()
        best = min(best or 9e9, time.time() - t0)
    res[label] = round(best, 2)
print(json.dumps(res))
spark.stop()
# task counts per job description
import json as J
from pathlib import Path
desc_of_job, stage_job, stages = {}, {}, {}
for f in Path(evdir).glob("**/*"):
    if not f.is_file(): continue
    for line in open(f, errors="replace"):
        try: ev = J.loads(line)
        except Exception: continue
        if not isinstance(ev, dict): continue
        if ev.get("Event") == "SparkListenerJobStart":
            desc_of_job[ev["Job ID"]] = (ev.get("Properties") or {}).get("spark.job.description", "")
            for sid in ev.get("Stage IDs", []): stage_job[sid] = ev["Job ID"]
        elif ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = si.get("Number of Tasks")
from collections import defaultdict
per = defaultdict(list)
for sid, n in sorted(stages.items()):
    per[desc_of_job.get(stage_job.get(sid), "")].append(n)
print({k: v for k, v in per.items() if k.startswith("fir:")})
