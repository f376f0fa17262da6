"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

ENGINE_MODULES = ("tickdatapipeline_spark", "__spark_entry__")


def _is_engine(module: str | None) -> bool:
    return bool(module) and module.split(".")[0] in ENGINE_MODULES


def _forbidden(name: str) -> bool:
    return name.startswith("_") or name.startswith("set_")


def engine_api_violations(source: str) -> list[str]:
    """Uses of the engine beyond its stable public surface: a setter or
    underscore name imported from it or read off one of its modules, or
    a ``chunk_size`` argument passed anywhere."""
    tree = ast.parse(source)
    aliases: set[str] = set()
    bad: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and _is_engine(node.module):
            for a in node.names:
                if _forbidden(a.name):
                    bad.append(f"line {node.lineno}: imports {a.name} from {node.module}")
                aliases.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name):
                    aliases.add(a.asname or a.name.split(".")[0])
                    if any(_forbidden(p) for p in a.name.split(".")[1:]):
                        bad.append(f"line {node.lineno}: imports {a.name}")
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in aliases and _forbidden(node.attr)):
            bad.append(f"line {node.lineno}: uses {node.value.id}.{node.attr}")
        if isinstance(node, ast.Call):
            for kw in node.keywords:
                if kw.arg == "chunk_size":
                    bad.append(f"line {node.lineno}: passes chunk_size=")
    return bad


@pytest.mark.parametrize("path", sorted(HERE.glob("*.py")), ids=lambda p: p.name)
def test_benchmark_uses_only_the_public_engine_api(path):
    assert engine_api_violations(path.read_text()) == []


def test_api_check_catches_each_forbidden_use():
    src = "\n".join([
        "from tickdatapipeline_spark.plans.common import set_ticks_cache, _chain",
        "import tickdatapipeline_spark.plans.common as common",
        "common._TWO_PASS_THRESHOLD",
        "common.set_two_pass_threshold(0)",
        "from tickdatapipeline_spark.operators.hotloop import hot_loop",
        "hot_loop(df, cfg, chunk_size=8192)",
    ])
    assert len(engine_api_violations(src)) == 5
    assert engine_api_violations("from tickdatapipeline_spark.plans.common import processed_ticks") == []


def test_events_are_seeded_dense_and_match_the_fixture_schema(tmp_path):
    a = gen.write_events(tmp_path / "a", 5000, seed=7)
    b = gen.write_events(tmp_path / "b", 5000, seed=7)
    c = gen.write_events(tmp_path / "c", 5000, seed=8)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()
    t = pq.read_table(a)
    assert t.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert [str(f.type) for f in t.schema] == [
        "int64", "timestamp[us]", "int64", "string", "double", "string"]
    assert t.column("event_id").to_pylist() == list(range(5000))


def test_documents_follow_their_knobs(tmp_path):
    p = gen.write_documents(tmp_path / "d", 2000, seed=3, vocab=300, min_len=10, max_len=12,
                            near_dup_share=0.25)
    assert p.read_bytes() == gen.write_documents(
        tmp_path / "e", 2000, seed=3, vocab=300, min_len=10, max_len=12,
        near_dup_share=0.25).read_bytes()
    t = pq.read_table(p)
    assert t.column("doc_id").to_pylist() == list(range(2000))
    texts = t.column("text").to_pylist()
    lengths = {len(x.split()) for x in texts}
    assert min(lengths) >= 10 and max(lengths) <= 12
    assert {w for x in texts for w in x.split()} <= {f"w{i}" for i in range(300)}
    # each near-duplicate differs from some earlier document in <= EDITS tokens
    seen: list[list[str]] = []
    dups = 0
    for x in texts:
        toks = x.split()
        if any(len(s) == len(toks) and sum(u != v for u, v in zip(s, toks)) <= gen.EDITS
               for s in seen):
            dups += 1
        seen.append(toks)
    assert 0.2 < dups / 2000 < 0.3


def test_digest_ignores_row_order_and_storage_width():
    t = pa.table({"b": pa.array([1, 2, 2], pa.int32()), "a": [0.5, 1.5, 1.5]})
    u = pa.table({"a": [1.5, 0.5, 1.5], "b": pa.array([2, 1, 2], pa.int64())})
    assert check.digest_table(t) == check.digest_table(u)
    assert check.digest_table(t) != check.digest_table(t.slice(0, 2))
    as_float = pa.table({"b": [1.0, 2.0, 2.0], "a": [0.5, 1.5, 1.5]})
    assert check.digest_table(t) != check.digest_table(as_float)


def test_oracle_cache_reuses_a_digest_and_rejects_unexposed_columns(tmp_path):
    src = gen.write_events(tmp_path / "ev", 100, seed=1)
    cache = check.OracleCache(tmp_path / "cache", tmp_path / "tmp")
    inputs = {"events": (src, ["event_id"])}
    first = cache.digest("SELECT event_id * 2 AS x FROM events", inputs)
    again = cache.digest("SELECT event_id * 2 AS x FROM events", inputs)
    assert first == again and first.rows == 100 and cache.computed == 1
    with pytest.raises(Exception, match="value"):
        cache.digest("SELECT value FROM events", inputs)


def test_spark_metric_strings_parse_to_base_units():
    assert tracing.parse_metric("412 ms") == pytest.approx(0.412)
    assert tracing.parse_metric("12,000") == 12000
    assert tracing.parse_metric("1.5 MiB") == 1.5 * 2**20
    agg = "total (min, med, max (stageId: taskId))\n18.3 s (4.3 s, 4.8 s, 4.9 s (stage 23.0: task 14))"
    assert tracing.parse_metric(agg) == pytest.approx(18.3)
    assert tracing.node_kind("WholeStageCodegen (12)") == "WholeStageCodegen"
    assert tracing.node_kind("Scan parquet ") == "ScanParquet"
    assert tracing.node_kind("Execute InsertIntoHadoopFsRelationCommand") == \
        "InsertIntoHadoopFsRelation"


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    import run
    import workloads

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: run.layer_unit(n) for n in workloads.PER_LAYER}
