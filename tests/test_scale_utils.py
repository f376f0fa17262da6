"""Skew-salting and bucketed-join utilities: correctness + plan shape."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tickdatapipeline_spark.functions.scale import (
    salted_join,
    shuffle_partitions,
    write_bucketed,
)


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    # heavily skewed left: 90% of rows share key 1
    left = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame([(1, "hot"), (950, "cold")], "k long, v string")
    plain = left.join(right, "k").select("k", "payload", "v")
    salted = salted_join(left, right, "k", salt_buckets=8, tiebreaker="payload").select(
        "k", "payload", "v"
    )
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b and len(a) == 901


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(1, 10), (2, 20)], "k long, payload long")
    right = spark.createDataFrame([(1, "x")], "k long, v string")
    out = salted_join(left, right, "k", salt_buckets=4, tiebreaker="payload", how="left")
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {(1, "x"), (2, None)}


def test_shuffle_partitions_falls_back_on_non_integer_conf():
    """A platform may set spark.sql.shuffle.partitions to "auto" (a
    real local session rejects that value, so a stub stands in): the
    explicit-repartition sites then use defaultParallelism instead of
    raising ValueError."""
    from types import SimpleNamespace

    def stub(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: {"spark.sql.shuffle.partitions": value}[key]),
            sparkContext=SimpleNamespace(defaultParallelism=7),
        )

    assert shuffle_partitions(stub("200")) == 200
    assert shuffle_partitions(stub("auto")) == 7


def test_bucketed_join_has_no_exchange(spark):
    # tables land in the default ./spark-warehouse (gitignored)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed(orders, "orders_b", "o_orderkey", 4)
    write_bucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "lineitem_b", "o_orderkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        j = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        plan = physical(j)
        # co-located bucketed join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


@pytest.mark.heavy
def test_skew_playbook_end_to_end(spark):
    """DEPLOYMENT.md skew playbook, both steps on ONE skewed dataset:
    step 1 — the `events_key_skew` diagnostic (key_skew_profile) reads
    Gini > 0.6 on a key distribution where one user dominates (the
    playbook's salt-it threshold); step 2 — the prescribed remedy,
    `functions/scale.salted_join`, joins that same skewed key
    row-identically to the plain join, and the physical plan shows the
    salt machinery: the small side EXPLODED into salt_buckets copies
    and `_salt` as an equi-join key, so the hot key's rows spread over
    salt_buckets shuffle partitions instead of one straggler task."""
    # 950 of 1000 events from user 1, the rest spread over 50 users
    ev = spark.range(1000).select(
        F.lit("click").alias("event_type"),
        F.when(F.col("id") < 950, F.lit(1)).otherwise(F.col("id") % 50 + 100)
        .alias("user_id"),
        F.col("id").alias("payload"),
    )

    # --- step 1: diagnose ---
    from tickdatapipeline_spark.plans.beyond import key_skew_profile

    prof = key_skew_profile(ev.select("event_type", "user_id")).collect()
    assert len(prof) == 1
    assert prof[0].gini > 0.6 and prof[0].top_user_share > 0.9

    # --- step 2: remedy ---
    users = spark.createDataFrame(
        [(1, "hot"), (100, "cold"), (101, "cold")], "user_id long, tier string"
    )
    plain = ev.join(users, "user_id").select("user_id", "payload", "tier")
    salted = salted_join(ev, users, "user_id", salt_buckets=8,
                         tiebreaker="payload").select("user_id", "payload", "tier")
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b and len(a) > 950  # hot key fully matched, no dup/loss

    plan = physical(salted)
    assert "_salt" in plan              # salt participates in the join keys
    assert "explode" in plan.lower()    # small side fanned into 8 copies


def test_runtime_bloom_filter_injects_and_preserves_rows(spark):
    """runtime_bloom_confs arms InjectRuntimeFilter on THIS engine
    build: with a selective build side and a shuffle join, the
    optimized plan gains a might_contain probe-side filter, and the
    result is row-identical to the un-armed join (bloom false
    positives only skip the prune — they never change the answer)."""
    from tickdatapipeline_spark.functions.scale import runtime_bloom_confs

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet").where(
        "o_orderpriority = '1-URGENT'"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_orderpriority"
    )
    baseline = sorted(tuple(r) for r in j.collect())

    saved = {
        k: spark.conf.get(k)
        for k in list(runtime_bloom_confs()) + ["spark.sql.autoBroadcastJoinThreshold"]
    }
    try:
        # tiny thresholds so sf0.001 qualifies; broadcast off to force
        # the shuffle join the bloom filter exists for
        for k, v in runtime_bloom_confs(
            creation_side_threshold="10GB",
            application_side_scan_threshold="0",
        ).items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        armed = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = armed._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        assert sorted(tuple(r) for r in armed.collect()) == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.heavy
def test_zorder_value_matches_python_mirror(spark):
    """Morton interleave golden: bit b of column i lands at b*N + i."""
    from tickdatapipeline_spark.functions.scale import zorder_value

    def z_py(vals, bits):
        n = len(vals)
        out = 0
        for i, v in enumerate(vals):
            v &= (1 << bits) - 1
            for b in range(bits):
                out |= ((v >> b) & 1) << (b * n + i)
        return out

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 17), (2**21 - 1, 12345)]
    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", zorder_value(["x", "y"]).alias("z")
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    assert got == {(x, y): z_py([x, y], 21) for x, y in rows}
    # 3-column interleave stays in range and round-trips the mirror
    df3 = spark.createDataFrame([(7, 8, 9)], "a long, b long, c long").select(
        zorder_value(["a", "b", "c"], bits=10).alias("z")
    )
    assert df3.collect()[0].z == z_py([7, 8, 9], 10)


@pytest.mark.heavy
def test_zorder_layout_prunes_query_boxes(spark, tmp_path):
    """Z-ordered files cover small (x, y) hyper-rectangles: for a
    small query box, the fraction of files whose footer min/max box
    intersects it must be well under the naive layout's (where every
    file spans the whole space and NOTHING prunes)."""
    import pyarrow.parquet as pq

    from tickdatapipeline_spark.functions.scale import write_zordered

    # deterministic scatter over a 256x256 grid (LCG on id)
    df = spark.range(4096).select(
        ((F.col("id") * 1103515245 + 12345) % 256).alias("x"),
        ((F.col("id") * 69069 + 1) % 256).alias("y"),
        F.col("id").alias("payload"),
    )
    zdir, ndir = str(tmp_path / "zorder"), str(tmp_path / "naive")
    write_zordered(df, ["x", "y"], zdir, n_files=16, bits=8)
    df.repartition(16).write.parquet(ndir)

    def overlap_fraction(d):
        import glob
        files = glob.glob(f"{d}/*.parquet")
        hit = 0
        for f in files:
            md = pq.read_metadata(f)
            xmin = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
            xmax = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
            ymin = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
            ymax = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
            # query box: x in [0, 63], y in [0, 63] (1/16 of the space)
            if xmin <= 63 and xmax >= 0 and ymin <= 63 and ymax >= 0:
                hit += 1
        return hit / len(files), len(files)

    zfrac, zn = overlap_fraction(zdir)
    nfrac, nn = overlap_fraction(ndir)
    assert zn == 16 and nn == 16
    assert nfrac == 1.0  # naive: every file spans the space, zero pruning
    assert zfrac <= 0.5, f"z-order should prune most files, got {zfrac}"
    # and the data survives the layout intact
    a = sorted(tuple(r) for r in spark.read.parquet(zdir).select("x", "y", "payload").collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b


@pytest.mark.heavy
def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE semantics (replace same-key rows, insert new ones) with
    partition-scoped copy-on-write: the untouched partition's files
    must remain byte-for-byte the same files (no rewrite), and the
    final table equals the expected merge."""
    import glob
    import os

    from tickdatapipeline_spark.functions.scale import upsert_partitioned

    path = str(tmp_path / "tbl")
    seed = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d3", 40)],
        "k long, day string, v long",
    )
    seed.write.partitionBy("day").parquet(path)
    before = {f: os.path.getmtime(f)
              for f in glob.glob(f"{path}/day=d3/*.parquet")}
    assert before

    updates = spark.createDataFrame(
        [(2, "d1", 99),   # update existing key in d1
         (5, "d2", 50)],  # insert new key into d2
        "k long, day string, v long",
    )
    upsert_partitioned(spark, path, updates, key="k", part_col="day")

    got = sorted(tuple(r) for r in spark.read.parquet(path)
                 .select("k", "day", "v").collect())
    assert got == [(1, "d1", 10), (2, "d1", 99), (3, "d2", 30),
                   (4, "d3", 40), (5, "d2", 50)]
    after = {f: os.path.getmtime(f)
             for f in glob.glob(f"{path}/day=d3/*.parquet")}
    assert after == before  # untouched partition: same files, untouched

    # replay-idempotent: the same batch again leaves the table equal
    upsert_partitioned(spark, path, updates, key="k", part_col="day")
    again = sorted(tuple(r) for r in spark.read.parquet(path)
                   .select("k", "day", "v").collect())
    assert again == got


@pytest.mark.heavy
def test_upsert_partitioned_null_partition_and_bootstrap(spark, tmp_path):
    """The two hazards the review confirmed: (a) an update row with a
    NULL partition value must MERGE with — never silently delete — the
    null partition's other rows (isin() is never true for NULL);
    (b) the first upsert into a not-yet-existing table is a pure
    insert, not a PATH_NOT_FOUND crash."""
    from tickdatapipeline_spark.functions.scale import upsert_partitioned

    # (b) bootstrap: table path does not exist yet
    path = str(tmp_path / "fresh")
    first = spark.createDataFrame(
        [(1, "d1", 10), (2, None, 20)], "k long, day string, v long")
    upsert_partitioned(spark, path, first, key="k", part_col="day")
    got = sorted((r.k, r.day, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "d1", 10), (2, None, 20)]

    # (a) null partition merge: update one null-partition key; the
    # OTHER null-partition row must survive
    upsert_partitioned(
        spark, path,
        spark.createDataFrame([(3, None, 30), (2, None, 99)],
                              "k long, day string, v long"),
        key="k", part_col="day")
    got = sorted((r.k, r.day, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "d1", 10), (2, None, 99), (3, None, 30)]
    # staging dir cleaned up
    import os
    assert not os.path.exists(path + "__upsert_staging")


def test_drop_partitions_before(spark, tmp_path):
    """Retention delete: partitions strictly before the cutoff vanish,
    retained partitions' FILES are untouched (mtime-identical — pure
    directory surgery, no rewrite), the null partition survives by
    default, replays are idempotent, and a typo'd path/column refuses
    instead of no-opping."""
    import os

    import pytest

    from tickdatapipeline_spark.functions.scale import drop_partitions_before

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03"),
         (4, None)],
        "id long, day string")
    df.write.partitionBy("day").parquet(path)

    def mtimes(day):
        d = f"{path}/day={day}"
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)}

    keep_before = mtimes("2024-01-03")
    dropped = drop_partitions_before(spark, path, "day", "2024-01-03")
    assert dropped == ["2024-01-01", "2024-01-02"]
    got = spark.read.parquet(path)
    assert sorted(r.id for r in got.collect()) == [3, 4]  # null kept
    assert mtimes("2024-01-03") == keep_before  # retained files untouched
    # idempotent replay
    assert drop_partitions_before(spark, path, "day", "2024-01-03") == []
    # null partition ages out only on request
    assert drop_partitions_before(
        spark, path, "day", "2024-01-03", keep_null_partition=False
    ) == ["__HIVE_DEFAULT_PARTITION__"]
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [3]
    # integer partition values compare numerically, not lexically
    ipath = str(tmp_path / "ti")
    spark.createDataFrame(
        [(1, 9), (2, 10), (3, 11)], "id long, day int"
    ).write.partitionBy("day").parquet(ipath)
    assert drop_partitions_before(spark, ipath, "day", "10") == ["9"]
    # cross-type compare REFUSES (a date cutoff on int partitions would
    # lexicographically delete the wrong ones)
    with pytest.raises(ValueError, match="refusing a cross-type"):
        drop_partitions_before(spark, ipath, "day", "2024-01-01")
    # wrong column / wrong path refuse rather than silently no-op
    with pytest.raises(ValueError, match="no hour="):
        drop_partitions_before(spark, path, "hour", "x")
    # a non-existent table is a no-op (finished retention job replay)
    assert drop_partitions_before(spark, str(tmp_path / "gone"), "day", "x") == []


def test_drop_partitions_before_escaped_values(spark, tmp_path):
    """Timestamp-style partition values are percent-escaped in their
    Hive directory names (':'→'%3A', ' '→'%20'); the retention compare
    must run in VALUE space or an unescaped cutoff mis-orders against
    the escaped directory form ('%3A' < ':') and drops the wrong
    partitions."""
    from tickdatapipeline_spark.functions.scale import drop_partitions_before

    path = str(tmp_path / "ts")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"),
         (3, "2024-01-03 00:00:00")],
        "id long, ts string").write.partitionBy("ts").parquet(path)
    import os
    # precondition: the directory names really are escaped on disk
    assert any("%3A" in d for d in os.listdir(path) if d.startswith("ts="))
    dropped = drop_partitions_before(spark, path, "ts", "2024-01-02 12:00:00")
    # returned in unescaped value form, and exactly the right two dropped
    assert dropped == ["2024-01-01 00:00:00", "2024-01-02 00:00:00"]
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [3]


def test_hive_escape_roundtrip_and_strict_decode():
    """_escape_path_name/_unescape_path_name are strict inverses over
    the escapePathName char set, and the decoder REJECTS %XX sequences
    a Spark/Hive writer could never have produced (lenient unquote
    would silently mis-decode them — the non-Spark-writer trap)."""
    import pytest
    from tickdatapipeline_spark.functions.scale import (
        _escape_path_name, _unescape_path_name)

    for v in ["2024-01-01 00:00:00", "a:b", "100%", 'q"x\'y', "a{b}[c]^d",
              "plain-value_1.2", "a=b/c", "pct%3Alooking"]:
        esc = _escape_path_name(v)
        assert "/" not in esc and "=" not in esc
        assert _unescape_path_name(esc) == v
    # literal '%' always escapes to %25, so no Spark-written name ends
    # in a bare '%' or carries %XX outside the escape set
    assert _escape_path_name("100%") == "100%25"
    for bad in ["x%41y",   # 'A' is not in the escape set
                "x%7Dy",   # '}' is NOT escaped by Spark (only '{[]^'),
                           # so %7D can never appear in a writer-made name
                "x%zzy",   # not hex
                "trail%"]:  # truncated escape
        with pytest.raises(ValueError, match="not a Spark/Hive"):
            _unescape_path_name(bad)


def test_drop_partitions_rejects_non_spark_layout(spark, tmp_path):
    """A partition directory whose name carries a %XX outside the
    escapePathName set was not written by Spark/Hive; retention must
    refuse to guess its value rather than silently mis-decode it."""
    import os
    import pytest
    from tickdatapipeline_spark.functions.scale import drop_partitions_before

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "2024-01-02")], "id long, day string") \
        .write.partitionBy("day").parquet(path)
    os.makedirs(f"{path}/day=x%41y")  # non-Spark writer artifact
    with pytest.raises(ValueError, match="not a Spark/Hive"):
        drop_partitions_before(spark, path, "day", "2024-01-03")


@pytest.mark.heavy
def test_upsert_partitioned_escaped_partition_values(spark, tmp_path):
    """Upsert addresses touched partitions in ESCAPED directory form —
    the form partitionBy writes. With unescaped addressing, a
    timestamp-valued partition (':'->'%3A' on disk) would look
    non-existent, skip the read-back, and land duplicate keys."""
    from tickdatapipeline_spark.functions.scale import upsert_partitioned

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00"), (2, 20, "2024-01-01 00:00:00"),
         (3, 30, "2024-01-02 00:00:00")],
        "k long, v long, ts string").write.partitionBy("ts").parquet(path)
    import os
    assert any("%3A" in d for d in os.listdir(path) if d.startswith("ts="))

    upsert_partitioned(
        spark, path,
        spark.createDataFrame([(2, 99, "2024-01-01 00:00:00")],
                              "k long, v long, ts string"),
        key="k", part_col="ts")
    # partition-type inference reads 'ts' back as TIMESTAMP; compare in
    # string space (the value domain the writer was given)
    rows = sorted((r.k, r.v, str(r.ts))
                  for r in spark.read.parquet(path).collect())
    assert rows == [(1, 10, "2024-01-01 00:00:00"),
                    (2, 99, "2024-01-01 00:00:00"),
                    (3, 30, "2024-01-02 00:00:00")]


@pytest.mark.heavy
def test_hive_escape_matches_real_partitionby_write(spark, tmp_path):
    """_escape_path_name must match what Spark's partitionBy writer
    ACTUALLY produces — per directory on disk, not just internal
    self-consistency. The trap this pins: '}' is NOT in Spark's
    escapePathName set (only '{', '[', ']', '^' are); escaping it
    would address a phantom 'part=...%7D' sibling of the real
    'part=...}' directory, the upsert existence check would miss, and
    the upsert would land duplicate keys."""
    import os
    from tickdatapipeline_spark.functions.scale import (
        _escape_path_name, _unescape_path_name, upsert_partitioned)

    values = ["a{b}", "close}only", "x[y]z^w", "t:1", "pct%v", "plain"]
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, 10 * i, v) for i, v in enumerate(values)],
        "k long, v long, part string").write.partitionBy("part").parquet(path)
    on_disk = sorted(d[len("part="):] for d in os.listdir(path)
                     if d.startswith("part="))
    assert on_disk == sorted(_escape_path_name(v) for v in values)
    # and the strict decoder inverts every writer-made name
    assert sorted(_unescape_path_name(d) for d in on_disk) == sorted(values)
    # '}' stays literal on disk — the phantom-sibling regression guard
    assert "part=close}only" in os.listdir(path)

    # upsert into the '}'-valued partitions: the read-back must find the
    # writer's directory (no duplicate keys, old same-partition rows kept)
    upsert_partitioned(
        spark, path,
        spark.createDataFrame([(0, 99, "a{b}"), (1, 77, "close}only")],
                              "k long, v long, part string"),
        key="k", part_col="part")
    rows = sorted((r.k, r.v, r.part)
                  for r in spark.read.parquet(path).collect())
    assert rows == [(0, 99, "a{b}"), (1, 77, "close}only"), (2, 20, "x[y]z^w"),
                    (3, 30, "t:1"), (4, 40, "pct%v"), (5, 50, "plain")]
