"""Scale utilities: skew salting and bucketed co-located joins.

These are the two knobs AQE cannot always supply on its own:

- ``salted_join``: for a join whose LEFT side has heavy key skew that
  AQE's skew-join splitting can't fix (e.g. the skewed key also
  dominates the build side). Left rows get a random-ish but
  DETERMINISTIC salt (hash of a tiebreaker column), the right side is
  replicated once per salt value, and the join key becomes
  (key, salt) — the hot key spreads over `salt_buckets` tasks.
- ``write_bucketed`` / co-located reads: pre-shuffling both fact tables
  into the same bucket layout on the join key makes subsequent joins
  exchange-free — the classic recurring-join optimization for a
  100 TB warehouse.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# logical-plan operators that compile to an Exchange (or are themselves
# a materialized RDD boundary): their presence below fan_out means the
# .rdd partition probe would eagerly execute stages under AQE
_EXCHANGE_NODE = re.compile(
    r"^\s*[+:\-| ]*(?:Join|Aggregate|Window|Sort|Repartition|"
    r"RepartitionByExpression|Deduplicate|Intersect|Except|GlobalLimit)\b",
    re.MULTILINE,
)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Raise a too-narrow DataFrame to the session's parallelism before a
    row-multiplying map stage (explode of shingles/n-grams, per-row
    hashing): a single small parquet file arrives as ONE partition, and
    everything downstream of it — however cheap per row — runs on one
    core. The shuffle moves only the narrow input rows, which is far
    cheaper than single-threading the explosion.

    No-op when the input already has enough partitions (the 100 TB case:
    a large scan arrives with thousands of splits and must NOT pick up
    an extra exchange here).

    The partition-count probe (``df.rdd.getNumPartitions()``) runs ONLY
    on exchange-free plans (scan/filter/project chains, pinned RDDs):
    under AQE, ``.rdd`` on a plan containing an exchange-producing
    operator triggers getFinalPhysicalPlan, which EXECUTES every
    non-result stage of the subtree as eager driver-blocking jobs at
    plan-BUILD time — serially per call and with zero reuse between
    sibling probes (measured r14: the contamination verify path ran its
    candidate subtree twice during construction this way). Frames that
    already contain a join/aggregate/window either inherited a real
    partitioning from that exchange or stream a side whose size bounds
    the explode, so skipping the repartition there is the no-op case
    anyway."""
    qe = df._jdf.queryExecution()
    plan = qe.analyzed().toString()
    if _EXCHANGE_NODE.search(plan):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as a partition
    count for an explicit ``repartition(n, keys)``. Some platforms set
    it to a non-integer such as ``"auto"``; then the cluster's
    ``defaultParallelism`` stands in."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def cap_group_sizes(df: DataFrame, keys: list[str], cap: int,
                    label: str, cap_name: str, logger) -> DataFrame:
    """Quadratic-blowup skew guard shared by the LSH dedup/ANN paths:
    drop every group of ``keys`` holding more than ``cap`` rows BEFORE a
    per-group self/equi-join (a group of m rows emits ~m^2 join rows).

    The dropped group/row counts are computed EAGERLY (one map-side-
    combinable aggregation job at plan-build time) and logged through
    the caller's ``logger`` as "<label> skew guard: ... (> <cap_name>=
    <cap>)" — a silent quadratic is worse than a logged cap. The
    anti-filter join is broadcast-able at any realistic cap. cap=None
    semantics belong to the caller: skip calling this at all."""
    from tickdatapipeline_spark.operators.globalorder import pin

    # the sizes aggregate is pinned: the eager sizing read below and
    # the in-plan anti-filter join share ONE computation of it (and of
    # df's own lineage when the caller pinned df) instead of the guard
    # paying a full second groupBy of df inside the main plan (r14;
    # sizes is one row per group, so the checkpoint is tiny)
    sizes = pin(df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_m")))
    dropped = sizes.where(F.col("_m") > cap).agg(
        F.count(F.lit(1)).alias("groups"),
        F.coalesce(F.sum("_m"), F.lit(0)).alias("rows"),
    ).first()
    if dropped["groups"]:
        logger.warning(
            "%s skew guard: dropped %d bucket(s) holding %d rows (> %s=%d)",
            label, dropped["groups"], dropped["rows"], cap_name, cap,
        )
    return df.join(
        sizes.where(F.col("_m") <= cap), on=keys, how="inner"
    ).drop("_m")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_buckets: int = 8,
    tiebreaker: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left side's skewed keys spread over
    `salt_buckets` partitions.

    `tiebreaker` is any left column with per-row variation (defaults to
    the join key itself via monotonically varying hash of all columns);
    the salt is pmod(hash(tiebreaker), salt_buckets) — deterministic, so
    results are reproducible run to run.
    """
    tb = F.col(tiebreaker) if tiebreaker else F.concat_ws("\x00", *left.columns)
    lsalt = F.pmod(F.hash(tb), F.lit(salt_buckets))
    l = left.withColumn("_salt", lsalt)
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = l.join(r, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table: joins and
    aggregations on `bucket_col` between same-bucketed tables need no
    exchange."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def runtime_bloom_confs(
    creation_side_threshold: str = "100MB",
    application_side_scan_threshold: str = "10GB",
) -> dict[str, str]:
    """Session confs arming Spark's RUNTIME bloom-filter join pruning
    (InjectRuntimeFilter): when a shuffle join's build side is small
    post-filter, the optimizer inserts bloom_filter_agg over the build
    keys and a might_contain filter on the probe side — probe rows
    whose keys cannot match are dropped AT THE SCAN, before the
    shuffle. At 100 TB this is the difference between shuffling the
    full fact table and shuffling only the ~selectivity fraction that
    can join; broadcast joins never need it (their probe side streams
    past an in-memory hash map), so it complements — not replaces —
    the broadcast() calls on true dims.

    Injection is verified against THIS engine build in
    tests/test_scale_utils.py (plan grows might_contain; result rows
    identical to the unfiltered join — a bloom false positive merely
    skips the prune, never changes the answer). Defaults mirror the
    deployment posture in DEPLOYMENT.md; tests shrink the thresholds
    so sf0.001 inputs qualify."""
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            creation_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            application_side_scan_threshold,
    }


def zorder_value(cols: list, bits: int = 21) -> "F.Column":
    """Morton (Z-order) interleave of N non-negative integer columns
    into one BIGINT: bit b of column i lands at position b*N + i, so
    points close in EVERY dimension get close z-values. ``bits`` is
    the per-column width (values are masked to it; N*bits must fit
    63). Pure bitwise shift/and/or expressions — whole-stage codegen,
    no UDF; golden-tested against a Python mirror.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed int64")
    terms = []
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        c = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def write_zordered(
    df: DataFrame, cols: list, path: str, n_files: int, bits: int = 21
) -> None:
    """Write ``df`` as parquet laid out along the Z-order curve of
    ``cols``: rows are range-partitioned AND sorted by the interleaved
    z-value, so each output file covers a small hyper-rectangle of the
    key space and its parquet min/max footer stats are tight in EVERY
    listed column — a multi-dimensional predicate then prunes most
    files/row-groups at planning time, where a single-column sort
    helps only its own column. The write-side complement to the
    runtime bloom filter (which prunes at execution): together they
    are the 100 TB scan-avoidance toolkit. Locality is quantified in
    tests/test_scale_utils.py (query-box file-overlap fraction vs the
    unsorted layout)."""
    if "_zorder" in df.columns:
        # withColumn would silently REPLACE a user column of this name
        # and the final drop would lose its data
        raise ValueError("input already has a '_zorder' column; rename it first")
    z = zorder_value(cols, bits).alias("_zorder")
    (
        df.withColumn("_zorder", z)
        .repartitionByRange(n_files, "_zorder")
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


# Spark/Hive's escapePathName char set (ExternalCatalogUtils.charToEscape:
# control chars 0x01-0x1F and 0x7F, plus "#%'*/:=?\{[]^ — note space is
# NOT escaped, and neither is '}': the set has the OPEN brace/brackets'
# closers only for [] — verified against PySpark 4.1.2's JVM,
# escapePathName('{')=='%7B' but escapePathName('}')=='}'). Partition
# directory names are produced by escaping exactly these chars as
# uppercase %XX; everything below that touches directory names in VALUE
# space goes through this pair so escaping and unescaping are strict
# inverses of the same set, not of generic URL quoting. An extra char
# here is not conservative: escaping '}' would address a phantom
# 'part=...%7D' sibling of the 'part=...}' directory partitionBy
# actually wrote, skipping the upsert read-back (duplicate keys) — the
# exact bug this pair exists to prevent.
_HIVE_ESCAPED = frozenset(chr(c) for c in range(0x01, 0x20)) | frozenset(
    "\"#%'*/:=?\\\x7f{[]^")


def _escape_path_name(value: str) -> str:
    """Value -> Hive directory-name form, matching what Spark's
    partitionBy writer produces (so explicit directory addressing and
    writer-made layouts agree)."""
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in value)


def _unescape_path_name(dirname: str) -> str:
    """STRICT inverse of ``_escape_path_name``: decode %XX only when XX
    decodes to a char escapePathName would have escaped; anything else
    raises. A lenient decoder (urllib.unquote) decodes ANY %XX, so a
    directory written by a non-Spark writer whose raw value merely
    LOOKS percent-escaped (e.g. 'x%41y' — 'A' is not in the escape set,
    so a Spark writer could never produce it) would be silently
    mis-decoded for the retention compare and the dropped-values
    ledger. This module assumes a Spark/Hive-written layout; a name
    that violates that assumption fails loudly here instead."""
    out, i = [], 0
    while i < len(dirname):
        c = dirname[i]
        if c != "%":
            out.append(c)
            i += 1
            continue
        hex2 = dirname[i + 1:i + 3]
        try:
            dec = chr(int(hex2, 16)) if len(hex2) == 2 else None
        except ValueError:
            dec = None
        if dec is None or dec not in _HIVE_ESCAPED:
            raise ValueError(
                f"partition directory name {dirname!r} contains "
                f"%{hex2!r} which is not a Spark/Hive escapePathName "
                "escape — this layout was not written by a Spark/Hive "
                "writer and cannot be safely decoded to a partition "
                "value; rename or migrate the directory first")
        out.append(dec)
        i += 3
    return "".join(out)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    part_col: str,
) -> None:
    """MERGE-style upsert into a partitioned parquet table with
    partition-scoped copy-on-write — the warehouse primitive plain
    parquet lacks: rows in ``updates`` REPLACE same-``key`` rows and
    INSERT otherwise, and only the partitions updates actually touch
    are listed, read, or rewritten, so a daily upsert against a
    100 TB table costs O(touched partitions) — including the FILE
    LISTING (the touched partition directories are addressed
    explicitly with basePath; a bare read of the table root would
    re-discover every partition on every upsert).

    Mechanics: touched partition values come off the updates batch
    (tiny by contract; a NULL partition value maps to Hive's
    __HIVE_DEFAULT_PARTITION__ directory and is handled with an
    explicit isNull arm — isin() comparisons are never true for NULL,
    which would silently DROP the null partition's other rows).
    Existing touched directories are read back, anti-joined against
    the update keys, unioned with the updates, staged to a sibling
    temp directory (a durable write-then-swap: no lineage trick like
    localCheckpoint, whose executor-local blocks die with a lost
    executor mid-job), re-read, and committed with dynamic
    partitionOverwriteMode; the temp directory is deleted after the
    commit. A first upsert into a not-yet-existing table degrades to
    a pure insert.

    Contract: ``key`` unique per row in table and batch; partition
    directories are addressed in Hive-ESCAPED form (_escape_path_name —
    the form partitionBy writes), so values with specials (':' in
    timestamps etc.) round-trip; the layout must be Spark/Hive-written
    (see _unescape_path_name for the strict-decode rationale); a
    key may MOVE partitions only if the batch also covers its old
    partition (the Hive-style constraint — otherwise the stale row
    survives there)."""
    touched = [r[0] for r in updates.select(part_col).distinct().collect()]
    if not touched:
        return
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    def _dir(v):
        # escaped form — the directory partitionBy actually writes, so
        # values needing escaping (':' in timestamps, '{'/'[' that
        # would otherwise glob-expand in the read) address the SAME
        # partition the writer created instead of a phantom unescaped
        # sibling (which would skip the read-back and duplicate keys)
        name = ("__HIVE_DEFAULT_PARTITION__" if v is None
                else _escape_path_name(str(v)))
        return f"{path}/{part_col}={name}"

    existing = [
        d for d in (_dir(v) for v in touched)
        if fs.exists(sc._jvm.org.apache.hadoop.fs.Path(d))
    ]
    if existing:
        current = spark.read.option("basePath", path).parquet(*existing)
        keep = current.join(
            F.broadcast(updates.select(key).distinct()), key, "left_anti")
        merged = keep.unionByName(updates.select(*keep.columns))
    else:  # pure insert (possibly the bootstrap write of a new table)
        merged = updates
    # durable staging: the overwrite targets partitions the plan reads,
    # so materialize to a sibling temp dir and commit from THERE
    tmp = f"{path}__upsert_staging"
    merged.repartition(part_col).write.mode("overwrite").parquet(tmp)
    try:
        (
            spark.read.parquet(tmp)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(path)
        )
    finally:
        fs.delete(sc._jvm.org.apache.hadoop.fs.Path(tmp), True)


def drop_partitions_before(
    spark: SparkSession,
    path: str,
    part_col: str,
    cutoff: str,
    keep_null_partition: bool = True,
) -> list[str]:
    """Retention delete for a partitioned parquet table: remove every
    top-level ``part_col=<value>`` directory whose value sorts BEFORE
    ``cutoff`` — the TTL primitive of a time-partitioned (hypertable-
    style) layout, completing the lifecycle toolkit (upsert = change,
    zorder/bucket = layout, THIS = expiry). Pure directory surgery:
    O(partitions) Hadoop FS listing + O(dropped) deletes; no data is
    scanned and RETAINED partitions' files are untouched (mtime-pinned
    in the test, the upsert contract).

    Ordering contract: if the cutoff parses as an int, EVERY partition
    value must too (numeric compare); if it does not, NO partition
    value may (string compare — correct for ISO dates, where
    lexicographic == chronological). A type mismatch raises instead of
    falling back: a date cutoff lexicographically compared against int
    partition values would delete the WRONG partitions silently (e.g.
    '10' < '2024-01-01' but '9' is not) — the same typo'd-retention
    class the no-partitions guard refuses. The
    null partition (__HIVE_DEFAULT_PARTITION__) is KEPT by default —
    rows whose partition value is unknown should never age out
    silently; pass keep_null_partition=False to include it.

    Raises if ``path`` exists but contains no ``part_col=`` directory
    at all (wrong path / wrong column — refuse rather than no-op a
    typo'd retention job against the table root). A non-existent path
    is a no-op (idempotent replays of a finished retention job).

    Returns the dropped partition values (unescaped value form —
    Hive percent-escaping in directory names is decoded), sorted."""
    sc = spark.sparkContext
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    prefix = f"{part_col}="
    part_dirs = [
        st.getPath() for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    if not part_dirs:
        raise ValueError(
            f"{path} has no {prefix}* partition directories — wrong path "
            "or wrong partition column for a retention delete")

    def is_int(v: str) -> bool:
        try:
            int(v)
            return True
        except ValueError:
            return False

    # Hive directory names percent-escape specials on write (':'→'%3A',
    # '%'→'%25' — Spark's escapePathName), so comparisons run in VALUE
    # space: decode each directory name back to the partition value
    # before ordering against the (unescaped) cutoff. A timestamp
    # partition like '2024-01-01 00:00:00' would otherwise compare its
    # escaped form against the raw cutoff and mis-order. Deletes still
    # address the original (escaped) directory path. The decode is the
    # STRICT escapePathName inverse (_unescape_path_name) — a lenient
    # unquote would silently mis-decode non-Spark-written names.
    part_value = _unescape_path_name

    cutoff_int = is_int(cutoff)
    values = {part_value(p.getName()[len(prefix):]) for p in part_dirs}
    typed = [v for v in values if v != "__HIVE_DEFAULT_PARTITION__"]
    mismatched = [v for v in typed if is_int(v) != cutoff_int]
    if mismatched:
        raise ValueError(
            f"cutoff {cutoff!r} is {'numeric' if cutoff_int else 'a string'} "
            f"but partition value(s) {sorted(mismatched)[:3]} are not — "
            "refusing a cross-type retention compare (it would delete the "
            "wrong partitions)")

    def before(raw: str) -> bool:
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return not keep_null_partition
        if cutoff_int:
            return int(raw) < int(cutoff)
        return raw < cutoff

    dropped = []
    for p in part_dirs:
        raw = part_value(p.getName()[len(prefix):])
        if before(raw):
            if not fs.delete(p, True):
                raise IOError(
                    f"retention delete of {p} returned false — partition "
                    "NOT expired; investigate before trusting the ledger")
            dropped.append(raw)
    return sorted(dropped)
