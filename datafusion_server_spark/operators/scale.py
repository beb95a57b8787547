"""Scale-engineering helpers: skew-salted joins and bucketed (co-located)
table layout.

These are the knobs a 100 TB deployment reaches for when AQE's automatic
skew handling isn't enough (extreme hot keys) or when a join key is
stable enough to pre-bucket the storage layout and eliminate the shuffle
entirely. Both are pure DataFrame compositions — no custom partitioners,
no RDDs — so they compose with every operator in this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact side against a smaller dimension side with key
    salting: the skewed side scatters each hot key across ``salt``
    sub-keys (deterministically, from a hash of the whole row), the small
    side replicates ``salt``x, and the join runs on (key, salt) — a hot
    key's rows land on ``salt`` tasks instead of one.

    AQE's skew-join split handles moderate skew on its own; salting is
    for the degenerate hot-key case (one key = >10% of rows) where a
    single post-split partition still dominates the stage. Cost: the
    small side is replicated ``salt``x — keep it the dimension side.

    Output columns: the skewed side's columns plus the small side's
    non-key columns (key columns deduplicated like a USING join).

    Only inner/left joins are supported: the small side is replicated
    ``salt``x, so a right/full join would emit each unmatched right row
    ``salt`` times and semi/anti sets would be computed against the
    replicated side — silently wrong. We refuse rather than mis-join.
    """
    allowed = {"inner", "left", "left_outer", "leftouter"}
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in allowed}:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)}; got {how!r}. "
            "The dimension side is replicated `salt` times, which breaks "
            "right/full/semi/anti semantics."
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt_col = F.pmod(F.hash(*[F.col(c) for c in skewed.columns]), F.lit(salt))
    left = skewed.withColumn("__salt__", salt_col)
    right = small.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    joined = left.join(right, [*keys, "__salt__"], how)
    return joined.drop("__salt__")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    num_buckets: int,
    *,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a bucketed table: rows hash-partitioned into
    ``num_buckets`` files per partition ON DISK. Two tables bucketed on
    the same keys with the same bucket count join WITHOUT a shuffle — the
    exchange happens once at write time and is amortized over every
    subsequent join (the classic layout for fact tables re-joined daily).
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *cols)
    if sort_cols:
        sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sc)
    writer.saveAsTable(table_name)


def _parse_spark_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string ("134217728", "134217728b",
    "128m", "1g") into bytes. Spark accepts case-insensitive k/m/g/t
    suffixes with an optional trailing 'b'."""
    s = str(value).strip().lower()
    mult = 1
    if s.endswith("b"):
        s = s[:-1]
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s) * mult)


def _session_parallelism(spark) -> int:
    """Target task width for this session, via conf only (Connect-safe —
    ``sparkContext`` does not exist on a Connect client)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        import os

        return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many file-scan partitions this DataFrame's leaves plan
    to, replaying Spark's file-split rule (one split per
    ``spark.sql.files.maxPartitionBytes`` of each input file).

    Uses only public, Spark-Connect-safe APIs (``inputFiles`` + ``conf``) —
    never ``df.rdd``, which forces an RDD-lineage conversion on the driver
    and is unavailable under Connect. Returns ``None`` when the plan has no
    listable input files (in-memory relation, post-shuffle stage), i.e.
    "unknown": such plans were already planned at shuffle/defaultParallelism
    width and need no guard.
    """
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        max_pb = _parse_spark_bytes(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
    except Exception:
        max_pb = 128 * 1024 * 1024
    max_pb = max(max_pb, 1)
    parts = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme in ("", "file") and os.path.exists(parsed.path):
            size = os.path.getsize(parsed.path)
            parts += max(1, (size + max_pb - 1) // max_pb)
        else:
            # Remote object: can't stat cheaply — count the file itself
            # (lower bound; remote scans at real scale have many files).
            parts += 1
    return parts


# Per-DataFrame memo of estimate_scan_partitions (r13): the estimate
# costs a py4j inputFiles() round-trip plus a stat per file on every
# call, but hot query builders (ANN / dedup / kNN) call the guard on the
# SAME long-lived DataFrame object (tables.load caches per session+sf)
# once per bench run. Input files of a given DataFrame's plan never
# change (immutable lineage), so identity-keyed memoization is safe; the
# WeakKey entry dies with the DataFrame.
# Assumption (r14, ADVICE): the memo also assumes the files BEHIND the
# plan are immutable for the DataFrame's lifetime. A path that rewrites
# a table mid-session (e.g. operators/merge.py materialization replacing
# a registered table) must hand consumers the NEW DataFrame object —
# which tables.load / re-registration does — an old object kept alive
# elsewhere would serve a stale estimate (worst case: one skipped
# repartition, perf-only, never wrong results). ``None`` results
# (transient estimation failure) are NOT memoized, so a later call on
# the same object retries instead of pinning the failure.
import weakref

_SCAN_EST_MEMO: "weakref.WeakKeyDictionary[DataFrame, int | None]" = (
    weakref.WeakKeyDictionary()
)


def ensure_fanout_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guard a DataFrame that is about to enter a fan-out stage (explode
    of shingles / tokens / vector elements, typically 50-500x row growth
    followed by per-row hashing) against under-partitioned input.

    On any real-scale scan the source already yields >= cluster-core
    partitions and this is a NO-OP — no shuffle is added to the plan. On
    a tiny or single-row-group input (one parquet row group = one task,
    the shape of the sf fixtures) it round-robins the narrow pre-explode
    rows once, so the expensive explode+hash map side runs on every core
    instead of one. The shuffle it may add moves the compact input rows,
    not the exploded stream — orders of magnitude cheaper than the
    serialized alternative.

    Partition count is estimated from the plan's input files (Connect-safe;
    see ``estimate_scan_partitions``) — in-memory / post-shuffle inputs are
    left untouched, since Spark already planned those at full width.
    """
    target = min_partitions or _session_parallelism(df.sparkSession)
    try:
        est = _SCAN_EST_MEMO[df]
    except (KeyError, TypeError):
        est = estimate_scan_partitions(df)
        if est is not None:
            try:
                _SCAN_EST_MEMO[df] = est
            except TypeError:
                pass
    if est is None or est >= target:
        return df
    return df.repartition(target)


def _explain_text(df: DataFrame) -> str:
    """Physical plan via the public ``explain()`` API (prints on both
    classic and Connect), captured as a string. ``simple`` mode keeps the
    ``Exchange hashpartitioning(...)`` one-line node shape that
    ``executedPlan().toString()`` has (``formatted`` splits the node name
    from its arguments)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle exchange (diagnostic
    used by tests and PLANS.md evidence). Tries the JVM handle for the
    executed (post-AQE) plan, falling back to the public explain text so a
    Spark-internals move or a Connect session degrades, not breaks."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        plan = _explain_text(df)
    return "Exchange hashpartitioning" in plan or "Exchange rangepartitioning" in plan


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column — rows close in EVERY dimension get close keys, so sorting by
    the key clusters the data multi-dimensionally and parquet min/max
    row-group stats prune on ALL interleaved columns at once (the Delta
    OPTIMIZE ZORDER idea, as a plain column expression for
    ``write_dataset(sort_within_partitions=[zorder_key(...)])``).

        key = sum_d sum_b ((x_d >> b) & 1) << (b * D + d)

    Inputs must be non-negative integers (bucket/clamp first — e.g.
    ``F.floor(value)`` or a dictionary code); values beyond 2^bits
    contribute only their low bits. Pure integer expression —
    deterministic, SQL-oracle-reproducible, whole-stage codegen."""
    d = len(cols)
    key = F.lit(0).cast("bigint")
    for di, c in enumerate(cols):
        x = c.cast("bigint")
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(x, b).bitwiseAND(F.lit(1).cast("bigint")),
                b * d + di,
            )
    return key


def ranked_topk(
    df: DataFrame,
    order_cols: list,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed global top-k WITH a 1-based rank column, without ever
    moving the full input through a single-partition window.

    ``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject`` —
    each partition keeps a local k-row heap and only those k-row heads
    are merged on the driver side of the exchange — so the data volume
    crossing the wire is ``num_partitions * k`` rows regardless of input
    size. The ``row_number`` window that assigns the rank then runs over
    the ALREADY-REDUCED k rows (a bounded input, the sanctioned window
    class), producing output bit-identical to ranking first and
    filtering ``rank <= k`` after.

    ``order_cols`` must be a deterministic total order (tie-break on a
    unique id last) — same contract the old global-window form had."""
    from pyspark.sql.window import Window

    topk = df.orderBy(*order_cols).limit(int(k))
    w = Window.orderBy(*order_cols)
    return topk.withColumn(rank_col, F.row_number().over(w).cast("bigint"))


def distributed_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based ``row_number`` over a total order WITHOUT the
    single-partition window — the full-rank counterpart of
    ``ranked_topk`` for consumers that need EVERY row's rank (coverage
    curves, quantile tables), where a top-k cannot apply.

    Two-level rank (the ``quantile_normalize`` shape):

    1. ``repartitionByRange`` on the order columns — partition ranges
       follow the sort order, so partition id order == global order;
    2. per-partition ``row_number`` (a PARTITIONED window keyed by
       ``spark_partition_id()`` — every task ranks only its own slice);
    3. per-partition counts aggregate to one row per partition; their
       running sum (the only unpartitioned window, over #partitions
       rows) is each partition's global offset, broadcast back on.

    Output = input columns + ``rank_col`` (BIGINT), bit-identical to
    ``row_number().over(Window.orderBy(*order_cols))`` provided
    ``order_cols`` is a total order (tie-break on a unique id last) —
    range partitioning can split ties across partitions, so a non-total
    order would rank ties nondeterministically."""
    from pyspark.sql.window import Window

    n_part = num_partitions or max(4, _session_parallelism(df.sparkSession))
    # r14 chatter cut (guide §1.2): the fixed-name pieces (pid tag,
    # offset window, final arithmetic) are SQL strings; only the
    # caller-supplied order columns stay Column API. Plan unchanged.
    tagged = df.repartitionByRange(n_part, *order_cols).selectExpr(
        "*", "CAST(SPARK_PARTITION_ID() AS BIGINT) AS __drk_pid"
    )
    wl = Window.partitionBy("__drk_pid").orderBy(*order_cols)
    offsets = (
        tagged.groupBy("__drk_pid")
        .agg(F.expr("CAST(COUNT(1) AS BIGINT) AS __drk_c"))
        .selectExpr(
            "__drk_pid",
            "COALESCE(SUM(__drk_c) OVER (ORDER BY __drk_pid"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
            " CAST(0 AS BIGINT)) AS __drk_off",
        )
    )
    return (
        tagged.withColumn("__drk_lrn", F.row_number().over(wl).cast("bigint"))
        .join(F.broadcast(offsets), "__drk_pid")
        .selectExpr("*", f"__drk_off + __drk_lrn AS `{rank_col}`")
        .drop("__drk_pid", "__drk_lrn", "__drk_off")
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running sum of an INTEGER column over a total order,
    without a single-partition window — the cumulative-sum counterpart
    of ``distributed_rank`` (same two-level shape: repartitionByRange
    so partition order equals sort order, a per-partition running sum,
    and broadcast per-partition totals' exclusive prefix as the
    offset; the only unpartitioned window runs over #partitions rows).

    Powers order-dependent selection at corpus scale: greedy
    budget-constrained picks ("take the best docs until the token
    budget is spent"), packing occupancy, CDF tables. The value column
    must be integral (BIGINT accumulation is order-free exact; float
    running sums are order-DEPENDENT and have no distributed exact
    form). ``order_cols`` must be a total order (unique-id tie-break
    last). Output = input columns + ``cumsum_col`` (BIGINT, inclusive
    of the current row)."""
    from pyspark.sql.window import Window

    n_part = num_partitions or max(4, _session_parallelism(df.sparkSession))
    tagged = df.repartitionByRange(n_part, *order_cols).withColumn(
        "__dcs_pid", F.spark_partition_id().cast("bigint")
    )
    v = F.col(value_col).cast("bigint")
    wl = (
        Window.partitionBy("__dcs_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.orderBy("__dcs_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("__dcs_pid")
        .agg(F.sum(v).cast("bigint").alias("__dcs_t"))
        .withColumn(
            "__dcs_off",
            F.coalesce(F.sum("__dcs_t").over(wp), F.lit(0).cast("bigint")),
        )
        .select("__dcs_pid", "__dcs_off")
    )
    return (
        tagged.withColumn("__dcs_l", F.sum(v).over(wl).cast("bigint"))
        .join(F.broadcast(offsets), "__dcs_pid")
        .withColumn(cumsum_col, F.col("__dcs_off") + F.col("__dcs_l"))
        .drop("__dcs_pid", "__dcs_l", "__dcs_off")
    )


# 2D Hilbert-curve automaton over MSB-first quadrant digits
# q = (x_bit << 1) | y_bit. A state is the reflection/transposition the
# curve applies to all REMAINING lower bits; the 4-state tables below
# are derived mechanically from the classic xy2d loop (Wikipedia
# "Hilbert curve", converting-from-xy form) by closing {identity, swap,
# flip-both+swap} under composition — the derivation script is
# replayed in tests/test_round9_ext.py, which checks every point of a
# 64x64 grid against the reference loop.
HILBERT_OUT = (0, 1, 3, 2, 0, 3, 1, 2, 2, 1, 3, 0, 2, 3, 1, 0)
HILBERT_NST = (1, 0, 2, 0, 0, 3, 1, 1, 2, 2, 0, 3, 3, 1, 3, 2)


def hilbert_key_2d(x: Column, y: Column, bits: int = 8) -> Column:
    """Hilbert-curve key of two non-negative integer columns (low
    ``bits`` bits each): the space-filling-curve upgrade of
    :func:`zorder_key` — Hilbert preserves locality strictly better
    than Morton (no quadrant-boundary jumps), so range scans over
    key-sorted parquet touch fewer row groups for 2D-clustered
    predicates.

    The inherently sequential MSB-to-LSB state machine (each digit's
    output depends on the rotation accumulated so far) folds over the
    digit array with the state PACKED into the accumulator
    (``c = acc*4 + state``), so the whole key is ONE linear-size
    ``aggregate`` expression — JVM higher-order function, narrow,
    whole-stage codegen, no UDF, and exactly reproducible in SQL (the
    oracle folds the same list with ``list_reduce``).

    Inputs must be non-negative; values beyond 2^bits contribute only
    their low bits (clamp/bucket first, same contract as zorder_key).
    """
    xb, yb = x.cast("bigint"), y.cast("bigint")
    digits = F.array(
        *[
            (
                F.shiftright(xb, b).bitwiseAND(F.lit(1).cast("bigint")) * 2
                + F.shiftright(yb, b).bitwiseAND(F.lit(1).cast("bigint"))
            )
            for b in range(bits - 1, -1, -1)
        ]
    )
    out_arr = F.array(*[F.lit(v).cast("bigint") for v in HILBERT_OUT])
    nst_arr = F.array(*[F.lit(v).cast("bigint") for v in HILBERT_NST])

    def step(a: Column, q: Column) -> Column:
        idx = ((a % 4) * 4 + q + 1).cast("int")
        # a >> 2 == a // 4 (non-negative) — stays in exact integer ops
        return (F.shiftright(a, 2) * 4 + F.element_at(out_arr, idx)) * 4 + (
            F.element_at(nst_arr, idx)
        )

    carrier = F.aggregate(digits, F.lit(0).cast("bigint"), step)
    return F.shiftright(carrier, 2)


def hilbert_key_2d_sql(x_expr: str, y_expr: str, bits: int = 8) -> str:
    """DuckDB SQL mirror of :func:`hilbert_key_2d` (oracle side)."""
    digits = ", ".join(
        f"((({x_expr}) >> {b}) & 1) * 2 + ((({y_expr}) >> {b}) & 1)"
        for b in range(bits - 1, -1, -1)
    )
    out_arr = "[" + ", ".join(str(v) for v in HILBERT_OUT) + "]"
    nst_arr = "[" + ", ".join(str(v) for v in HILBERT_NST) + "]"
    fold = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), [{digits}]),"
        f" (a, q) -> ((a // 4) * 4 + ({out_arr})[CAST((a % 4) * 4 + q + 1 AS INT)]) * 4"
        f" + ({nst_arr})[CAST((a % 4) * 4 + q + 1 AS INT)])"
    )
    return f"CAST(({fold}) // 4 AS BIGINT)"


def binpack_by_cumsum(
    df: DataFrame,
    order_cols: list,
    size_col: str,
    target_bytes: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Sorted bin-packing for small-file compaction planning (the
    Delta/Iceberg OPTIMIZE shape): files sorted by ``order_cols`` are
    assigned to output bins of ~``target_bytes`` each by banding the
    EXCLUSIVE running size — ``bin = (cumsum_inclusive - size) div
    target`` — so a bin may overflow by at most its last file (the
    standard streaming relaxation; true min-bin packing is NP-hard and
    order-destroying, while sorted packing preserves the clustering
    key's range locality, which is the point of compaction).

    All math is BIGINT (sizes are bytes); the running sum is
    :func:`distributed_cumsum`, so planning millions of files never
    funnels through a single-partition window. ``order_cols`` must be a
    total order. Output = input columns + ``bin_col`` (BIGINT, 0-based).
    """
    packed = distributed_cumsum(df, order_cols, size_col, cumsum_col="__bp_cum")
    return packed.withColumn(
        bin_col,
        F.expr(
            f"(__bp_cum - CAST({size_col} AS BIGINT)) div CAST({target_bytes} AS BIGINT)"
        ).cast("bigint"),
    ).drop("__bp_cum")


def quote_ident(name: str) -> str:
    """Backtick-quote a caller-supplied column name for splicing into
    SQL-string expression builders (r11 ADVICE: unescaped interpolation
    let a name containing a backtick break — or inject into — the
    generated SQL). Backticks are doubled per Spark's identifier
    escaping, so any column name round-trips; the Column-API path and
    this string path then fail/succeed identically."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: str, dialect: str = "spark") -> str:
    """Quote a caller- or corpus-supplied string as a SQL string literal
    for splicing into generated SQL text.

    Spark's string literals treat ``\\`` as an escape character (unless
    ``spark.sql.parser.escapedStringLiterals`` is set), so backslashes
    are doubled as well as quotes, and any string round-trips:
    ``spark.sql("SELECT " + sql_literal(s)).first()[0] == s``. DuckDB
    literals (the oracle SQL) are standard SQL, where a backslash is an
    ordinary character: ``dialect="duckdb"`` doubles quotes only."""
    if dialect == "spark":
        value = value.replace("\\", "\\\\")
    elif dialect != "duckdb":
        raise ValueError(f"unknown SQL dialect {dialect!r}")
    return "'" + value.replace("'", "''") + "'"
