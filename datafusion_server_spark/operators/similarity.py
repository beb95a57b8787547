"""Vector similarity search over an ``array<float>`` embedding column.

Beyond-reference operators (BASELINE.json north-star):
- brute-force cosine top-k — the exactness baseline;
- sign-LSH (random hyperplanes) bucketed ANN — the scale path: vectors
  are bucketed by a deterministic hyperplane-sign code so the candidate
  join touches only same-bucket pairs.

Execution shape (r13: everything IN-ROW): both PER-VECTOR derivations
(the LSH codes + norm — ``planes``+1 sums, ``_codes_norms``) and PAIR
scoring (brute-force dots and candidate re-ranks, ``_dot_scaled``) are
``transform``/``zip_with`` + ``aggregate`` expressions over the
embedding arrays — pure maps over one row per vector/pair, no
``posexplode``, no element shuffle, no aggregation stage. Spark's
higher-order lambdas are interpreted — per-element they lose to
codegen — but the exploded forms carried n x dim (codes) or
pairs x dim (scoring) rows into grouped aggregations, a 64x row
blow-up plus shuffle at dim 64 that dwarfs the interpreter penalty;
the in-row codes build is scan-bound, the shape that survives 100 TB
(interleaved A/B at sf0.1 in scripts/codes_inrow_ab.py: in-row
0.350/0.510 min/med vs exploded 0.363/0.735 at planes=16, values
bit-identical). The norms ride along through the bucket/candidate
joins instead of being re-joined per side afterwards.

Determinism contract: each per-element product is an IEEE double scaled
and rounded to a 1e-12-granular BIGINT (``ROUND(x*y*1e12) AS BIGINT``);
long sums are exact, order-independent, and bit-identical in DuckDB.
Overflow-safe at ANY corpus size because a dot/norm sum has at most
``dim`` terms (64 here): |sum| <= dim * 1e12 << 2^63, and the sum stays
exactly representable as a double (< 2^53) for the final division —
unlike row-count-bounded aggregates (q1-class), which keep DECIMAL.
Measured ~4x faster than DECIMAL(18,12) sums (Int128 accumulation) on
the 16-plane bucket projection. Hyperplane signs derive from md5 —
reproducible bit-for-bit by the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import (
    ensure_fanout_parallelism,
    quote_ident,
)

SCALE = 1_000_000_000_000  # 1e12: element products keep 12 decimal digits


def _ssum(expr: Column) -> Column:
    """Exact order-independent sum of an element-product expression:
    per-element ROUND(expr*1e12) as BIGINT, summed as longs."""
    return F.sum(F.round(expr * SCALE).cast("bigint"))


def _unscale(col: Column) -> Column:
    return col.cast("double") / SCALE


def _dot_scaled(va: Column | str, vb: Column | str) -> Column:
    """Exact scaled-long dot product of two array columns, computed
    IN-ROW (zip_with + aggregate): per-element ``round(x*y*1e12)`` as
    BIGINT, summed sequentially. Identical element math to ``_ssum``
    over an exploded element join, and integer addition is
    order-independent, so the result is bit-identical — but with no
    dim-fold row blow-up, no shuffle, and no aggregation: the dot is a
    narrow column expression.

    Pass column NAMES (strings) on hot paths: the expression then
    parses JVM-side in one py4j call (``_dot_scaled_sql``) instead of
    ~15 composing the lambda — same parsed operator tree, bit-identical
    values (pinned by tests/test_expr_sql_equivalence.py)."""
    if isinstance(va, str) and isinstance(vb, str):
        return F.expr(_dot_scaled_sql(va, vb))
    return F.aggregate(
        F.zip_with(
            va,
            vb,
            lambda x, y: F.round(x.cast("double") * y.cast("double") * SCALE).cast(
                "bigint"
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def _dot_scaled_sql(a: str, b: str) -> str:
    """SQL text of ``_dot_scaled`` over two column NAMES — same parsed
    expression tree, but delivered to the JVM in ONE ``F.expr`` call.
    Composing the lambda form via the Column API costs ~15 py4j
    round-trips per dot (~1.5 ms each on this host); the hot builders
    (r10 plan-construction profile: ann/knn/dedup rows spent 0.9-1.4 s
    per query in py4j chatter vs 0.2-0.35 s executing) assemble their
    expressions as strings instead. Values are bit-identical: the parser
    produces the same ZipWith/Aggregate/Round/Cast operators."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * {SCALE}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


def _norm_sql(v: str) -> str:
    """SQL text of the exact scaled-long L2 norm of array column ``v``
    (sqrt of the unscaled self-dot) — the string twin of
    ``F.sqrt(_unscale(_dot_scaled(v, v)))``."""
    return f"SQRT(CAST(({_dot_scaled_sql(v, v)}) AS DOUBLE) / {SCALE})"


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v): the vector-level view used by the in-row scoring path.
    selectExpr strings: plan construction on the hot ANN/kNN paths is
    py4j-chatter-bound (r13 profile: 1100+ round-trips per build, ~70%
    of the row's wall under load), and a string projection parses
    JVM-side in ONE call where the Column form pays one per method."""
    return df.selectExpr(f"{quote_ident(id_col)} AS id", f"{quote_ident(vec_col)} AS v")


def _elements(df: DataFrame, id_col: str, vec_col: str, id_alias: str) -> DataFrame:
    """(id, i, x): one row per vector element, x cast to double, i 1-based
    to match the oracle's generate_subscripts."""
    return df.selectExpr(
        f"{quote_ident(id_col)} AS {id_alias}",
        f"POSEXPLODE({quote_ident(vec_col)}) AS (__p, __x)",
    ).selectExpr(id_alias, "__p + 1 AS i", "CAST(__x AS DOUBLE) AS x")


def _norms(el: DataFrame, id_alias: str) -> DataFrame:
    """sqrt of the exact scaled-long sum of squares, per vector."""
    return el.groupBy(id_alias).agg(
        F.sqrt(_unscale(_ssum(F.col("x") * F.col("x")))).alias("nrm")
    )


def hyperplane_signs(plane: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane weights in {+1,-1}: the high
    bit of the first hex digit of md5('{plane}:{j}'), j 0-based. The
    DuckDB oracle reproduces these with its own md5 over the same strings."""
    import hashlib

    return [
        1 if hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[0] >= "8" else -1
        for j in range(dim)
    ]


def _codes_norms(vecs: DataFrame, planes: int, dim: int) -> DataFrame:
    """(id, bucket, nrm) computed IN-ROW over the ``_vectors`` view
    (r13 restructure): ``planes`` sign-projection sums plus the norm as
    TRANSFORM/ZIP_WITH + AGGREGATE expressions over the embedding array
    — a pure map over one row per vector, where the old shape exploded
    n*dim element rows and shuffled them into a grouped aggregation. At
    100 TB the codes build becomes scan-bound instead of shuffle-bound;
    at sf0.1 the interleaved A/B (scripts/codes_inrow_ab.py) has in-row
    at 0.350/0.510 min/med vs 0.363/0.735 exploded (planes=16). Values
    are bit-identical: per-element CAST-to-DOUBLE and scaled ROUND are
    unchanged and integer addition is order-independent. Each plane's
    signs stay ONE '1'/'0' string literal indexed by ``substring``.
    Contract: vectors are dense, NULL-free, exactly ``dim`` long (the
    zip against SEQUENCE(1, dim) assumes it, as did the old element
    explode's sign indexing). r14 (verdict task 7): the contract is now
    enforced LOUDLY — a vector whose SIZE differs from ``dim`` raises
    (RAISE_ERROR, matching embeddings.top_component_power's ragged-input
    convention) instead of silently NULL-padding the zip into an all-'0'
    bucket where every short vector would collide. One SIZE comparison
    per row; values on contract-satisfying input are unchanged."""
    guard = (
        f"CASE WHEN SIZE(v) = {int(dim)} THEN v ELSE RAISE_ERROR(CONCAT("
        f"'similarity codes: dense-vector contract violated: SIZE(v) = ', "
        f"CAST(SIZE(v) AS STRING), ', expected {int(dim)}')) END AS v"
    )
    sign_strs = [
        "".join("1" if s == 1 else "0" for s in hyperplane_signs(p, dim))
        for p in range(planes)
    ]
    sums = [
        f"AGGREGATE(ZIP_WITH(v, SEQUENCE(1, {dim}), (x, i) -> "
        f"CAST(ROUND((CASE WHEN SUBSTRING('{sign_strs[p]}', i, 1) = '1' "
        f"THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END) * {SCALE}) "
        f"AS BIGINT)), CAST(0 AS BIGINT), (acc, t) -> acc + t) AS s{p}"
        for p in range(planes)
    ]
    nrm = (
        f"SQRT(CAST(AGGREGATE(TRANSFORM(v, x -> "
        f"CAST(ROUND((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * {SCALE}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, t) -> acc + t) AS DOUBLE) / {SCALE}) AS nrm"
    )
    bucket = (
        "CONCAT("
        + ", ".join(f"CASE WHEN s{p} > 0 THEN '1' ELSE '0' END" for p in range(planes))
        + ") AS bucket"
    )
    return (
        vecs.selectExpr("id", guard)
        .selectExpr("id", *sums, nrm)
        .selectExpr("id", bucket, "nrm")
    )


def _stage_codes(cn: DataFrame) -> DataFrame:
    """Materialize the per-vector (id, bucket, nrm) codes table.

    r14 (verdict task 2): hash-partition by ``id`` BEFORE the eager
    localCheckpoint. The r12 grouped codes build left
    hashpartitioning(id) on the checkpoint, which the probe side's
    per-query aggregation/window (query_id = a rename of id) silently
    reused — zero candidate-path exchanges; the r13 in-row build (a pure
    map) dropped it, so the candidate stream paid its own exchanges.
    One small exchange of n (id, bucket, nrm) rows at build time
    restores the downstream reuse while keeping the in-row map (no
    corpus x dim element shuffle). Width follows
    spark.sql.shuffle.partitions — scale-adaptive, not a local constant.
    """
    return cn.repartition("id").localCheckpoint(eager=True)


def bucket_codes(
    embeddings: DataFrame,
    planes: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, bucket): sign-LSH code per vector (in-row, no explode)."""
    return _codes_norms(_vectors(embeddings, id_col, vec_col), planes, dim).select(
        "id", "bucket"
    )


def _score_pairs(pairs: DataFrame, vecs: DataFrame, a: str, b: str) -> DataFrame:
    """Exact cosine for explicit (a, b) id pairs. ``pairs`` must carry the
    per-side norms as ``nrm_a``/``nrm_b`` (they ride through the candidate
    join instead of two extra post-aggregation joins). ``vecs`` is the
    vector-level ``_vectors`` view: both sides' arrays are fetched by two
    id-keyed joins (one row per vector — 1/dim the shuffle volume of the
    old element-level join) and the dot product runs in-row via
    ``_dot_scaled``, so scoring adds no aggregation stage at all.
    Zero-norm vectors have no direction: pairs touching one are dropped
    (also prevents ANSI-mode divide-by-zero). Output: (a, b, cosine)."""
    va = vecs.selectExpr(f"id AS {a}", "v AS __va")
    vb = vecs.selectExpr(f"id AS {b}", "v AS __vb")
    return (
        pairs.where("nrm_a > 0.0D AND nrm_b > 0.0D")
        .join(va, a)
        .join(vb, b)
        .selectExpr(
            a,
            b,
            f"ROUND((CAST(({_dot_scaled_sql('__va', '__vb')}) AS DOUBLE)"
            f" / {SCALE}) / (nrm_a * nrm_b), 6) AS cosine",
        )
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    # window as SQL text (one parse call; same plan — DESC is NULLS
    # LAST / ASC is NULLS FIRST by default in both forms)
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cosine",
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank",
    ).where(f"rank <= {int(k)}")


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: every query scored against every
    candidate; rank per query by (cosine desc, neighbor id).

    Output: (query_id, neighbor_id, cosine, rank). Round-4 shape: dots
    and norms are IN-ROW array expressions (``_dot_scaled`` — zip_with +
    sequential BIGINT aggregate), so the plan is a broadcast nested-loop
    join of n_candidates x n_queries VECTOR rows with no dim-fold
    element explode, no scoring aggregation, and no shuffle before the
    per-query top-k. (The round-3 element-join form carried
    n x dim x n_queries rows into a grouped aggregation — 64x the rows
    at dim 64.) Identical scaled-long math, so the oracle's
    separately-joined norms reproduce the same values.
    """
    embeddings = ensure_fanout_parallelism(embeddings)
    # zero-norm vectors have no direction — dropped from both sides
    # (also prevents ANSI-mode divide-by-zero)
    cand = _vectors(embeddings, id_col, vec_col).selectExpr(
        "id AS neighbor_id",
        "v AS __cv",
        f"{_norm_sql('v')} AS __nrm",
    ).where("__nrm > 0.0D")
    q = _vectors(queries, id_col, vec_col).selectExpr(
        "id AS query_id",
        "v AS __qv",
        f"{_norm_sql('v')} AS __qnrm",
    ).where("__qnrm > 0.0D")
    scored = cand.join(
        F.broadcast(q), F.expr("neighbor_id != query_id")
    ).selectExpr(
        "query_id",
        "neighbor_id",
        f"ROUND((CAST(({_dot_scaled_sql('__cv', '__qv')}) AS DOUBLE)"
        f" / {SCALE}) / (__qnrm * __nrm), 6) AS cosine",
    )
    return _rank_topk(scored, k)


def hard_negative_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-COSINE-similar candidates whose ``label_col`` DIFFERS
    from the query's — the semantically-closest wrong answers, the
    pairs that sharpen an embedding model fastest (in-batch random
    negatives are trivially separable; hard negatives carry the
    gradient signal).

    Same plan shape as ``cosine_topk`` (broadcast nested-loop of
    candidate x query VECTOR rows, in-row scaled-long dot, per-query
    top-k) with the label inequality folded into the join condition,
    so excluded same-label pairs never materialize a scored row.
    Output: (query_id, neighbor_id, cosine, rank)."""
    embeddings = ensure_fanout_parallelism(embeddings)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lbl"),
    )
    cand = base.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("__cv"),
        F.col("lbl").alias("__cl"),
        F.sqrt(_unscale(_dot_scaled("v", "v"))).alias("__nrm"),
    ).filter(F.col("__nrm") > 0.0)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__ql"),
    ).select(
        "query_id",
        "__qv",
        "__ql",
        F.sqrt(_unscale(_dot_scaled("__qv", "__qv"))).alias("__qnrm"),
    ).filter(F.col("__qnrm") > 0.0)
    scored = cand.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("__cl") != F.col("__ql")),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _unscale(_dot_scaled("__cv", "__qv"))
            / (F.col("__qnrm") * F.col("__nrm")),
            6,
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def mmr_select(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick ``k`` items maximizing

        lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)

    — relevance to the query balanced against redundancy with what's
    already picked. The diversity-aware rerank used for few-shot
    example selection and dedup'd retrieval contexts.

    Plan shape (100 TB): ONE corpus pass scores relevance (broadcast
    query, in-row scaled-long dot); the distributed top-``shortlist``
    (TakeOrderedAndProject) bounds everything after — the pairwise sim
    table is shortlist^2 rows and each greedy step is a join +
    orderBy(1) over <= shortlist rows, with the selected set carried
    as a localCheckpoint-ed DataFrame (no driver collect). Greedy
    steps are inherently sequential: k tiny jobs, the kmeans/
    Bradley-Terry house pattern.

    Determinism: rel and pairwise sims round to 6 (the cosine
    contract); the score is one fixed expression over rounded values;
    ties break on id ascending. Output: (pick_order, {id_col},
    relevance) for the k picks in selection order."""
    base = _vectors(ensure_fanout_parallelism(embeddings), id_col, vec_col)
    q = _vectors(query, id_col, vec_col).select(
        F.col("id").alias("__qid"),
        F.col("v").alias("__qv"),
        F.sqrt(_unscale(_dot_scaled("v", "v"))).alias("__qnrm"),
    ).filter(F.col("__qnrm") > 0.0)
    cand = base.select(
        "id",
        "v",
        F.sqrt(_unscale(_dot_scaled("v", "v"))).alias("__nrm"),
    ).filter(F.col("__nrm") > 0.0)
    rel = cand.join(F.broadcast(q), F.col("id") != F.col("__qid")).select(
        "id",
        "v",
        F.round(
            _unscale(_dot_scaled("v", "__qv"))
            / (F.col("__qnrm") * F.col("__nrm")),
            6,
        ).alias("rel"),
        "__nrm",
    )
    short = (
        rel.orderBy(F.desc("rel"), F.asc("id"))
        .limit(int(shortlist))
        .localCheckpoint(eager=True)
    )
    a = short.select(
        F.col("id").alias("a"), F.col("v").alias("__va"), F.col("__nrm").alias("__na")
    )
    b = short.select(
        F.col("id").alias("b"), F.col("v").alias("__vb"), F.col("__nrm").alias("__nb")
    )
    pairs = (
        a.join(b, F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                _unscale(_dot_scaled("__va", "__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    short = short.select("id", "rel")
    # r14 (verdict task 5, the ABTT bounded-state-fold pattern): the
    # greedy loop state is <= shortlist rows and shortlist^2 sims — a
    # MODEL-constant, never corpus-scale — so fold both into ONE row and
    # run ALL k-1 greedy steps as one in-row AGGREGATE expression: one
    # scheduled job replaces k-1 sequential localCheckpoint jobs whose
    # wall time was ~pure scheduling overhead (r13 audit: 1.7 s).
    # Arithmetic is IDENTICAL to the staged loop: same rounded rel/sim
    # inputs, the same float score expression (lam and the
    # PYTHON-computed 1.0-lam embedded as D-suffixed double literals —
    # 1.0 - 0.7 != 0.3 by one ulp, a reachable tie-break divergence on
    # the 1e-6-grid scores), ties on id ascending via the same
    # (score DESC, id ASC) order, realized as a comparator sort.
    cands_row = short.agg(
        F.expr("ARRAY_SORT(COLLECT_LIST(STRUCT(id, rel))) AS cands")
    )
    sims_row = pairs.agg(
        F.expr(
            "MAP_FROM_ENTRIES(COLLECT_LIST(STRUCT(STRUCT(a, b), sim))) AS sims"
        )
    )
    byrel = (
        "(l, r) -> CASE WHEN l.rel > r.rel THEN -1 WHEN l.rel < r.rel THEN 1 "
        "WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1 ELSE 0 END"
    )
    byscore = (
        "(l, r) -> CASE WHEN l.__score > r.__score THEN -1 "
        "WHEN l.__score < r.__score THEN 1 "
        "WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1 ELSE 0 END"
    )
    first = f"ARRAY(ELEMENT_AT(ARRAY_SORT(cands, {byrel}), 1))"
    if int(k) >= 2:
        pen = (
            "ARRAY_MAX(TRANSFORM(acc, p -> ELEMENT_AT(sims, "
            "STRUCT(c.id AS a, p.id AS b))))"
        )
        scored = (
            "TRANSFORM(FILTER(cands, c -> NOT EXISTS(acc, p -> p.id = c.id)), "
            f"c -> STRUCT(c.id AS id, c.rel AS rel, "
            f"{lam!r}D * c.rel - {(1.0 - lam)!r}D * {pen} AS __score))"
        )
        best = f"ELEMENT_AT(ARRAY_SORT({scored}, {byscore}), 1)"
        picks = (
            f"AGGREGATE(SEQUENCE(2, {int(k)}), {first}, (acc, stp) -> "
            f"CASE WHEN SIZE({scored}) = 0 THEN acc "
            f"ELSE acc || ARRAY(STRUCT({best}.id AS id, {best}.rel AS rel)) "
            "END)"
        )
    else:
        picks = first
    # SLICE(cands, 1, 0) = a same-typed EMPTY pick list when the
    # shortlist itself is empty (the loop form returned zero rows)
    picks = f"CASE WHEN SIZE(cands) = 0 THEN SLICE(cands, 1, 0) ELSE {picks} END"
    return (
        cands_row.crossJoin(sims_row)
        .selectExpr(f"POSEXPLODE({picks}) AS (__o, p)")
        .selectExpr(
            "CAST(__o + 1 AS BIGINT) AS pick_order",
            f"p.id AS `{id_col}`",
            "p.rel AS relevance",
        )
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int | None = None,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    materialize: bool = True,
) -> DataFrame:
    """Approximate top-k via LSH buckets.

    ``planes=None`` (the default since round 3) delegates to
    ``scaled_lsh_ann_topk`` — the scale-safe banded multi-probe variant
    whose code length grows with corpus size, keeping expected bucket
    population constant at ANY n. Passing an explicit ``planes`` pins the
    FIXED-PLANE single-bucket variant, kept only as the oracle-pinned
    internal: its bucket population grows ~n/2^planes, i.e. the
    same-bucket join is quadratic in corpus size — do not default to it.

    Output: (query_id, neighbor_id, cosine, rank).

    ``materialize`` (default True) eager-localCheckpoints the per-vector
    (id, bucket, nrm) table — ONE row per vector — so its two consumers
    (query side and neighbor side of the bucket join) read executor-local
    blocks. Without it the executed plan shows AQE's ReusedExchange
    sharing the aggregation's shuffle output between the consumers
    (verified at sf0.01), so recompute is cheap WITHIN one query; the
    checkpoint still wins when the codes table outlives a single action
    (repeated probes against one index — the standard "stage the codes
    table" step of an LSH index build at 100 TB).
    """
    if planes is None:
        return scaled_lsh_ann_topk(
            embeddings,
            queries,
            k,
            dim,
            vec_col=vec_col,
            id_col=id_col,
            materialize=materialize,
        )
    embeddings = ensure_fanout_parallelism(embeddings)
    cn = _codes_norms(_vectors(embeddings, id_col, vec_col), planes, dim)
    if materialize:
        cn = _stage_codes(cn)
    q_ids = queries.selectExpr(f"{quote_ident(id_col)} AS query_id")
    qb = q_ids.join(
        cn.selectExpr("id AS query_id", "bucket", "nrm AS nrm_a"),
        "query_id",
    )
    pairs = qb.join(
        cn.selectExpr("id AS neighbor_id", "bucket AS c_bucket", "nrm AS nrm_b"),
        F.expr("bucket = c_bucket AND neighbor_id != query_id"),
    ).select("query_id", "neighbor_id", "nrm_a", "nrm_b")
    scored = _score_pairs(
        pairs, _vectors(embeddings, id_col, vec_col), "query_id", "neighbor_id"
    )
    return _rank_topk(scored, k)


def estimate_row_count(df: DataFrame, bytes_per_row: int) -> int:
    """Job-free row-count estimate from Catalyst plan statistics.

    Uses the exact ``rowCount`` when the catalog has one (ANALYZE TABLE /
    CBO stats — the normal state of a curated 100 TB table); otherwise
    divides the plan's ``sizeInBytes`` by the caller's expected encoded
    row width. The estimate is only consumed by LOG2-granular knobs
    (LSH band bits), where even a 2x error moves the result by one bit —
    so a coarse size-based guess is sufficient and costs NO Spark job,
    unlike the ``df.count()`` fallback it replaces.

    ``_jdf.queryExecution()`` is py4j access to Spark internals, not a
    stable API — guarded so a Spark upgrade that moves it degrades to the
    input-file-size heuristic instead of breaking every ANN default."""
    try:
        return _catalyst_row_estimate(df, bytes_per_row)
    except Exception:
        # internal API moved/absent: estimate from the scan's input files
        # (still job-free — listing metadata only). inputFiles() itself is
        # public API; any failure there falls through to a safe constant.
        try:
            total = sum(
                os.path.getsize(p[len("file:"):] if p.startswith("file:") else p)
                for p in df.inputFiles()
                if not p.startswith(("s3", "gs", "abfs", "hdfs", "wasb"))
            )
            if total > 0:
                return max(1, total // max(bytes_per_row, 1))
        except Exception:
            pass
        # no stats, no listable files: assume a mid-size corpus so band
        # bits land in a sane middle (2^17/128 -> 10 bits) rather than
        # degenerate extremes.
        return 1 << 17


def _catalyst_row_estimate(df: DataFrame, bytes_per_row: int) -> int:
    """The Spark-internal part of ``estimate_row_count``, isolated so its
    failure mode (py4j API moved) is testable and contained."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    return max(1, int(str(stats.sizeInBytes())) // max(bytes_per_row, 1))


def lsh_band_bits(
    n_vectors: int,
    target_bucket_size: int = 128,
    *,
    min_bits: int = 2,
    max_bits: int = 24,
) -> int:
    """Bits per LSH band so the EXPECTED bucket holds ~``target_bucket_size``
    vectors: ``ceil(log2(n / target))``, clamped. This is the scale knob a
    fixed plane count lacks — at n=2k it gives 4 bits, at n=1e9 it gives
    23, keeping the same-bucket join linear in n instead of quadratic in
    the bucket population."""
    import math

    return max(min_bits, min(max_bits, math.ceil(math.log2(max(n_vectors, 2) / target_bucket_size))))


def scaled_lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    *,
    n_vectors: int | None = None,
    target_bucket_size: int = 128,
    bands: int = 4,
    band_bits: int | None = None,
    max_candidates: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
) -> DataFrame:
    """Scale-parameterized multi-probe LSH ANN (the 100 TB answer to the
    fixed-plane variant's quadratic bucket growth):

    - **planes scale with corpus size**: ``bands x band_bits`` hyperplanes
      with ``band_bits = ceil(log2(n / target_bucket_size))``, so expected
      per-band bucket population stays ~``target_bucket_size`` at ANY n;
    - **multi-probe via banding** (OR-of-ANDs): a candidate needs to share
      only ONE band's code with the query — recall survives the longer
      codes that keep buckets small;
    - **per-query candidate cap**: candidates rank by how many bands they
      share (more shared bands ~ closer), deterministically capped at
      ``max_candidates`` — bounded re-rank work per query even when real
      embedding correlations skew a bucket.

    ``n_vectors`` sizes ``band_bits`` only. When absent it is estimated
    JOB-FREE from Catalyst plan statistics (``estimate_row_count``) —
    band sizing is an index-build-time decision that needs only log2
    accuracy, so catalog/size stats are the right source; no ``count()``
    job is ever triggered. ``materialize`` stages the per-vector codes
    table exactly as in ``lsh_ann_topk`` (two banded consumers share one
    aggregation pass). Output: (query_id, neighbor_id, cosine, rank).
    """
    if band_bits is None:
        if n_vectors is None:
            # float32 vectors: ~4 bytes/element on disk and in plan stats
            n_vectors = estimate_row_count(embeddings, bytes_per_row=4 * dim)
        band_bits = lsh_band_bits(n_vectors, target_bucket_size)
    planes = bands * band_bits
    embeddings = ensure_fanout_parallelism(embeddings)
    cn = _codes_norms(_vectors(embeddings, id_col, vec_col), planes, dim)
    if materialize:
        cn = _stage_codes(cn)
    # inline() explodes the struct array straight into (b, code) columns —
    # one F.expr call replaces the explode/array/struct/substring chain
    band_codes = cn.select(
        "id",
        "nrm",
        F.expr(
            "inline(array("
            + ", ".join(
                f"struct({b} AS b, SUBSTRING(bucket, {b * band_bits + 1},"
                f" {band_bits}) AS code)"
                for b in range(bands)
            )
            + "))"
        ),
    )
    q_bands = queries.selectExpr(f"{quote_ident(id_col)} AS query_id").join(
        band_codes.selectExpr("id AS query_id", "nrm AS nrm_a", "b", "code"),
        "query_id",
    )
    shared = (
        q_bands.join(
            band_codes.selectExpr("id AS neighbor_id", "nrm AS nrm_b", "b", "code"),
            ["b", "code"],
        )
        .where("neighbor_id != query_id")
        .groupBy("query_id", "neighbor_id", "nrm_a", "nrm_b")
        .agg(F.expr("COUNT(1) AS nb"))
    )
    pairs = shared.selectExpr(
        "query_id",
        "neighbor_id",
        "nrm_a",
        "nrm_b",
        "ROW_NUMBER() OVER (PARTITION BY query_id "
        "ORDER BY nb DESC, neighbor_id ASC) AS rc",
    ).where(f"rc <= {int(max_candidates)}").select(
        "query_id", "neighbor_id", "nrm_a", "nrm_b"
    )
    scored = _score_pairs(
        pairs, _vectors(embeddings, id_col, vec_col), "query_id", "neighbor_id"
    )
    return _rank_topk(scored, k)


def ivf_n_centroids(n_vectors: int, minimum: int = 16) -> int:
    """Codebook size ∝ sqrt(n) — the standard IVF balance point where
    probe cost (scan of ~n/k vectors) matches quantizer cost (k centroid
    comparisons)."""
    import math

    return max(minimum, math.isqrt(max(n_vectors, 1)))


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    nprobe: int = 1,
    el: DataFrame | None = None,
    norms: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its ``nprobe`` nearest
    centroids by cosine (corpus side uses nprobe=1; the query side probes
    several inverted lists to recover recall lost at cluster boundaries).
    Centroids are the first ``n_centroids`` vectors by id — a
    deterministic stand-in for a k-means codebook (swap in real k-means
    at scale; the assignment/search plan is identical).

    ``n_centroids=None`` derives the sqrt(n) codebook size IN-PLAN: a
    1-row ``greatest(16, floor(sqrt(count)))`` aggregate is broadcast
    into the centroid filters, so no driver-side ``count()`` job runs —
    the derivation executes inside the same Spark action as the search.
    Output: (id, centroid_id, nrm) — ``nprobe`` rows per id when nprobe>1;
    the vector norm rides along for downstream scoring."""
    if el is None:
        el = _elements(embeddings, id_col, vec_col, "id")
    if norms is None:
        norms = _norms(el, "id")
    if n_centroids is None:
        ncdf = F.broadcast(
            embeddings.agg(
                F.greatest(
                    F.lit(16), F.floor(F.sqrt(F.count(F.lit(1)).cast("double")))
                )
                .cast("bigint")
                .alias("__nc")
            )
        )

        def _centroid_rows(d: DataFrame) -> DataFrame:
            return d.crossJoin(ncdf).filter(F.col("id") < F.col("__nc")).drop("__nc")

    else:

        def _centroid_rows(d: DataFrame) -> DataFrame:
            return d.filter(F.col("id") < n_centroids)

    cent_el = _centroid_rows(el).select(
        F.col("id").alias("centroid_id"), F.col("i").alias("qi"), F.col("x").alias("qx")
    )
    dots = (
        el.join(F.broadcast(cent_el), F.col("i") == F.col("qi"))
        .groupBy("id", "centroid_id")
        .agg(_ssum(F.col("qx") * F.col("x")).alias("dot"))
    )
    cent_norms = _centroid_rows(norms).select(
        F.col("id").alias("centroid_id"), F.col("nrm").alias("c_nrm")
    )
    scored = (
        dots.join(norms, "id")
        .join(F.broadcast(cent_norms), "centroid_id")
        .select(
            "id",
            "centroid_id",
            "nrm",
            F.round(_unscale(F.col("dot")) / (F.col("nrm") * F.col("c_nrm")), 6).alias(
                "cos_c"
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("id", "centroid_id", "nrm")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    nprobe: int = 1,
    n_vectors: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """IVF search: candidates restricted to the query's ``nprobe`` nearest
    clusters. At 100 TB the corpus is partitioned (or bucketed on disk) by
    centroid_id, so a query touches ``nprobe`` partitions' worth of
    vectors. ``n_centroids=None`` derives the sqrt(n) codebook size
    IN-PLAN (see ``ivf_assign`` — a broadcast 1-row aggregate, no
    driver-side ``count()`` job; ``n_vectors``, if given, pins it
    driver-side via ``ivf_n_centroids`` instead). ``materialize`` stages
    the per-vector (id, centroid_id, nrm) assignment — the IVF "inverted
    list" build step — so the query and corpus sides of the cluster join
    share one assignment pass.
    Output: (query_id, neighbor_id, cosine, rank) — approximate.
    """
    if n_centroids is None and n_vectors is not None:
        n_centroids = ivf_n_centroids(n_vectors)
    embeddings = ensure_fanout_parallelism(embeddings)
    el = _elements(embeddings, id_col, vec_col, "id")
    norms = _norms(el, "id")
    assign = ivf_assign(embeddings, n_centroids, vec_col, id_col, el=el, norms=norms)
    if materialize:
        assign = assign.localCheckpoint(eager=True)
    q_ids = queries.select(F.col(id_col).alias("query_id"))
    q_side = (
        assign
        if nprobe == 1
        else ivf_assign(
            embeddings, n_centroids, vec_col, id_col, nprobe=nprobe, el=el, norms=norms
        )
    )
    q_assign = q_ids.join(
        q_side.select(
            F.col("id").alias("query_id"), "centroid_id", F.col("nrm").alias("nrm_a")
        ),
        "query_id",
    )
    pairs = (
        q_assign.join(
            assign.select(
                F.col("id").alias("neighbor_id"),
                F.col("centroid_id").alias("c_centroid"),
                F.col("nrm").alias("nrm_b"),
            ),
            (F.col("centroid_id") == F.col("c_centroid"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        # no dedup needed: the corpus side is nprobe=1, so a neighbor can
        # match at most one of the query's probed centroids
        .select("query_id", "neighbor_id", "nrm_a", "nrm_b")
    )
    scored = _score_pairs(
        pairs, _vectors(embeddings, id_col, vec_col), "query_id", "neighbor_id"
    )
    return _rank_topk(scored, k)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    planes: int | None = None,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    bands: int = 4,
    band_bits: int | None = None,
    target_bucket_size: int = 128,
    n_vectors: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets: only bucket-
    colliding pairs are scored; pairs with cosine >= threshold survive.
    Output: (id_a, id_b, cosine).

    Default (``planes=None``, since round 3) is the BANDED scale path:
    ``bands`` codes of ``band_bits`` bits each (band_bits derived from
    corpus size job-free via ``estimate_row_count`` when not pinned), a
    pair is a candidate when ANY band collides (OR-of-ANDs — multi-probe
    recall), and per-band bucket population stays ~``target_bucket_size``
    at any n, so the self-join stays linear in corpus size. Passing an
    explicit ``planes`` pins the fixed-plane single-bucket variant
    (oracle-pinned internal; bucket population grows ~n/2^planes)."""
    embeddings = ensure_fanout_parallelism(embeddings)
    vecs = _vectors(embeddings, id_col, vec_col)
    if planes is not None:
        cn = _codes_norms(vecs, planes, dim)
        if materialize:
            cn = cn.localCheckpoint(eager=True)
        a = cn.select(F.col("id").alias("id_a"), "bucket", F.col("nrm").alias("nrm_a"))
        b = cn.select(
            F.col("id").alias("id_b"),
            F.col("bucket").alias("b_bucket"),
            F.col("nrm").alias("nrm_b"),
        )
        pairs = a.join(
            b, (F.col("bucket") == F.col("b_bucket")) & (F.col("id_a") < F.col("id_b"))
        ).select("id_a", "id_b", "nrm_a", "nrm_b")
        return _score_pairs(
            pairs, _vectors(embeddings, id_col, vec_col), "id_a", "id_b"
        ).filter(
            F.col("cosine") >= threshold
        )
    if band_bits is None:
        if n_vectors is None:
            n_vectors = estimate_row_count(embeddings, bytes_per_row=4 * dim)
        band_bits = lsh_band_bits(n_vectors, target_bucket_size)
    cn = _codes_norms(vecs, bands * band_bits, dim)
    if materialize:
        cn = cn.localCheckpoint(eager=True)
    # inline() explodes the struct array straight into (b, code) columns —
    # one F.expr call replaces the explode/array/struct/substring chain
    band_codes = cn.select(
        "id",
        "nrm",
        F.expr(
            "inline(array("
            + ", ".join(
                f"struct({b} AS b, SUBSTRING(bucket, {b * band_bits + 1},"
                f" {band_bits}) AS code)"
                for b in range(bands)
            )
            + "))"
        ),
    )
    a = band_codes.select(
        F.col("id").alias("id_a"), F.col("nrm").alias("nrm_a"), "b", "code"
    )
    b = band_codes.select(
        F.col("id").alias("id_b"), F.col("nrm").alias("nrm_b"), "b", "code"
    )
    # distinct: a pair colliding in several bands must be scored once
    pairs = (
        a.join(b, ["b", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "nrm_a", "nrm_b")
        .distinct()
    )
    return _score_pairs(
        pairs, _vectors(embeddings, id_col, vec_col), "id_a", "id_b"
    ).filter(
        F.col("cosine") >= threshold
    )


def kcenter_select(
    embeddings: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center coreset (farthest-first traversal, Gonzalez
    1985 — a 2-approximation of the optimal covering radius): seed at
    the smallest id, then repeatedly pick the point FARTHEST from the
    selected set. The geometry-coverage counterpart of the density
    corrections (cluster_balanced_sample): picks spread out to cover
    the embedding space, so rare modes survive subsetting.

    Determinism: ALL-integer — squared euclidean in 1e-12 units,
    d2(a, c) = sqn_a + sqn_c - 2*dot (exact scaled-long dots, the
    cosine_topk contract), argmax ties break on id ascending. No float
    exists anywhere, so both engines agree exactly.

    Plan shape (100 TB): greedy steps are inherently sequential — k
    tiny jobs (the MMR/kmeans house pattern), each ONE broadcast of the
    1-row center + a corpus-wide ``least`` update + a
    TakeOrderedAndProject argmax; running min-distance state is carried
    as a localCheckpoint-ed DataFrame, never a driver collect.

    Output: (pick_order, {id_col}, radius) in selection order; radius
    = the picked point's min-distance at selection time (the covering-
    radius profile; NULL for the seed)."""
    pts = _vectors(ensure_fanout_parallelism(embeddings), id_col, vec_col).select(
        "id", "v", _dot_scaled("v", "v").alias("sqn")
    )
    seed = pts.orderBy(F.asc("id")).limit(1).localCheckpoint(eager=True)
    sel = seed.select(
        F.lit(1).cast("bigint").alias("pick_order"),
        "id",
        F.lit(None).cast("bigint").alias("radius"),
    )
    center = seed.select(F.col("v").alias("__cv"), F.col("sqn").alias("__csqn"))
    state = (
        pts.join(seed.select("id"), "id", "left_anti")
        .crossJoin(F.broadcast(center))
        .select(
            "id",
            "v",
            "sqn",
            (
                F.col("sqn")
                + F.col("__csqn")
                - 2 * _dot_scaled("v", "__cv")
            ).cast("bigint").alias("mind"),
        )
        .localCheckpoint(eager=True)
    )
    for step in range(2, int(k) + 1):
        pick = (
            state.orderBy(F.desc("mind"), F.asc("id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        sel = sel.unionByName(
            pick.select(
                F.lit(step).cast("bigint").alias("pick_order"),
                "id",
                F.col("mind").alias("radius"),
            )
        )
        if step < int(k):
            center = pick.select(
                F.col("v").alias("__cv"), F.col("sqn").alias("__csqn")
            )
            state = (
                state.join(pick.select("id"), "id", "left_anti")
                .crossJoin(F.broadcast(center))
                .select(
                    "id",
                    "v",
                    "sqn",
                    F.least(
                        F.col("mind"),
                        (
                            F.col("sqn")
                            + F.col("__csqn")
                            - 2 * _dot_scaled("v", "__cv")
                        ).cast("bigint"),
                    ).alias("mind"),
                )
                .localCheckpoint(eager=True)
            )
    return sel.select("pick_order", F.col("id").alias(id_col), "radius")
