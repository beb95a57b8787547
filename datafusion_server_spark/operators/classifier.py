"""Distributed logistic-regression text classifier (hashed bag-of-words).

Beyond-reference operator — the quality-classifier leg of an LLM data
pipeline (GPT-3/LLaMA-style corpora gate documents with exactly this
shape: a linear model over hashed n-gram features, fastText-like). Both
halves run as pure DataFrame ops:

- features: hashed bag-of-words — md5(word) mod ``dim`` buckets,
  L1-normalized term frequencies, plus a constant bias feature;
- training: full-batch gradient descent for a FIXED iteration count
  (the deterministic-replay contract, like k-means/PQ). Per iteration:
  one broadcast join of the (dim+1)-row weight table onto the feature
  rows, one per-doc scaled-long sum for the logit, one per-bucket
  scaled-long sum for the gradient — two map-side-combined shuffles
  whose outputs are doc-count and dim-bounded respectively; the weight
  table localCheckpoints per iteration.

Determinism contract: tf ratios are exact IEEE divisions; every
cross-row sum (logits, gradients) is the scaled-long form shared with
operators.similarity; the two libm ops (exp in the sigmoid) round to 8
before use; weights round to 6 per iteration. A sequential Python
replay reproduces every weight, probability, and prediction exactly.

Scale notes (100 TB): features are one explode + one (doc, bucket)
aggregation; each training iteration touches the feature table (cache/
checkpoint it once) with dim+1 broadcast weights — the classic
data-parallel GD shape; inference is the same join + sum, shuffle-free
per batch beyond the per-doc aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import ensure_fanout_parallelism, sql_literal
from datafusion_server_spark.operators.similarity import SCALE

_HEX_DIGITS = 15


def hashed_features(
    df: DataFrame, text_col: str, id_col: str, dim: int = 256, *, binary: bool = True
) -> DataFrame:
    """(id, bucket, x): hashed-BoW features; bucket ``dim`` is the
    constant bias feature (x = 1.0). Default is BINARY presence
    (x = 1.0 when any word hashes into the bucket) — tf-normalized
    features (binary=False) scale a rare token's signal by 1/|doc|,
    which stalls unstandardized gradient descent; presence features are
    the fastText-style default for exactly this reason."""
    words = ensure_fanout_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select(
        "id",
        F.size(F.split(F.col("__t"), " ")).cast("bigint").alias("__n"),
        F.explode(F.split(F.col("__t"), " ")).alias("word"),
    ).filter(F.col("word") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("word")), 1, _HEX_DIGITS), 16, 10)
        .cast("bigint")
        % dim
    )
    grouped = words.select("id", "__n", bucket.alias("bucket")).groupBy(
        "id", "__n", "bucket"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    x = (
        F.lit(1.0)
        if binary
        else (F.col("__cnt").cast("double") / F.col("__n").cast("double"))
    )
    tf = grouped.select("id", "bucket", x.alias("x"))
    bias = df.select(
        F.col(id_col).alias("id"),
        F.lit(dim).cast("bigint").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    return tf.unionByName(bias)


def _logits(features: DataFrame, weights: DataFrame) -> DataFrame:
    """(id, p): rounded sigmoid of the scaled-long dot of features and
    broadcast weights. r14: SQL-string stages (guide §1.2) — the loop
    embeds this once per GD iteration, so the Column form's chatter
    multiplied by ``iters``."""
    z = (
        features.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(F.expr(f"SUM(CAST(ROUND(w * x * {SCALE}) AS BIGINT)) AS __zs"))
        .selectExpr("id", f"CAST(__zs AS DOUBLE) / {SCALE} AS __z")
    )
    return z.selectExpr("id", "ROUND(1.0D / (1.0D + EXP(-__z)), 8) AS p")


def train_logreg(
    features: DataFrame,
    labels: DataFrame,
    dim: int = 64,
    iters: int = 5,
    lr: float = 1.0,
) -> DataFrame:
    """Full-batch GD for exactly ``iters`` iterations from w = 0.
    ``labels`` is (id, y double in {0,1}). Returns (bucket, w)."""
    spark = features.sparkSession
    n = labels.count()  # class sizes are known to the caller anyway
    weights = spark.range(dim + 1).select(
        F.col("id").cast("bigint").alias("bucket"), F.lit(0.0).alias("w")
    ).localCheckpoint()
    feats = features.localCheckpoint()
    for _ in range(iters):
        p = _logits(feats, weights)
        err = p.join(labels, "id").selectExpr("id", "p - y AS __e")
        grad = (
            feats.join(err, "id")
            .groupBy("bucket")
            .agg(F.expr(f"SUM(CAST(ROUND(__e * x * {SCALE}) AS BIGINT)) AS __gs"))
            .selectExpr(
                "bucket",
                f"ROUND(CAST(__gs AS DOUBLE) / {SCALE} / {float(n)!r}D, 8) AS __g",
            )
        )
        weights = (
            weights.join(grad, "bucket", "left")
            .selectExpr(
                "bucket",
                f"ROUND(w - {float(lr)!r}D * COALESCE(__g, 0.0D), 6) AS w",
            )
            .localCheckpoint()
        )
    return weights


def predict(features: DataFrame, weights: DataFrame) -> DataFrame:
    """(id, p, pred): probability and thresholded class."""
    p = _logits(features, weights)
    return p.select("id", "p", (F.col("p") >= 0.5).alias("pred"))


def naive_bayes_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    labels: DataFrame,
) -> DataFrame:
    """Multinomial Naive Bayes — the ONE-PASS counts-only counterpart
    of the gradient-descent classifier: class priors and add-one-
    smoothed per-class token likelihoods come from a single labeled-
    corpus aggregation; scoring is one broadcast join of the likelihood
    table onto the token stream plus a per-doc sum. No iterations, no
    learning rate — the trade is the independence assumption.

        score_c(d) = ln P(c) + sum_{t in d} ln P(t | c),
        P(t | c) = (count(t, c) + 1) / (count(c) + V)

    ``labels`` is (id, y double in {0,1}). Output:
    (id, score1, score0, pred) with scores = rounded per-token DECIMAL
    sums (the LM-scoring determinism contract) and pred = score1 >
    score0 (ties -> negative class, deterministic).

    Scale shape: token stream exploded once; ONE (term, class)
    aggregation (map-side combined, vocab-bounded output); the
    likelihood table broadcasts back; one per-doc aggregation."""
    # r14 (guide §1.2): SQL-string stages — 1:1 translation of the
    # Column chain; shared by the NB/preference rows (~2.3-2.9k -> ~250
    # RTs each).
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    tq = text_col if text_col.isidentifier() else f"`{text_col}`"
    tok = ensure_fanout_parallelism(
        df.selectExpr(f"{iq} AS id", f"{tq} AS __t")
    ).selectExpr("id", "EXPLODE(SPLIT(__t, ' ')) AS term").where("term != ''")
    lab = labels.selectExpr("id", "CAST(y AS DOUBLE) AS y")
    ltok = tok.join(lab, "id")
    # per-(term, class) counts, dense over both classes via the vocab
    counts = ltok.groupBy("term").agg(
        F.expr("CAST(SUM(CAST(y = 1.0D AS BIGINT)) AS BIGINT) AS c1"),
        F.expr("CAST(SUM(CAST(y = 0.0D AS BIGINT)) AS BIGINT) AS c0"),
    )
    totals = counts.agg(
        F.expr("CAST(SUM(c1) AS BIGINT) AS __t1"),
        F.expr("CAST(SUM(c0) AS BIGINT) AS __t0"),
        F.expr("CAST(COUNT(1) AS BIGINT) AS __v"),
    )
    lik = counts.crossJoin(F.broadcast(totals)).selectExpr(
        "term",
        "CAST(ROUND(LN(CAST(c1 + 1 AS DOUBLE) / CAST(__t1 + __v AS DOUBLE)),"
        " 8) AS DECIMAL(18,8)) AS __l1",
        "CAST(ROUND(LN(CAST(c0 + 1 AS DOUBLE) / CAST(__t0 + __v AS DOUBLE)),"
        " 8) AS DECIMAL(18,8)) AS __l0",
    )
    priors = lab.agg(
        F.expr("CAST(SUM(CAST(y = 1.0D AS BIGINT)) AS BIGINT) AS __n1"),
        F.expr("CAST(COUNT(1) AS BIGINT) AS __n"),
    ).selectExpr(
        "ROUND(LN(CAST(__n1 AS DOUBLE) / CAST(__n AS DOUBLE)), 8) AS __p1",
        "ROUND(LN(CAST(__n - __n1 AS DOUBLE) / CAST(__n AS DOUBLE)), 8) AS __p0",
    )
    scored = (
        tok.join(F.broadcast(lik), "term")
        .groupBy("id")
        .agg(F.expr("SUM(__l1) AS __s1"), F.expr("SUM(__l0) AS __s0"))
        .crossJoin(F.broadcast(priors))
        .selectExpr(
            "id",
            "ROUND(CAST(__s1 AS DOUBLE) + __p1, 6) AS score1",
            "ROUND(CAST(__s0 AS DOUBLE) + __p0, 6) AS score0",
        )
    )
    return scored.selectExpr(
        "id", "score1", "score0", "score1 > score0 AS pred"
    )


def weak_label_vote(
    df: DataFrame,
    id_col: str,
    rules: list,
) -> DataFrame:
    """Programmatic weak supervision (Snorkel-style label model, one
    agreement-weighting refinement): ``rules`` is a list of
    ``(name, vote)`` — vote a Column or a SQL expression string —
    where each vote is +1 (positive), -1 (negative), or 0 (abstain),
    a deterministic predicate over the row.

    Two passes over the (id, rule, v) non-abstain vote table:
    1. unweighted majority ``label0`` per doc (sign of the vote sum;
       tie or all-abstain -> 0);
    2. per-rule weight = its agreement rate with ``label0`` over docs
       where both are decided, in exact 1e-6 units
       (``round(1e6 * n_agree / n_decided)`` — BIGINT, so the final
       weighted score sums order-free exactly);
    3. final label = sign of ``sum(v * w_micro)``.

    Output: one row per input row — (id, n_votes, vote_sum, label0,
    score_micro, final_label in {'pos','neg','abstain'}).

    Scale shape (100 TB): the vote table is a bounded (#rules) per-row
    fanout of ONE corpus scan; both aggregations are id-keyed with
    map-side combine; the weights table is #rules rows, broadcast. No
    windows, no iteration beyond the single refinement pass."""
    # r14 (optimization, guide §1.2): internals delivered as SQL-string
    # stages (selectExpr / F.expr aggregates) — 1:1 translation of the
    # Column-API chain; plan-construction chatter 1484 → ~40 py4j
    # round-trips. A vote may be a SQL expression STRING (preferred —
    # the whole vote array then parses in ONE round-trip) or a Column
    # (the original API, still supported for programmatic callers).
    if all(isinstance(v, str) for _, v in rules):
        votes_arr = F.expr(
            "ARRAY("
            + ", ".join(
                "STRUCT({} AS rule, CAST(({}) AS INT) AS v)".format(sql_literal(name), v)
                for name, v in rules
            )
            + ")"
        )
    else:
        votes_arr = F.array(
            *[
                F.struct(
                    F.lit(name).alias("rule"),
                    (F.expr(v) if isinstance(v, str) else v)
                    .cast("int")
                    .alias("v"),
                )
                for name, v in rules
            ]
        )
    base = df.select(F.col(id_col).cast("bigint").alias("id"), votes_arr.alias("va"))
    votes = base.selectExpr(
        "id", "EXPLODE(FILTER(va, x -> x.v != 0)) AS x"
    ).selectExpr("id", "x.rule AS rule", "x.v AS v")
    maj = (
        votes.groupBy("id")
        .agg(
            F.expr("CAST(COUNT(1) AS BIGINT) AS n_votes"),
            F.expr("CAST(SUM(v) AS BIGINT) AS vote_sum"),
        )
        .selectExpr(
            "id", "n_votes", "vote_sum", "CAST(SIGNUM(vote_sum) AS INT) AS label0"
        )
    )
    decided = votes.join(maj.where("label0 != 0").select("id", "label0"), "id")
    # pure-integer half-up rounding: (2e6*agree + n) DIV (2n) — exact at
    # any corpus size (a double 1e6*agree loses exactness past 2^33)
    weights = decided.groupBy("rule").agg(
        F.expr(
            "CAST((CAST(2000000 AS BIGINT) * SUM(CAST(v = label0 AS BIGINT))"
            " + COUNT(1)) DIV (CAST(2 AS BIGINT) * COUNT(1)) AS BIGINT)"
            " AS w_micro"
        )
    )
    scored = (
        votes.join(F.broadcast(weights), "rule")
        .groupBy("id")
        .agg(F.expr("SUM(CAST(v AS BIGINT) * w_micro) AS score_micro"))
    )
    return (
        base.select("id")
        .join(maj, "id", "left")
        .join(scored, "id", "left")
        .selectExpr(
            "id",
            "CAST(COALESCE(n_votes, 0) AS BIGINT) AS n_votes",
            "CAST(COALESCE(vote_sum, 0) AS BIGINT) AS vote_sum",
            "CAST(COALESCE(label0, 0) AS INT) AS label0",
            "CAST(COALESCE(score_micro, 0) AS BIGINT) AS score_micro",
        )
        .selectExpr(
            "*",
            "CASE WHEN score_micro > 0 THEN 'pos' "
            "WHEN score_micro < 0 THEN 'neg' ELSE 'abstain' END AS final_label",
        )
    )


def isotonic_bands(
    bands: DataFrame,
    band_col: str = "band",
    n_col: str = "n",
    pos_col: str = "pos",
) -> DataFrame:
    """Isotonic (PAV) recalibration of a BOUNDED banded calibration
    table: fitted_i = max over j<=i of (min over k>=i of avg(j..k)) —
    the minimax closed form of pool-adjacent-violators (Barlow et al.
    1972), which sidesteps PAV's sequential pooling loop entirely: with
    B bands the enumeration is B^3 cells, and B is FIXED (probability
    deciles), so every stage here is bounded regardless of corpus size.

    Determinism: segment averages are single IEEE divisions of exact
    BIGINT prefix sums (no float accumulation), and MIN/MAX are
    selections — both engines see identical doubles at every step.

    Output: (band, n, pos, fitted) with ``fitted`` the monotone
    non-decreasing recalibrated rate (unrounded; round at the edge).
    """
    from pyspark.sql.window import Window

    # bounded window: the band table is fixed-cardinality (deciles)
    w = Window.orderBy(band_col).rowsBetween(Window.unboundedPreceding, 0)
    pre = bands.select(
        F.col(band_col).alias("band"),
        F.col(n_col).cast("bigint").alias("n"),
        F.col(pos_col).cast("bigint").alias("pos"),
        F.sum(F.col(n_col).cast("bigint")).over(w).cast("bigint").alias("cn"),
        F.sum(F.col(pos_col).cast("bigint")).over(w).cast("bigint").alias("cp"),
    )
    j = pre.select(
        F.col("band").alias("jb"),
        (F.col("cp") - F.col("pos")).alias("jcp0"),
        (F.col("cn") - F.col("n")).alias("jcn0"),
    )
    k = pre.select(
        F.col("band").alias("kb"), F.col("cp").alias("kcp"), F.col("cn").alias("kcn")
    )
    segs = j.join(k, F.col("kb") >= F.col("jb")).select(
        "jb",
        "kb",
        (
            (F.col("kcp") - F.col("jcp0")).cast("double")
            / (F.col("kcn") - F.col("jcn0")).cast("double")
        ).alias("seg_avg"),
    )
    i = pre.select(F.col("band").alias("ib"))
    minsuff = (
        i.join(segs, (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")))
        .groupBy("ib", "jb")
        .agg(F.min("seg_avg").alias("mn"))
    )
    fit = minsuff.groupBy("ib").agg(F.max("mn").alias("fitted"))
    return pre.join(fit, pre.band == fit.ib).select("band", "n", "pos", "fitted")
