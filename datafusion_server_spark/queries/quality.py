"""Gopher-style quality-rule and embedding-transform queries with exact
DuckDB oracles (operators/quality.py, operators/embeddings.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import embeddings, quality
from datafusion_server_spark.operators.scale import sql_literal
from datafusion_server_spark.queries import df_query, rrepr

_STOP_LIST = ", ".join(f"'{w}'" for w in quality.STOPWORD_PROBE)

# Word / 2-gram / 3-gram CTEs over documents; range(1, n) is [1, n), so
# the gram index streams stop exactly at the last full gram.
def gopher_oracle_sql(
    min_words: int = quality.DEFAULT_MIN_WORDS,
    max_words: int = quality.DEFAULT_MAX_WORDS,
) -> str:
    """The gopher-flags oracle, parametrized on the word-count gate so
    composite pipeline oracles can reuse it (e.g. a lower min_words for
    the short synthetic fixtures)."""
    return _GOPHER_ORACLE_TEMPLATE.format(min_words=min_words, max_words=max_words)


_GOPHER_ORACLE_TEMPLATE = f"""
WITH w AS (
  SELECT doc_id, LENGTH(text) AS n_chars, STRING_SPLIT(text, ' ') AS words
  FROM documents),
base AS (
  SELECT doc_id,
         CAST(LEN(words) AS BIGINT) AS n_words,
         n_chars,
         ROUND(CAST(n_chars - (LEN(words) - 1) AS DOUBLE) / CAST(LEN(words) AS DOUBLE), 6) AS mean_word_len,
         CAST(LEN(list_filter(list_distinct(words),
                              x -> list_contains([{_STOP_LIST}], x))) AS BIGINT) AS n_stopwords,
         ROUND(CAST(LEN(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / CAST(LEN(words) AS DOUBLE), 6) AS frac_alpha_words
  FROM w),
g2 AS (
  SELECT doc_id, words[i] || ' ' || words[i + 1] AS gram
  FROM w, UNNEST(range(1, LEN(words))) AS t(i)),
c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
top2 AS (
  SELECT doc_id, cnt, LENGTH(gram) AS glen
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, gram) AS r FROM c2)
  WHERE r = 1),
g3 AS (
  SELECT doc_id, words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS gram
  FROM w, UNNEST(range(1, LEN(words) - 1)) AS t(i)),
c3 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
dup3 AS (
  SELECT doc_id, CAST(SUM(cnt * LENGTH(gram)) AS BIGINT) AS dchars
  FROM c3 WHERE cnt >= 2 GROUP BY 1),
m AS (
  SELECT b.doc_id AS id, b.n_words, b.mean_word_len, b.n_stopwords, b.frac_alpha_words,
         ROUND(COALESCE(CAST(t.cnt * t.glen AS DOUBLE) / CAST(b.n_chars AS DOUBLE), 0.0), 6) AS top_bigram_frac,
         ROUND(COALESCE(CAST(d.dchars AS DOUBLE) / CAST(b.n_chars AS DOUBLE), 0.0), 6) AS dup_trigram_frac
  FROM base b
  LEFT JOIN top2 t ON t.doc_id = b.doc_id
  LEFT JOIN dup3 d ON d.doc_id = b.doc_id)
SELECT *,
       (pass_word_count AND pass_mean_word_len AND pass_stopwords AND pass_alpha
        AND pass_rep_bigram AND pass_rep_trigram) AS keep
FROM (
  SELECT CAST(id AS BIGINT) AS id, n_words, mean_word_len, n_stopwords,
         frac_alpha_words, top_bigram_frac, dup_trigram_frac,
         (n_words >= {{min_words}} AND n_words <= {{max_words}}) AS pass_word_count,
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_mean_word_len,
         (n_stopwords >= 2) AS pass_stopwords,
         (frac_alpha_words >= 0.8) AS pass_alpha,
         (top_bigram_frac <= {quality.TOP_BIGRAM_MAX_FRAC}) AS pass_rep_bigram,
         (dup_trigram_frac <= {quality.DUP_TRIGRAM_MAX_FRAC}) AS pass_rep_trigram
  FROM m)
"""


@df_query("gopher_quality_flags", gopher_oracle_sql())
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return quality.gopher_quality_flags(docs, "text", "doc_id")


# --- embedding transforms (operators/embeddings.py) ---

IN_DIM = 64
OUT_DIM = 8

# Element view shared by both oracles: 0-based index i0 for the sign
# matrix, exact 1e12 fixed-point scaling (see queries/similarity.py).
# The md5-derived sign columns are computed driver-side by the SAME
# projection_signs the operator embeds, and emitted as literal
# '0'/'1'/'2' strings (sign + 1) indexed by substr.
_SIGN_ROWS = ", ".join(
    f"({j}, '{''.join(str(s + 1) for s in embeddings.projection_signs(j, IN_DIM))}')"
    for j in range(OUT_DIM)
)

_PROJ_ORACLE = f"""
WITH el AS (
  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i0
  FROM embeddings),
signs(j, s) AS (VALUES {_SIGN_ROWS}),
cells AS (
  SELECT e.vec_id, g.j,
         CAST(ROUND(e.x * 1e12) AS BIGINT)
         * (CAST(substr(g.s, e.i0 + 1, 1) AS BIGINT) - 1) AS term
  FROM el e, signs g),
sums AS (
  SELECT vec_id, j,
         ROUND(CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) / 1e12 / SQRT({float(OUT_DIM)}), 6) AS y
  FROM cells GROUP BY 1, 2)
SELECT CAST(vec_id AS BIGINT) AS id, CAST(j AS BIGINT) AS j, y
FROM sums
"""


@df_query("embedding_random_projection", _PROJ_ORACLE)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # element-wise output (id, j, y): the driver's comparator hashes
    # scalar columns; the operator's array form is exercised in unit tests
    emb = tables.load(spark, sf_dir, "embeddings")
    proj = embeddings.random_projection(emb, "embedding", "vec_id", IN_DIM, OUT_DIM)
    return proj.select(
        F.col("id").cast("bigint").alias("id"),
        F.posexplode("proj").alias("j", "y"),
    ).select("id", F.col("j").cast("bigint").alias("j"), "y")


_NORM_ORACLE = """
WITH el AS (
  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) AS i
  FROM embeddings),
norms AS (
  SELECT vec_id,
         SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS nrm
  FROM el GROUP BY vec_id)
SELECT CAST(e.vec_id AS BIGINT) AS id, CAST(e.i - 1 AS BIGINT) AS j,
       CASE WHEN n.nrm = 0.0 THEN e.x ELSE ROUND(e.x / n.nrm, 6) END AS u
FROM el e JOIN norms n ON n.vec_id = e.vec_id
"""


@df_query("embedding_l2_normalize", _NORM_ORACLE)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    unit = embeddings.l2_normalize(emb, "embedding", "vec_id")
    return unit.select(
        F.col("id").cast("bigint").alias("id"),
        F.posexplode("unit").alias("j", "u"),
    ).select("id", F.col("j").cast("bigint").alias("j"), "u")


# --- end-to-end curation pipeline: Gopher quality gate (min_words
# lowered to 10 for the short synthetic docs) -> exact dedup keepers ->
# domain-mix sample toward target source shares -> per-source stats.
# The oracle composes the same three stages as SQL CTEs — the point is
# that the operator family CHAINS: one DataFrame flows quality -> dedup
# -> sampling with no materialization boundaries, and Catalyst plans
# the whole pipeline as one job.

_CUR_MIN_WORDS = 10
_CUR_SHARES = {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.1, "src4": 0.1}
_CUR_TOTAL = 80

_CUR_SHARE_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in _CUR_SHARES.items()
) + " ELSE 0.0 END"

# the md5 hash-fraction template is the cross-engine determinism
# contract — ONE definition, shared with the sampling oracles
from datafusion_server_spark.queries.sampling import _FRAC as _CUR_FRAC_T

_CUR_FRAC = _CUR_FRAC_T.format(seed="mix")

_CURATION_ORACLE = f"""
WITH gf AS ({gopher_oracle_sql(min_words=_CUR_MIN_WORDS)}),
keepers AS (
  SELECT d.doc_id, d.source, d.n_chars
  FROM documents d
  JOIN gf ON gf.id = d.doc_id AND gf.keep
  JOIN (SELECT MIN(doc_id) AS kid FROM documents GROUP BY md5(text)) k
    ON k.kid = d.doc_id),
counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_d FROM keepers GROUP BY source),
rates AS (SELECT source, LEAST(1.0, {_CUR_SHARE_CASE} * {float(_CUR_TOTAL)} / n_d) AS rate
          FROM counts),
sampled AS (
  SELECT kp.doc_id, kp.source, kp.n_chars
  FROM keepers kp JOIN rates r ON r.source = kp.source
  WHERE {_CUR_FRAC} < r.rate)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sampled GROUP BY source
"""


@df_query("pipeline_curation_end2end", _CURATION_ORACLE)
def pipeline_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import dedup, sampling

    docs = tables.load(spark, sf_dir, "documents")
    flags = quality.gopher_quality_flags(
        docs, "text", "doc_id", min_words=_CUR_MIN_WORDS
    )
    kept_ids = flags.filter(F.col("keep")).select(F.col("id").alias("doc_id"))
    keep_first = dedup.exact_duplicates(docs, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    keepers = docs.join(kept_ids, "doc_id").join(keep_first, "doc_id")
    sampled = sampling.domain_mix_sample(
        keepers, "doc_id", "source", _CUR_SHARES, _CUR_TOTAL
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --- composition: project 64 -> 8 dims, then brute-force cosine top-k
# IN THE PROJECTED SPACE — the advertised "random_projection in front of
# search" pipeline, oracle-checked end to end (a degenerate projection,
# e.g. the fixed rank-3 sign-matrix bug, would collapse neighbor order
# and hash-mismatch immediately).

_PK = 5
_PN_QUERIES = 10

_PROJ_KNN_ORACLE = f"""
WITH el0 AS (
  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i0
  FROM embeddings),
signs(j, s) AS (VALUES {_SIGN_ROWS}),
cells AS (
  SELECT e.vec_id, g.j,
         CAST(ROUND(e.x * 1e12) AS BIGINT)
         * (CAST(substr(g.s, e.i0 + 1, 1) AS BIGINT) - 1) AS term
  FROM el0 e, signs g),
el AS (
  SELECT vec_id, j AS i,
         ROUND(CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) / 1e12 / SQRT({float(OUT_DIM)}), 6) AS x
  FROM cells GROUP BY 1, 2),
norms AS (
  SELECT vec_id,
         SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS nrm
  FROM el GROUP BY vec_id),
live AS (SELECT vec_id FROM norms WHERE nrm > 0.0),
dots AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM el qa JOIN el ca ON ca.i = qa.i AND ca.vec_id <> qa.vec_id
  WHERE qa.vec_id < {_PN_QUERIES}
    AND qa.vec_id IN (SELECT vec_id FROM live)
    AND ca.vec_id IN (SELECT vec_id FROM live)
  GROUP BY 1, 2),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
WHERE rnk <= {_PK}
"""


@df_query("ann_projected_bruteforce", _PROJ_KNN_ORACLE)
def ann_projected_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    proj = embeddings.random_projection(emb, "embedding", "vec_id", IN_DIM, OUT_DIM)
    q = proj.filter(F.col("id") < _PN_QUERIES)
    return similarity.cosine_topk(proj, q, k=_PK, vec_col="proj", id_col="id")


# one-pass dataset profiler over orders: per-column nulls / exact
# distinct / min-max as canonical strings (ISO dates, BIGINT ints).
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]

_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       ROUND(CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS null_rate,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value, CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


@df_query("profile_orders_columns", _PROFILE_ORACLE)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    orders = tables.load(spark, sf_dir, "orders")
    return profiling.profile_columns(orders, _PROFILE_COLS)


# PSI drift between the even- and odd-event_id halves of events.value
# over a fixed [0, 1000) 10-bucket grid.
_PSI_BINS, _PSI_LO, _PSI_HI = 10, 0.0, 1000.0

_PSI_ORACLE = f"""
WITH grid AS (SELECT UNNEST(RANGE({_PSI_BINS})) AS bin),
ba AS (
  SELECT LEAST({_PSI_BINS - 1}, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - {_PSI_LO}) / {(_PSI_HI - _PSI_LO) / _PSI_BINS}) AS INT))) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_a
  FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1),
bb AS (
  SELECT LEAST({_PSI_BINS - 1}, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - {_PSI_LO}) / {(_PSI_HI - _PSI_LO) / _PSI_BINS}) AS INT))) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b
  FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1),
joined AS (
  SELECT g.bin, CAST(COALESCE(ba.n_a, 0) AS BIGINT) AS n_a,
         CAST(COALESCE(bb.n_b, 0) AS BIGINT) AS n_b
  FROM grid g LEFT JOIN ba ON ba.bin = g.bin LEFT JOIN bb ON bb.bin = g.bin),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM joined),
contrib AS (
  SELECT j.bin, j.n_a, j.n_b,
         CAST(ROUND(
           ((CAST(j.n_a + 1 AS DOUBLE) / CAST(t.ta + {_PSI_BINS} AS DOUBLE))
            - (CAST(j.n_b + 1 AS DOUBLE) / CAST(t.tb + {_PSI_BINS} AS DOUBLE)))
           * LN((CAST(j.n_a + 1 AS DOUBLE) / CAST(t.ta + {_PSI_BINS} AS DOUBLE))
                / (CAST(j.n_b + 1 AS DOUBLE) / CAST(t.tb + {_PSI_BINS} AS DOUBLE))),
           8) AS DECIMAL(18,8)) AS c
  FROM joined j, tot t)
SELECT CAST(bin AS INT) AS bin, n_a, n_b,
       CAST(c AS DOUBLE) AS psi_contrib,
       ROUND(CAST((SELECT SUM(c) FROM contrib) AS DOUBLE), 6) AS psi_total
FROM contrib
"""


@df_query("profile_psi_drift", _PSI_ORACLE)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    out = profiling.psi_drift(a, b, "value", bins=_PSI_BINS, lo=_PSI_LO, hi=_PSI_HI)
    return out.select(F.col("bin").cast("int"), "n_a", "n_b", "psi_contrib", "psi_total")


# Z-order (Morton) clustering key over two event dimensions — the
# multi-dimensional sort key write_dataset uses for all-column stats
# pruning. Pure integer bit interleave; exact SQL oracle.
_Z_BITS = 8


def _z_sql(expr: str, d_idx: int, d: int, bits: int) -> str:
    return " + ".join(
        f"((({expr} >> {b}) & 1) << {b * d + d_idx})" for b in range(bits)
    )


_ZORDER_ORACLE = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(({_z_sql("(user_id % 256)", 0, 2, _Z_BITS)})
            + ({_z_sql("(CAST(FLOOR(value) AS BIGINT) % 256)", 1, 2, _Z_BITS)}) AS BIGINT) AS zkey
FROM events
WHERE user_id IS NOT NULL AND value IS NOT NULL
"""


@df_query("scale_zorder_key", _ZORDER_ORACLE)
def scale_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import scale

    ev = tables.load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    z = scale.zorder_key(
        [F.col("user_id") % 256, F.floor(F.col("value")).cast("bigint") % 256],
        bits=_Z_BITS,
    )
    return ev.select(F.col("event_id").cast("bigint"), z.alias("zkey"))


# term-distribution drift between the even/odd doc_id halves: top-20
# combined-corpus terms + <other>, add-one-smoothed categorical PSI.
_TPSI_TOP = 20

_TPSI_ORACLE = f"""
WITH ta AS (
  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents WHERE doc_id % 2 = 0),
tb AS (
  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents WHERE doc_id % 2 = 1),
ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_a FROM ta WHERE term <> '' GROUP BY term),
cb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_b FROM tb WHERE term <> '' GROUP BY term),
merged AS (
  SELECT COALESCE(ca.term, cb.term) AS term,
         CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a, CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
  FROM ca FULL OUTER JOIN cb ON cb.term = ca.term),
top AS (
  SELECT term FROM (SELECT term, ROW_NUMBER() OVER (ORDER BY n_a + n_b DESC, term ASC) AS rn
                    FROM merged) t WHERE rn <= {_TPSI_TOP}),
cat AS (
  SELECT CASE WHEN b.term IN (SELECT term FROM top) THEN b.term ELSE '<other>' END AS category,
         CAST(SUM(n_a) AS BIGINT) AS n_a, CAST(SUM(n_b) AS BIGINT) AS n_b
  FROM merged b GROUP BY 1),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM cat),
contrib AS (
  SELECT c.category, c.n_a, c.n_b,
         CAST(ROUND(
           ((CAST(c.n_a + 1 AS DOUBLE) / CAST(t.ta + {_TPSI_TOP + 1} AS DOUBLE))
            - (CAST(c.n_b + 1 AS DOUBLE) / CAST(t.tb + {_TPSI_TOP + 1} AS DOUBLE)))
           * LN((CAST(c.n_a + 1 AS DOUBLE) / CAST(t.ta + {_TPSI_TOP + 1} AS DOUBLE))
                / (CAST(c.n_b + 1 AS DOUBLE) / CAST(t.tb + {_TPSI_TOP + 1} AS DOUBLE))),
           8) AS DECIMAL(18,8)) AS c
  FROM cat c, tot t)
SELECT category, n_a, n_b, CAST(c AS DOUBLE) AS psi_contrib,
       ROUND(CAST((SELECT SUM(c) FROM contrib) AS DOUBLE), 6) AS psi_total
FROM contrib
"""


@df_query("profile_term_drift", _TPSI_ORACLE)
def profile_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    docs = tables.load(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return profiling.term_psi_drift(a, b, "text", top_n=_TPSI_TOP)


# one-pass Pearson correlation matrix over lineitem numerics.
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_pair_sql(a: str, b: str) -> str:
    def sv(c):
        return f"CAST(SUM(CAST(ROUND(CAST({c} AS DOUBLE), 6) AS DECIMAL(38,6))) AS DOUBLE)"

    def sp(x, y):
        return (
            f"CAST(SUM(CAST(ROUND(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE), 4) "
            f"AS DECIMAL(38,4))) AS DOUBLE)"
        )

    n = "CAST(COUNT(*) AS DOUBLE)"
    var_a = f"({n} * {sp(a, a)} - {sv(a)} * {sv(a)})"
    var_b = f"({n} * {sp(b, b)} - {sv(b)} * {sv(b)})"
    cov = f"({n} * {sp(a, b)} - {sv(a)} * {sv(b)})"
    return f"""
SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(COUNT(*) AS BIGINT) AS n,
       CASE WHEN {var_a} > 0 AND {var_b} > 0
            THEN ROUND({cov} / SQRT({var_a} * {var_b}), 6)
            ELSE NULL END AS corr
FROM complete"""


_CORR_ORACLE = (
    "WITH complete AS (SELECT "
    + ", ".join(_CORR_COLS)
    + " FROM lineitem WHERE "
    + " AND ".join(f"{c} IS NOT NULL" for c in _CORR_COLS)
    + ") "
    + " UNION ALL ".join(
        _corr_pair_sql(a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    )
)


@df_query("profile_correlation_matrix", _CORR_ORACLE)
def profile_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    li = tables.load(spark, sf_dir, "lineitem")
    return profiling.correlation_matrix(li, _CORR_COLS)


# Welch's t between the even/odd event halves of events.value.
def _welch_moments_sql(cond: str, tag: str) -> str:
    return f"""
  SELECT CAST(COUNT(*) AS BIGINT) AS n_{tag},
         CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(38,6))) AS DOUBLE) AS s_{tag},
         CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * CAST(value AS DOUBLE), 4) AS DECIMAL(38,4))) AS DOUBLE) AS ss_{tag}
  FROM events WHERE value IS NOT NULL AND {cond}"""


_WELCH_ORACLE = f"""
WITH a AS ({_welch_moments_sql("event_id % 2 = 0", "a")}),
b AS ({_welch_moments_sql("event_id % 2 = 1", "b")}),
j AS (SELECT * FROM a, b),
c AS (
  SELECT n_a, n_b,
         s_a / CAST(n_a AS DOUBLE) AS ma, s_b / CAST(n_b AS DOUBLE) AS mb,
         (ss_a - s_a * s_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
         (ss_b - s_b * s_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vb
  FROM j)
SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND (va / n_a + vb / n_b) > 0
            THEN ROUND((ma - mb) / SQRT(va / n_a + vb / n_b), 6) END AS t_stat,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND (va / n_a + vb / n_b) > 0
            THEN ROUND(((va / n_a + vb / n_b) * (va / n_a + vb / n_b))
                       / ((va / n_a) * (va / n_a) / (CAST(n_a AS DOUBLE) - 1.0)
                          + (vb / n_b) * (vb / n_b) / (CAST(n_b AS DOUBLE) - 1.0)), 6) END AS dof
FROM c
"""


@df_query("profile_welch_ttest", _WELCH_ORACLE)
def profile_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    return profiling.welch_ttest(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
    )


# chi-squared homogeneity of event_type between the even/odd halves.
_CHI_ORACLE = """
WITH ca AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS n_a
            FROM events WHERE event_id % 2 = 0 AND event_type IS NOT NULL GROUP BY 1),
cb AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS n_b
       FROM events WHERE event_id % 2 = 1 AND event_type IS NOT NULL GROUP BY 1),
merged AS (
  SELECT COALESCE(ca.category, cb.category) AS category,
         CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a, CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
  FROM ca FULL OUTER JOIN cb ON cb.category = ca.category),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM merged),
cells AS (
  SELECT t.ta, t.tb, t.k,
         CAST(ROUND(
           (CAST(m.n_a AS DOUBLE) - (CAST(m.n_a + m.n_b AS DOUBLE) * CAST(t.ta AS DOUBLE) / CAST(t.ta + t.tb AS DOUBLE)))
           * (CAST(m.n_a AS DOUBLE) - (CAST(m.n_a + m.n_b AS DOUBLE) * CAST(t.ta AS DOUBLE) / CAST(t.ta + t.tb AS DOUBLE)))
           / (CAST(m.n_a + m.n_b AS DOUBLE) * CAST(t.ta AS DOUBLE) / CAST(t.ta + t.tb AS DOUBLE))
           + (CAST(m.n_b AS DOUBLE) - (CAST(m.n_a + m.n_b AS DOUBLE) * CAST(t.tb AS DOUBLE) / CAST(t.ta + t.tb AS DOUBLE)))
           * (CAST(m.n_b AS DOUBLE) - (CAST(m.n_a + m.n_b AS DOUBLE) * CAST(t.tb AS DOUBLE) / CAST(t.ta + t.tb AS DOUBLE)))
           / (CAST(m.n_a + m.n_b AS DOUBLE) * CAST(t.tb AS DOUBLE) / CAST(t.ta + t.tb AS DOUBLE)),
           8) AS DECIMAL(18,8)) AS c
  FROM merged m, tot t)
SELECT ta AS n_a, tb AS n_b, k AS n_categories,
       ROUND(CAST(SUM(c) AS DOUBLE), 6) AS chi2,
       CAST(k - 1 AS BIGINT) AS dof
FROM cells GROUP BY ta, tb, k
"""


@df_query("profile_chi_squared_drift", _CHI_ORACLE)
def profile_chi_squared_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    return profiling.chi_squared_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "event_type",
    )


# binned two-sample KS over events.value between the even/odd halves.
_KS_BINS, _KS_LO, _KS_HI = 50, 0.0, 1000.0

_KS_ORACLE = f"""
WITH grid AS (SELECT UNNEST(RANGE({_KS_BINS})) AS bin),
ba AS (
  SELECT LEAST({_KS_BINS - 1}, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - {_KS_LO}) / {(_KS_HI - _KS_LO) / _KS_BINS}) AS INT))) AS bin,
         CAST(COUNT(*) AS BIGINT) AS ca
  FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1),
bb AS (
  SELECT LEAST({_KS_BINS - 1}, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - {_KS_LO}) / {(_KS_HI - _KS_LO) / _KS_BINS}) AS INT))) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cb
  FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1),
joined AS (
  SELECT g.bin, CAST(COALESCE(ba.ca, 0) AS BIGINT) AS ca, CAST(COALESCE(bb.cb, 0) AS BIGINT) AS cb
  FROM grid g LEFT JOIN ba ON ba.bin = g.bin LEFT JOIN bb ON bb.bin = g.bin),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM joined),
gaps AS (
  SELECT j.bin, t.na, t.nb,
         ROUND(ABS(CAST(SUM(j.ca) OVER (ORDER BY j.bin ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(t.na AS DOUBLE)
                   - CAST(SUM(j.cb) OVER (ORDER BY j.bin ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(t.nb AS DOUBLE)), 6) AS gap
  FROM joined j, tot t)
SELECT na AS n_a, nb AS n_b, gap AS ks_stat, CAST(bin AS BIGINT) AS ks_bin
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY gap DESC, bin ASC) AS rn FROM gaps) t
WHERE rn = 1
"""


@df_query("profile_ks_statistic", _KS_ORACLE)
def profile_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    return profiling.ks_statistic_binned(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        bins=_KS_BINS,
        lo=_KS_LO,
        hi=_KS_HI,
    )


# quantile-normalize events.value across event types.
_QN_ORACLE = """
WITH ranked AS (
  SELECT event_id AS id, event_type AS grp, CAST(value AS DOUBLE) AS value,
         PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE) ASC, event_id ASC) AS pr
  FROM events),
gr AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY CAST(value AS DOUBLE) ASC, event_id ASC) AS BIGINT) AS rn,
         CAST(value AS DOUBLE) AS gv
  FROM events),
nn AS (SELECT CAST(MAX(rn) AS BIGINT) AS n FROM gr)
SELECT r.id, r.grp AS event_type, r.value,
       ROUND(g.gv, 6) AS normalized
FROM ranked r
CROSS JOIN nn
JOIN gr g ON g.rn = CAST(CEIL(r.pr * CAST(nn.n - 1 AS DOUBLE)) AS BIGINT) + 1
"""


@df_query("profile_quantile_normalize", _QN_ORACLE)
def profile_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    return profiling.quantile_normalize(ev, "value", "event_type", "event_id")


# robust outliers: per-event-type modified z-score over value; the
# driver row reports per-type outlier counts (bounded output).
_ROBUST_THRESH = 3.5

_ROBUST_ORACLE = f"""
WITH base AS (
  SELECT event_id AS id, event_type AS grp, CAST(value AS DOUBLE) AS value
  FROM events WHERE value IS NOT NULL),
med AS (
  SELECT grp, value AS med FROM (
    SELECT grp, value,
           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY value ASC, id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY grp) AS n
    FROM base) t
  WHERE rn = CAST(CEIL(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
adev AS (
  SELECT b.id, b.grp, ABS(b.value - m.med) AS adev
  FROM base b JOIN med m ON m.grp = b.grp),
mad AS (
  SELECT grp, adev AS mad FROM (
    SELECT grp, adev,
           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY adev ASC, id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY grp) AS n
    FROM adev) t
  WHERE rn = CAST(CEIL(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
flagged AS (
  SELECT b.grp,
         CASE WHEN md.mad > 0 AND ABS(0.6745 * (b.value - m.med) / md.mad) > {_ROBUST_THRESH}
              THEN 1 ELSE 0 END AS is_out
  FROM base b JOIN med m ON m.grp = b.grp JOIN mad md ON md.grp = b.grp)
SELECT grp AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers
FROM flagged GROUP BY grp
"""


@df_query("profile_robust_outliers", _ROBUST_ORACLE)
def profile_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    out = profiling.robust_outliers(ev, "value", "event_type", "event_id")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("is_outlier").cast("bigint")).cast("bigint").alias("n_outliers"),
    )


# Gini concentration of per-user event volume within each event type.
_GINI_ORACLE = """
WITH vol AS (
  SELECT event_type AS grp, user_id AS id, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY event_type, user_id),
ranked AS (
  SELECT grp, id, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x ASC, id ASC) AS BIGINT) AS i
  FROM vol),
agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(CAST(i AS DOUBLE) * x, 4) AS DECIMAL(38,4))) AS DOUBLE) AS six
  FROM ranked GROUP BY grp)
SELECT grp AS event_type, n, ROUND(sx, 6) AS total,
       CASE WHEN sx > 0 THEN ROUND(2.0 * six / (CAST(n AS DOUBLE) * sx) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) END AS gini,
       CAST(0 AS BIGINT) AS n_negative
FROM agg
"""


@df_query("profile_gini_concentration", _GINI_ORACLE)
def profile_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import profiling

    ev = tables.load(spark, sf_dir, "events")
    vol = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("double").alias("volume")
    )
    return profiling.gini_coefficient(vol, "volume", "event_type", "user_id")


# corpus health report: the nightly one-glance dashboard — key corpus
# metrics in long format, each a 1-row aggregate over a different
# operator family, unioned. Query #200.
_HEALTH_ORACLE = """
WITH dup AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) AS n_unique
  FROM documents),
tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
words AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tokens,
                 CAST(COUNT(DISTINCT term) AS DOUBLE) AS n_vocab
          FROM tok2),
grams AS (SELECT DISTINCT doc_id,
                 UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(string_split(text, ' ')) - 2),
                                       i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g
          FROM documents),
dfreq AS (SELECT g, COUNT(*) AS dfr FROM grams GROUP BY g),
overlap AS (
  SELECT AVG(r) AS mean_overlap FROM (
    SELECT gr.doc_id,
           CAST(SUM(CASE WHEN d.dfr >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS r
    FROM grams gr JOIN dfreq d ON d.g = gr.g GROUP BY gr.doc_id) t),
srcvol AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS x FROM documents GROUP BY source),
gini AS (
  SELECT 2.0 * SUM(CAST(ROUND(CAST(i AS DOUBLE) * x, 4) AS DECIMAL(38,4)))::DOUBLE
         / (CAST(COUNT(*) AS DOUBLE) * SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6)))::DOUBLE)
         - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE) AS g
  FROM (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, source ASC) AS BIGINT) AS i
        FROM srcvol) t)
SELECT 'n_docs' AS metric, ROUND((SELECT n_docs FROM dup), 6) AS value
UNION ALL SELECT 'exact_dup_rate', ROUND(1.0 - (SELECT n_unique FROM dup) / (SELECT n_docs FROM dup), 6)
UNION ALL SELECT 'n_tokens', ROUND((SELECT n_tokens FROM words), 6)
UNION ALL SELECT 'vocab_size', ROUND((SELECT n_vocab FROM words), 6)
UNION ALL SELECT 'type_token_ratio', ROUND((SELECT n_vocab FROM words) / (SELECT n_tokens FROM words), 6)
UNION ALL SELECT 'mean_trigram_overlap', ROUND((SELECT mean_overlap FROM overlap), 6)
UNION ALL SELECT 'source_volume_gini', ROUND((SELECT g FROM gini), 6)
"""


@df_query("pipeline_corpus_health", _HEALTH_ORACLE)
def pipeline_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly one-glance corpus dashboard: size, exact-dup rate,
    token/vocab mass, type-token ratio, cross-doc trigram overlap
    (diversity), and source-volume Gini — each a one-row aggregate over
    a different operator family, unioned in long format."""
    from datafusion_server_spark.operators import profiling, text as text_ops

    docs = tables.load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("v"))
    n_unique = docs.agg(
        F.countDistinct(F.md5("text")).cast("double").alias("v")
    )
    tok = docs.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    toks = tok.agg(
        F.count(F.lit(1)).cast("double").alias("nt"),
        F.countDistinct("t").cast("double").alias("nv"),
    )
    overlap = text_ops.self_overlap_scores(docs, "text", "doc_id").agg(
        F.avg("overlap_ratio").alias("v")
    )
    srcvol = docs.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("volume"))
    gini = profiling.gini_coefficient(
        srcvol.withColumn("grp", F.lit("all")), "volume", "grp", "source"
    ).select(F.col("gini").alias("v"))

    def row(name, df, expr):
        return df.select(F.lit(name).alias("metric"), F.round(expr, 6).alias("value"))

    parts = [
        row("n_docs", n_docs, F.col("v")),
        row(
            "exact_dup_rate",
            n_docs.crossJoin(n_unique.select(F.col("v").alias("u"))),
            F.lit(1.0) - F.col("u") / F.col("v"),
        ),
        row("n_tokens", toks, F.col("nt")),
        row("vocab_size", toks, F.col("nv")),
        row("type_token_ratio", toks, F.col("nv") / F.col("nt")),
        row("mean_trigram_overlap", overlap, F.col("v")),
        row("source_volume_gini", gini, F.col("v")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# sequence-gap detection over orders.o_orderkey: contiguous-run islands
# via the id - row_number trick; emits one row per missing RANGE.
_GAPS_ORACLE = """
WITH ids AS (
  SELECT CAST(o_orderkey AS BIGINT) AS id,
         CAST(o_orderkey AS BIGINT) - CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS grp
  FROM orders),
runs AS (
  SELECT MIN(id) AS run_start, MAX(id) AS run_end FROM ids GROUP BY grp),
ordered AS (
  SELECT run_start, run_end,
         LEAD(run_start) OVER (ORDER BY run_start) AS next_start
  FROM runs)
SELECT CAST(run_end + 1 AS BIGINT) AS gap_start,
       CAST(next_start - 1 AS BIGINT) AS gap_end,
       CAST(next_start - run_end - 1 AS BIGINT) AS n_missing
FROM ordered WHERE next_start IS NOT NULL AND next_start > run_end + 1
"""


@df_query("profile_sequence_gaps", _GAPS_ORACLE)
def profile_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity check for a supposedly-dense key: missing id ranges via
    id±1 ANTI-JOINS instead of a corpus-wide rank window. A run END is an
    id whose successor id+1 is absent; a run START is an id whose
    predecessor id-1 is absent — two shuffle-hash anti-joins on the key,
    fully distributed. Ends (except the global max) and starts (except
    the global min) then pair 1:1 in sorted order to form the gaps; the
    only windows in the plan rank those BOUNDARY rows, whose count equals
    the report size itself (one per gap) — output-bounded, never
    corpus-bounded."""
    from pyspark.sql.window import Window

    orders = tables.load(spark, sf_dir, "orders")
    ids = orders.select(F.col("o_orderkey").cast("bigint").alias("id"))
    bounds = ids.agg(F.min("id").alias("mn"), F.max("id").alias("mx"))
    ends = (
        ids.join(ids.select((F.col("id") - 1).alias("id")), "id", "left_anti")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("id") < F.col("mx"))
        .select(F.col("id").alias("run_end"))
    )
    starts = (
        ids.join(ids.select((F.col("id") + 1).alias("id")), "id", "left_anti")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("id") > F.col("mn"))
        .select(F.col("id").alias("next_start"))
    )
    we = Window.orderBy("run_end")
    ws = Window.orderBy("next_start")
    paired = ends.withColumn("__g", F.row_number().over(we)).join(
        starts.withColumn("__g", F.row_number().over(ws)), "__g"
    )
    return paired.filter(F.col("next_start") > F.col("run_end") + 1).select(
        (F.col("run_end") + 1).cast("bigint").alias("gap_start"),
        (F.col("next_start") - 1).cast("bigint").alias("gap_end"),
        (F.col("next_start") - F.col("run_end") - 1).cast("bigint").alias(
            "n_missing"
        ),
    )


# referential-integrity audit across the schema's FK pairs: orphaned
# foreign keys per relation (anti-join counts, long format).
_RI_ORACLE = """
SELECT 'orders.o_custkey -> customer' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
UNION ALL
SELECT 'lineitem.l_orderkey -> orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN os.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders os ON os.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer c2 LEFT JOIN nation n ON n.n_nationkey = c2.c_nationkey
UNION ALL
SELECT 'supplier.s_nationkey -> nation',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n2.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM supplier s LEFT JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
"""


@df_query("profile_referential_integrity", _RI_ORACLE)
def profile_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphaned-FK audit over the schema's relationships — the
    load-time integrity report (anti-join counts in long format; at
    scale each check is one broadcast/shuffle join keyed by the FK)."""
    def check(name, child, ckey, parent, pkey):
        c = tables.load(spark, sf_dir, child).select(F.col(ckey).alias("__fk"))
        p = tables.load(spark, sf_dir, parent).select(
            F.col(pkey).alias("__pk"), F.lit(1).alias("__hit")
        )
        j = c.join(p, c["__fk"] == p["__pk"], "left")
        return j.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("__hit").isNull().cast("bigint")).cast("bigint").alias(
                "n_orphans"
            ),
        )

    parts = [
        check("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        check("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        check("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        check("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- round-5 capstone chain: ExactSubstr span gate -> epoch-multiplicity
# mix -> per-source training-row stats. One DataFrame flows duplicated-
# span scoring -> filter -> epoch replication with no materialization
# boundary; the oracle composes the same stages as SQL CTEs.
_V3_MAX_DUP_FRACTION = 0.5
_V3_EPOCHS = {"web": 0.9, "wiki": 2.4, "books": 1.6}

_V3_EPOCH_CASE = "CASE source " + " ".join(
    f"WHEN '{k}' THEN {v!r}" for k, v in _V3_EPOCHS.items()
) + " ELSE 1.0 END"


def _curation_v3_oracle() -> str:
    from datafusion_server_spark.queries.dedup import _COVER_CTE

    return f"""
WITH {_COVER_CTE},
nw AS (SELECT CAST(doc_id AS BIGINT) AS id, source,
              CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS BIGINT) AS n_words
       FROM documents),
keepers AS (
  SELECT nw.id, nw.source, nw.n_words
  FROM nw LEFT JOIN cover c ON c.id = nw.id
  WHERE nw.n_words > 0
    AND CAST(COALESCE(c.dup_words, 0) AS DOUBLE) / CAST(nw.n_words AS DOUBLE)
        <= {_V3_MAX_DUP_FRACTION}),
ep AS (
  SELECT id, source, n_words,
         CAST(FLOOR({_V3_EPOCH_CASE}) AS BIGINT)
         + CASE WHEN (CAST(('0x' || SUBSTR(md5('epoch:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)
                      / CAST(16.0 ** 15 AS DOUBLE))
                     < {_V3_EPOCH_CASE} - FLOOR({_V3_EPOCH_CASE}) THEN 1 ELSE 0 END AS n
  FROM keepers)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n * n_words) AS BIGINT) AS total_words
FROM ep WHERE n > 0 GROUP BY source
"""


@df_query("pipeline_curation_v3", _curation_v3_oracle())
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 curation chain: duplicated-span fraction gate (ExactSubstr
    keep/trim) -> per-source epoch multiplicities -> per-source training
    rows / docs / token mass. n_rows counts epoch-replicated rows, so
    total_words is the actual token budget the trainer sees."""
    from datafusion_server_spark.operators import dedup, sampling
    from datafusion_server_spark.queries.dedup import SPAN_L, SPAN_MIN_COUNT

    docs = tables.load(spark, sf_dir, "documents")
    frac = dedup.duplicate_span_fraction(docs, "text", "doc_id", SPAN_L, SPAN_MIN_COUNT)
    keepers = (
        frac.filter(
            (F.col("n_words") > 0)
            & (F.col("dup_words").cast("double") / F.col("n_words").cast("double")
               <= _V3_MAX_DUP_FRACTION)
        )
        .select("id", "n_words")
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
    )
    epochs = sampling.epoch_mix(keepers, "id", "source", _V3_EPOCHS, seed="epoch")
    return (
        epochs.join(keepers.select("id", "n_words"), "id")
        .groupBy(F.col("stratum").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("id").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
    )


# corpus release diff: v2 is synthesized deterministically from the
# fixture ON BOTH ENGINES (drop %13, revise %7, add %17 under shifted
# ids), so the full-outer hash diff has known structure to recover.
_DIFF_ORACLE = """
WITH v2 AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS id, 'new ' || text AS text
  FROM documents WHERE doc_id % 17 = 0),
o AS (SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS ho FROM documents),
nn AS (SELECT CAST(id AS BIGINT) AS id, md5(text) AS hn FROM v2),
j AS (SELECT COALESCE(o.id, nn.id) AS id,
             CASE WHEN o.id IS NULL THEN 'added'
                  WHEN nn.id IS NULL THEN 'removed'
                  WHEN o.ho <> nn.hn THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN nn ON nn.id = o.id)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
FROM j GROUP BY status
"""


@df_query("profile_snapshot_diff", _DIFF_ORACLE)
def profile_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff (v1 -> synthesized v2): per-status counts of
    the full-outer content-hash comparison — the what-changed report a
    dataset release pipeline publishes."""
    from datafusion_server_spark.operators.profiling import corpus_snapshot_diff

    docs = tables.load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    v2 = base.unionByName(added)
    diff = corpus_snapshot_diff(
        docs.select(F.col("doc_id").alias("id"), "text"), v2, "id", "text"
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
    )


# k-anonymity audit over the release quasi-identifiers: every
# equivalence class of (source, lang) with its size and whether it
# meets the k floor — the class table IS the suppression worklist.
_K_ANON = 20

_KANON_ORACLE = f"""
SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
       COUNT(*) >= {_K_ANON} AS meets_k
FROM documents GROUP BY source, lang
"""


@df_query("privacy_k_anonymity", _KANON_ORACLE)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity equivalence classes over the published metadata
    columns: any class under k documents re-identifies too narrowly
    and goes on the suppression worklist before release."""
    docs = tables.load(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) >= _K_ANON).alias("meets_k"),
    )


# l-diversity audit (r6): k-anonymity's companion — a class can be
# large (meets k) yet still leak if everyone in it shares the same
# SENSITIVE value. Distinct-l-diversity counts distinct sensitive
# values per quasi-identifier class; entropy-l-diversity additionally
# requires the value DISTRIBUTION not be dominated by one value
# (entropy >= ln(l)). Sensitive attribute here: the document's length
# band (a plausible inference target the metadata should not pin down).
_L_DIV = 3
_L_DIV_LN = 1.0986122886681098  # repr(math.log(3)): same double literal on BOTH engines (no libm 1-ulp risk)

_LDIV_ORACLE = f"""
WITH t AS (
  SELECT source, lang,
         CAST(LEAST(CAST(n_chars AS BIGINT) // 100, 5) AS BIGINT) AS sens
  FROM documents),
cls AS (
  SELECT source, lang, sens, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY source, lang, sens),
cls2 AS (
  SELECT source, lang, c,
         CAST(SUM(c) OVER (PARTITION BY source, lang) AS BIGINT) AS ntot
  FROM cls),
enttok AS (
  SELECT source, lang, c, ntot,
         CAST(ROUND(-(CAST(c AS DOUBLE) / ntot) * LN(CAST(c AS DOUBLE) / ntot), 8)
              AS DECIMAL(18,8)) AS e
  FROM cls2),
agg AS (
  SELECT source, lang,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS distinct_sens,
         CAST(SUM(e) AS DOUBLE) AS ent
  FROM enttok GROUP BY source, lang)
SELECT source, lang, n, distinct_sens,
       ROUND(ent, 6) AS entropy_nats,
       distinct_sens >= {_L_DIV} AS meets_distinct_l,
       ent >= {_L_DIV_LN} AS meets_entropy_l
FROM agg
"""


@df_query("privacy_l_diversity", _LDIV_ORACLE)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct- and entropy-l-diversity per (source, lang) class over
    the length-band sensitive attribute: per-class term entropies round
    to 8 and sum as DECIMAL (the LM-scoring determinism contract), so
    the boolean gates are engine-exact."""
    docs = tables.load(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        F.least(
            (F.col("n_chars").cast("bigint") / 100).cast("bigint"), F.lit(5)
        ).alias("sens"),
    )
    cls = t.groupBy("source", "lang", "sens").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    from pyspark.sql.window import Window

    wcls = Window.partitionBy("source", "lang")
    frac = F.col("c").cast("double") / F.sum("c").over(wcls).cast("double")
    enttok = cls.withColumn(
        "__e", F.round(-frac * F.log(frac), 8).cast("decimal(18,8)")
    )
    agg = enttok.groupBy("source", "lang").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_sens"),
        F.sum("__e").cast("double").alias("ent"),
    )
    return agg.select(
        "source",
        "lang",
        "n",
        "distinct_sens",
        F.round(F.col("ent"), 6).alias("entropy_nats"),
        (F.col("distinct_sens") >= _L_DIV).alias("meets_distinct_l"),
        (F.col("ent") >= F.lit(_L_DIV_LN)).alias("meets_entropy_l"),
    )


# --- ABTT / top-principal-component family (r6, operators/embeddings.py) ---
# Power iteration with a FIXED count is SQL-expressible: the whole
# fit — exact integer covariance moments, 12 repr-rounded matvec
# iterations, Rayleigh quotient, orientation flip — unrolls into a
# DuckDB CTE chain (the kmeans/logreg/BT pattern).
_PCA_DIM = 64
_PCA_ITERS = 12


def _pca_ctes() -> str:
    from datafusion_server_spark.queries import rrepr

    head = f"""ex AS MATERIALIZED (
  SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS i,
         CAST(embedding[t.i] AS DOUBLE) AS vi
  FROM embeddings, UNNEST(range(1, {_PCA_DIM + 1})) AS t(i)),
tri AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
         CAST(SUM(CAST(ROUND(a.vi * b.vi * 1e12) AS BIGINT)) AS BIGINT) AS m
  FROM ex a JOIN ex b ON b.vec_id = a.vec_id AND b.i >= a.i
  GROUP BY a.i, b.i),
firsts AS MATERIALIZED (
  SELECT i, CAST(SUM(CAST(ROUND(vi * 1e12) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY i),
mu AS (SELECT i, CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12) AS mu, n FROM firsts),
cov AS MATERIALIZED (
  SELECT f.i, f.j,
         CAST(f.m AS DOUBLE) / (CAST(mi.n AS DOUBLE) * 1e12) - mi.mu * mj.mu AS c
  FROM (SELECT i, j, m FROM tri
        UNION ALL SELECT j AS i, i AS j, m FROM tri WHERE i <> j) f
  JOIN mu mi ON mi.i = f.i JOIN mu mj ON mj.i = f.j),
x0 AS (SELECT i, CAST({round(1.0 / _PCA_DIM ** 0.5, 8)!r} AS DOUBLE) AS x FROM mu)"""
    parts = [head]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(f"""y{t} AS MATERIALIZED (
  SELECT c.i,
         CAST(SUM(CAST({rrepr("c.c * x.x", 8)} AS DECIMAL(28,8))) AS DOUBLE) AS y
  FROM cov c JOIN x{t-1} x ON x.i = c.j GROUP BY c.i),
n{t} AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(y * y * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nn
  FROM y{t}),
x{t} AS MATERIALIZED (
  SELECT i, {rrepr(f"y / (SELECT nn FROM n{t})", 8)} AS x FROM y{t})""")
    parts.append(f"""lam AS (
  SELECT CAST(SUM(CAST({rrepr("xi.x * c.c * xj.x", 8)} AS DECIMAL(28,8))) AS DOUBLE) AS l
  FROM cov c JOIN x{_PCA_ITERS} xi ON xi.i = c.i JOIN x{_PCA_ITERS} xj ON xj.i = c.j),
flip AS (
  SELECT CASE WHEN (SELECT x FROM x{_PCA_ITERS} ORDER BY ABS(x) DESC, i ASC LIMIT 1) < 0
              THEN -1.0 ELSE 1.0 END AS f),
comp AS (
  SELECT mu.i, mu.mu, x.x * (SELECT f FROM flip) AS cval
  FROM mu JOIN x{_PCA_ITERS} x ON x.i = mu.i)""")
    return ",\n".join(parts)


def _pca_oracle() -> str:
    from datafusion_server_spark.queries import rrepr

    return f"""
WITH {_pca_ctes()}
SELECT i, {rrepr("mu", 6)} AS mu, {rrepr("cval", 6)} AS comp,
       {rrepr("(SELECT l FROM lam)", 6)} AS eigenvalue
FROM comp
"""


@df_query("embedding_top_component", _pca_oracle())
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by fixed-count
    power iteration over the exact-integer covariance moments — the
    direction ABTT removes; deterministic converged-or-not."""
    from datafusion_server_spark.operators import embeddings as emb

    vecs = tables.load(spark, sf_dir, "embeddings")
    m = emb.covariance_moments(vecs, "embedding")
    return emb.top_component_power(m, _PCA_DIM, _PCA_ITERS)


def _abtt_oracle() -> str:
    from datafusion_server_spark.queries import rrepr

    comp6 = rrepr("cval", 6)
    return f"""
WITH {_pca_ctes()},
comp6 AS (SELECT i, {comp6} AS comp FROM comp),
proj AS (
  SELECT e.vec_id,
         {rrepr("CAST(SUM(CAST(ROUND(e.vi * c.comp * 1e12) AS BIGINT)) AS DOUBLE) / 1e12", 8)} AS p
  FROM ex e JOIN comp6 c ON c.i = e.i GROUP BY e.vec_id),
corr AS (
  SELECT e.vec_id, e.i, e.vi - p.p * c.comp AS ci
  FROM ex e JOIN comp6 c ON c.i = e.i JOIN proj p ON p.vec_id = e.vec_id),
norms AS (
  SELECT vec_id,
         SQRT(CAST(SUM(CAST(ROUND(ci * ci * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nn
  FROM corr GROUP BY vec_id),
elems AS (
  SELECT c.vec_id, c.i, p.p, n.nn,
         CASE WHEN n.nn > 0 THEN {rrepr("c.ci / n.nn", 6)} ELSE 0.0 END AS e
  FROM corr c JOIN proj p ON p.vec_id = c.vec_id JOIN norms n ON n.vec_id = c.vec_id)
SELECT CAST(vec_id AS BIGINT) AS id,
       {rrepr("ANY_VALUE(p)", 6)} AS proj_coeff,
       {rrepr("ANY_VALUE(nn)", 6)} AS corrected_norm,
       CAST(ANY_VALUE(CASE WHEN i = 0 THEN e END) AS DOUBLE) AS corrected_dim0,
       CAST(SUM(CAST(ROUND(ABS(e) * 1e6) AS BIGINT)) AS BIGINT) AS corrected_l1_micro
FROM elems
GROUP BY vec_id
"""


@df_query("embedding_abtt_renorm", _abtt_oracle())
def embedding_abtt_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-But-The-Top post-processing (arXiv:1702.01417): subtract each
    embedding's projection onto the corpus top component, renormalize —
    sharper cosine retrieval when one direction carries corpus-wide
    variance."""
    from datafusion_server_spark.operators import embeddings as emb

    vecs = tables.load(spark, sf_dir, "embeddings")
    m = emb.covariance_moments(vecs, "embedding")
    comp = emb.top_component_power(m, _PCA_DIM, _PCA_ITERS)
    out = emb.remove_top_component(vecs, "embedding", "vec_id", comp)
    # the corrected vector travels as scalar digests (first element +
    # exact micro-unit L1): elements are on the 1e-6 grid, so the L1
    # sums exactly as integers on both engines
    return out.selectExpr(
        "CAST(id AS BIGINT) AS id",
        "proj_coeff",
        "corrected_norm",
        "ELEMENT_AT(corrected, 1) AS corrected_dim0",
        "AGGREGATE(TRANSFORM(corrected, e -> "
        "CAST(ROUND(ABS(e) * 1.0E6) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, t) -> acc + t) AS corrected_l1_micro",
    )


# t-closeness (r6): the third release-audit gate — a class can satisfy
# k-anonymity AND l-diversity yet still leak if its sensitive-value
# DISTRIBUTION diverges from the corpus-wide one. For the ORDERED
# length-band attribute the distance is the Earth Mover's Distance:
# EMD = sum_b |cum_class(b) - cum_global(b)| / (m - 1) over the m
# ordered bands. All counts integer; the per-band cumulative
# difference is an exact rational evaluated identically in double.
_T_CLOSE = 0.2
_T_BANDS = 6  # LEAST(n_chars // 100, 5) -> bands 0..5


def _tclose_oracle() -> str:
    from datafusion_server_spark.queries import rrepr

    return f"""
WITH t AS (
  SELECT source, lang,
         CAST(LEAST(CAST(n_chars AS BIGINT) // 100, 5) AS BIGINT) AS sens
  FROM documents),
bands AS (SELECT UNNEST(range(0, {_T_BANDS})) AS b),
cls AS (
  SELECT source, lang, sens, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY source, lang, sens),
keys AS (SELECT DISTINCT source, lang FROM cls),
grid AS (
  SELECT k.source, k.lang, bands.b AS sens, COALESCE(c.c, 0) AS c
  FROM keys k CROSS JOIN bands
  LEFT JOIN cls c ON c.source = k.source AND c.lang = k.lang AND c.sens = bands.b),
tot AS (
  SELECT source, lang, CAST(SUM(c) AS BIGINT) AS n FROM grid GROUP BY source, lang),
gdist AS (
  SELECT sens, CAST(SUM(c) AS BIGINT) AS g FROM grid GROUP BY sens),
gn AS (SELECT CAST(SUM(g) AS BIGINT) AS gt FROM gdist),
cum AS (
  SELECT gr.source, gr.lang, gr.sens,
         CAST(SUM(gr.c) OVER (PARTITION BY gr.source, gr.lang ORDER BY gr.sens) AS BIGINT) AS cc,
         CAST(SUM(gl.g) OVER (PARTITION BY gr.source, gr.lang ORDER BY gr.sens) AS BIGINT) AS cg,
         t2.n, (SELECT gt FROM gn) AS gt
  FROM grid gr JOIN gdist gl ON gl.sens = gr.sens
  JOIN tot t2 ON t2.source = gr.source AND t2.lang = gr.lang),
emds AS (
  SELECT source, lang, ANY_VALUE(n) AS n,
         CAST(SUM(CAST({rrepr("ABS(CAST(cc AS DOUBLE) / n - CAST(cg AS DOUBLE) / gt)", 8)}
                  AS DECIMAL(18,8))) AS DOUBLE) / ({_T_BANDS} - 1) AS emd
  FROM cum WHERE sens < {_T_BANDS - 1}  -- last cumulative is always 1-1=0
  GROUP BY source, lang)
SELECT source, lang, n, {rrepr("emd", 6)} AS emd,
       emd <= {_T_CLOSE!r} AS meets_t
FROM emds
"""


@df_query("privacy_t_closeness", _tclose_oracle())
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness per (source, lang) class over the ordered length-band
    sensitive attribute: EMD between the class distribution and the
    corpus-wide one (cumulative-difference form for ordered values);
    per-band terms round to 8 and sum as DECIMAL so the gate is
    engine-exact. Completes the release-audit trio with k-anonymity and
    l-diversity."""
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        F.least(
            (F.col("n_chars").cast("bigint") / 100).cast("bigint"), F.lit(5)
        ).alias("sens"),
    )
    cls = t.groupBy("source", "lang", "sens").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bands = spark.range(_T_BANDS).select(F.col("id").alias("sens"))
    keys = cls.select("source", "lang").distinct()
    grid = (
        keys.crossJoin(F.broadcast(bands))
        .join(cls, ["source", "lang", "sens"], "left")
        .select(
            "source", "lang", "sens",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    tot = grid.groupBy("source", "lang").agg(F.sum("c").cast("bigint").alias("n"))
    glob = grid.groupBy("sens").agg(F.sum("c").cast("bigint").alias("g"))
    gn = glob.agg(F.sum("g").cast("bigint").alias("gt"))
    wc = Window.partitionBy("source", "lang").orderBy("sens")
    cum = (
        grid.join(F.broadcast(glob), "sens")
        .withColumn("cc", F.sum("c").over(wc).cast("bigint"))
        .withColumn("cg", F.sum("g").over(wc).cast("bigint"))
        .join(tot, ["source", "lang"])
        .crossJoin(F.broadcast(gn))
    )
    term = F.abs(
        F.col("cc").cast("double") / F.col("n").cast("double")
        - F.col("cg").cast("double") / F.col("gt").cast("double")
    )
    emds = (
        cum.filter(F.col("sens") < _T_BANDS - 1)
        .select(
            "source", "lang", "n",
            F.round(term, 8).cast("decimal(18,8)").alias("__t"),
        )
        .groupBy("source", "lang", "n")
        .agg((F.sum("__t").cast("double") / (_T_BANDS - 1)).alias("emd"))
    )
    return emds.select(
        "source",
        "lang",
        "n",
        F.round(F.col("emd"), 6).alias("emd"),
        (F.col("emd") <= F.lit(_T_CLOSE)).alias("meets_t"),
    )


# ---------------------------------------------------------------- C4 rules
# r11 (verdict task 5): the fixture corpus is a single-line word soup, so
# — the established html-wrapper precedent (queries/htmltext.py) — the
# query SYNTHESIZES a deterministic multi-line page around every document
# on BOTH engines, then runs the REAL C4 line/page heuristics on it. The
# template is designed to exercise every rule: an unpunctuated header, a
# 2-word line, a javascript line, a cookie-policy line, a sentence-count
# knife edge (doc_id % 4 == 1 pages lose the 5th sentence), lorem-ipsum
# and curly-brace page poisons on other residues.
_C4_ID, _C4_TEXT = object(), object()

# (condition on doc_id or None, line parts)
_C4_LINES: tuple = (
    (None, ("Doc ", _C4_ID, " header intro")),
    (None, (_C4_TEXT, " extra tail.")),
    (None, ("Too short.",)),
    (None, ("This page describes document ", _C4_ID, " fully.")),
    (None, ("Is this useful? Yes, it is!",)),
    ("doc_id % 4 <> 1", ("The final line ends the page here.",)),
    ("doc_id % 3 = 0", ("Enable javascript to view this page.",)),
    ("doc_id % 2 = 0", ("We use cookies and our cookie policy applies.",)),
    ("doc_id % 7 = 0", ("Lorem ipsum dolor sit amet.",)),
    ("doc_id % 11 = 3", ("code sample { return 1 }",)),
)


def _c4_line_spark(parts: tuple):
    cols = []
    for p in parts:
        if p is _C4_ID:
            cols.append(F.col("doc_id").cast("string"))
        elif p is _C4_TEXT:
            cols.append(F.col("text"))
        else:
            cols.append(F.lit(p))
    return F.concat(*cols)


def _c4_page_spark() -> F.Column:
    page = None
    for cond, parts in _C4_LINES:
        line = _c4_line_spark(parts)
        seg = line if page is None else F.concat(F.lit("\n"), line)
        if cond is not None:
            seg = F.when(F.expr(cond), seg).otherwise(F.lit(""))
        page = seg if page is None else F.concat(page, seg)
    return page


def _c4_line_sql(parts: tuple) -> str:
    out = []
    for p in parts:
        if p is _C4_ID:
            out.append("CAST(doc_id AS VARCHAR)")
        elif p is _C4_TEXT:
            out.append("text")
        else:
            out.append(sql_literal(p, dialect="duckdb"))
    return " || ".join(out)


def _c4_page_sql() -> str:
    segs = []
    for i, (cond, parts) in enumerate(_C4_LINES):
        line = _c4_line_sql(parts)
        seg = line if i == 0 else f"CHR(10) || {line}"
        if cond is not None:
            seg = f"CASE WHEN {cond} THEN {seg} ELSE '' END"
        segs.append(f"({seg})")
    return " || ".join(segs)


_C4_KEPT_SQL = """LIST_FILTER(STRING_SPLIT(page, CHR(10)), l ->
        REGEXP_MATCHES(RTRIM(l), '[.!?"]$')
        AND LEN(STRING_SPLIT(TRIM(l), ' ')) >= 3
        AND NOT CONTAINS(LOWER(l), 'javascript')
        AND NOT CONTAINS(LOWER(l), 'cookie policy')
        AND NOT CONTAINS(LOWER(l), 'privacy policy')
        AND NOT CONTAINS(LOWER(l), 'terms of use'))"""

_C4_ORACLE = f"""
WITH p AS (SELECT doc_id, {_c4_page_sql()} AS page FROM documents),
k AS (SELECT doc_id, page, {_C4_KEPT_SQL} AS kept FROM p),
s AS (SELECT doc_id, page, kept,
             ARRAY_TO_STRING(kept, CHR(10)) AS cleaned,
             CAST(LENGTH(REGEXP_REPLACE(ARRAY_TO_STRING(kept, CHR(10)),
                                        '[^.!?]', '', 'g')) AS BIGINT)
               AS n_sentences
      FROM k)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(LEN(STRING_SPLIT(page, CHR(10))) AS BIGINT) AS n_lines,
       CAST(LEN(kept) AS BIGINT) AS n_kept_lines,
       n_sentences,
       CONTAINS(LOWER(page), 'lorem ipsum') AS has_lorem,
       CONTAINS(page, '{{') AS has_brace,
       (NOT CONTAINS(LOWER(page), 'lorem ipsum')
        AND NOT CONTAINS(page, '{{')
        AND n_sentences >= 5) AS keep_page,
       cleaned AS cleaned_text
FROM s
"""


@df_query("prune_c4_rules", _C4_ORACLE)
def prune_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning heuristics (operators/quality.py
    c4_prune_rules) over deterministically synthesized multi-line
    pages — every rule (terminal punctuation, >=3 words, javascript,
    policy boilerplate, lorem ipsum, curly brace, >=5 sentences) has
    residue classes of documents on both sides of it."""
    docs = tables.load(spark, sf_dir, "documents")
    pages = docs.select("doc_id", _c4_page_spark().alias("page"))
    return quality.c4_prune_rules(pages, "page", "doc_id")


# ----------------------------------------------------------- repetition
# r11 continuation: Gopher line-repetition pruning signals over
# deterministically synthesized pages (same precedent as the C4 row).
# Residue classes: d%4 controls boilerplate ("Subscribe...") copy count
# (0-3 -> 0-2 duplicate instances), d%6==0 additionally repeats the
# whole document text (large CHARACTER duplication with few duplicate
# LINES — separates the two fractions).
_REP_LINE = "Subscribe to our newsletter today."

_REP_PAGE_SPARK = (
    "CONCAT(text,"
    " '\\nTop story ', CAST(doc_id % 5 AS STRING), ' of the week.',"
    f" REPEAT('\\n{_REP_LINE}', CAST(doc_id % 4 AS INT)),"
    " CASE WHEN doc_id % 6 = 0 THEN CONCAT('\\n', text) ELSE '' END,"
    " '\\nClosing note for document ', CAST(doc_id AS STRING), '.')"
)

_REP_PAGE_SQL = (
    "text || CHR(10) || 'Top story ' || CAST(doc_id % 5 AS VARCHAR)"
    " || ' of the week.'"
    f" || REPEAT(CHR(10) || '{_REP_LINE}', CAST(doc_id % 4 AS INT))"
    " || (CASE WHEN doc_id % 6 = 0 THEN CHR(10) || text ELSE '' END)"
    " || CHR(10) || 'Closing note for document '"
    " || CAST(doc_id AS VARCHAR) || '.'"
)

_REP_ORACLE = f"""
WITH p AS (SELECT doc_id, {_REP_PAGE_SQL} AS page FROM documents),
l AS (SELECT doc_id,
             STRING_SPLIT(page, CHR(10)) AS lines,
             LIST_DISTINCT(STRING_SPLIT(page, CHR(10))) AS dl
      FROM p),
m AS (SELECT doc_id,
             CAST(LEN(lines) AS BIGINT) AS n,
             CAST(LEN(dl) AS BIGINT) AS nd,
             CAST(LENGTH(ARRAY_TO_STRING(lines, '')) AS BIGINT) AS chars,
             CAST(LENGTH(ARRAY_TO_STRING(dl, '')) AS BIGINT) AS dchars,
             CAST(LIST_MAX(LIST_TRANSFORM(dl, d ->
                 LEN(LIST_FILTER(lines, x -> x = d)))) AS BIGINT) AS topn
      FROM l)
SELECT CAST(doc_id AS BIGINT) AS id,
       n AS n_lines,
       CAST(n - nd AS BIGINT) AS n_dup_lines,
       {rrepr("CAST(n - nd AS DOUBLE) / n", 6)} AS dup_line_frac,
       {rrepr("CASE WHEN chars = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(chars - dchars AS DOUBLE) / chars END", 6)} AS dup_line_char_frac,
       {rrepr("CAST(topn AS DOUBLE) / n", 6)} AS top_line_frac,
       (CAST(n - nd AS DOUBLE) / n <= 0.30
        AND (CASE WHEN chars = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(chars - dchars AS DOUBLE) / chars END) <= 0.20)
         AS keep
FROM m
"""


@df_query("prune_repetition_rules", _REP_ORACLE)
def prune_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line-repetition signals (operators/quality.py
    repetition_rules) over synthesized pages with controlled
    boilerplate duplication — duplicate-line fraction, duplicate-line
    CHARACTER fraction (the two Gopher thresholds), and the
    top-line-share boilerplate signal."""
    docs = tables.load(spark, sf_dir, "documents")
    pages = docs.select("doc_id", F.expr(f"{_REP_PAGE_SPARK} AS page"))
    return quality.repetition_rules(pages, "page", "doc_id")
