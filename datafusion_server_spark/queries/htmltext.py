"""HTML-extraction queries (operators.htmltext).

The fixture corpus is plain text, so — exactly like the multimodal
family — each query SYNTHESIZES a deterministic HTML wrapper around
every document (same ``||`` concatenation on both engines), then runs
the REAL extraction chain on it. The oracle is a genuine engine-parity
check of the interesting part: Spark compiles the patterns with Java
regex, DuckDB with RE2, and the chain is written to behave identically
under both (see ``operators/htmltext.py`` parity notes). The
``roundtrip_ok`` column additionally proves the extraction recovers
the known visible text of the synthesized page for every document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import htmltext
from datafusion_server_spark.operators.htmltext import ENTITIES
from datafusion_server_spark.operators.scale import sql_literal
from datafusion_server_spark.queries import df_query

# synthesis template: literal strings interleaved with the doc-id and
# the document text (markers resolved per engine below)
ID, TEXT, SRC = object(), object(), object()

_PARTS: tuple = (
    "<html><head><title>Doc ", ID, " &amp; friends</title>",
    '<style type="text/css">body { margin: 0; }</style>',
    '<script type="text/javascript">var s = "<p>hidden</p>"; '
    'if (1 < 2) { s = "&amp;"; }</script>',
    "</head><body><!-- boilerplate ", ID, " -->",
    '<h1 id="h">Title &lt;', ID, "&gt;</h1>",
    '<p class="body">', TEXT, "</p>",
    '<a href="https://', SRC, '.example.org/doc/', ID, '?ref=1&amp;x=2">Read &quot;more&quot;</a> ',
    '<a href="/rel/', ID, '">next</a><br/></body></html>',
)
# the visible text the chain must recover
_EXPECTED: tuple = (
    "Doc ", ID, " & friends Title <", ID, "> ", TEXT, ' Read "more" next',
)


def _spark_concat(parts: tuple) -> Column:
    cols = []
    for p in parts:
        if p is ID:
            cols.append(F.col("doc_id").cast("string"))
        elif p is TEXT:
            cols.append(F.col("text"))
        elif p is SRC:
            cols.append(F.col("source"))
        else:
            cols.append(F.lit(p))
    return F.concat(*cols)


def _sql_concat(parts: tuple) -> str:
    out = []
    for p in parts:
        if p is ID:
            out.append("CAST(doc_id AS VARCHAR)")
        elif p is TEXT:
            out.append("text")
        elif p is SRC:
            out.append("source")
        else:
            out.append(sql_literal(p, dialect="duckdb"))
    return " || ".join(out)


def _sql_unescape(expr: str) -> str:
    for ent, ch in ENTITIES:
        expr = (f"REPLACE({expr}, {sql_literal(ent, dialect='duckdb')}, "
                f"{sql_literal(ch, dialect='duckdb')})")
    return expr


def _sql_text(expr: str) -> str:
    for pat in (
        r"(?is)<script[^>]*>.*?</script>",
        r"(?is)<style[^>]*>.*?</style>",
        r"(?s)<!--.*?-->",
        r"<[^>]+>",
    ):
        expr = f"REGEXP_REPLACE({expr}, '{pat}', ' ', 'g')"
    return f"TRIM(REGEXP_REPLACE({_sql_unescape(expr)}, '[ \\t\\r\\n]+', ' ', 'g'))"


_TEXT_ORACLE = f"""
WITH h AS (SELECT doc_id, text, source, {_sql_concat(_PARTS)} AS html FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_sql_text("html")} AS clean_text,
       ({_sql_text("html")} = {_sql_concat(_EXPECTED)}) AS roundtrip_ok
FROM h
"""


@df_query("html_extract_text", _TEXT_ORACLE)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    wrapped = docs.withColumn("html", _spark_concat(_PARTS))
    out = htmltext.extract_text(wrapped, "html")
    return out.select(
        "doc_id",
        "clean_text",
        (F.col("clean_text") == _spark_concat(_EXPECTED)).alias("roundtrip_ok"),
    )


def _sql_title(expr: str) -> str:
    raw = f"REGEXP_EXTRACT({expr}, '(?is)<title[^>]*>(.*?)</title>', 1)"
    return f"TRIM(REGEXP_REPLACE({_sql_unescape(raw)}, '[ \\t\\r\\n]+', ' ', 'g'))"


_META_ORACLE = f"""
WITH h AS (SELECT doc_id, text, source, {_sql_concat(_PARTS)} AS html FROM documents),
m AS (SELECT doc_id, html,
             REGEXP_EXTRACT_ALL(html, 'href="([^"]*)"', 1) AS links
      FROM h)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_sql_title("html")} AS title,
       CAST(LEN(links) AS BIGINT) AS n_links,
       links[1] AS first_link,
       ARRAY_TO_STRING(links, '|') AS links_joined
FROM m
"""


@df_query("html_extract_meta", _META_ORACLE)
def html_extract_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    wrapped = docs.withColumn("html", _spark_concat(_PARTS))
    return htmltext.extract_meta(wrapped, "html").select(
        "doc_id", "title", "n_links", "first_link", "links_joined"
    )


# --- web-ingest curation capstone: HTML -> visible text -> template-
# boilerplate strip -> word-count gate -> exact dedup -> per-source
# stats. The boilerplate patterns model the post-extraction template
# removal every crawl pipeline runs (the synthesized wrapper plays the
# site template); after the strip the body is the original fixture
# text, so the dedup stage sees the corpus's true duplicate structure.
_BP_PREFIX = r'^Doc [0-9]+ & friends Title <[0-9]+> '
_BP_SUFFIX = r' Read "more" next$'
_MIN_WORDS = 5
_LEAD_CHARS = 120

_WEB_ORACLE = f"""
WITH h AS (SELECT doc_id, source, {_sql_concat(_PARTS)} AS html FROM documents),
x AS (SELECT doc_id, source, {_sql_text("html")} AS clean FROM h),
b AS (SELECT doc_id, source,
             REGEXP_REPLACE(REGEXP_REPLACE(clean, '{_BP_PREFIX}', ''), '{_BP_SUFFIX}', '') AS body
      FROM x),
g AS (SELECT doc_id, source, body,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(body, ' '), w -> w <> '')) AS BIGINT) AS n_words
      FROM b),
gated AS (SELECT * FROM g WHERE n_words >= {_MIN_WORDS}),
dd AS (SELECT md5(SUBSTR(body, 1, {_LEAD_CHARS})) AS h,
              CAST(MIN(doc_id) AS BIGINT) AS keep_id,
              CAST(COUNT(*) AS BIGINT) AS n_copies
       FROM gated GROUP BY md5(SUBSTR(body, 1, {_LEAD_CHARS}))),
keepers AS (SELECT g.doc_id, g.source, g.n_words, d.n_copies
            FROM gated g JOIN dd d ON d.keep_id = g.doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_dropped,
       CAST(SUM(n_words) AS BIGINT) AS total_words
FROM keepers GROUP BY source
"""


@df_query("pipeline_web_ingest", _WEB_ORACLE)
def pipeline_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-ingest shape: synthesized crawl HTML -> visible-
    text extraction -> template-boilerplate regex strip -> minimum-word
    gate -> leading-prefix exact dedup (md5 of the first _LEAD_CHARS
    chars — the crawl-pipeline trick that catches same-article pages
    whose tails differ; min-id keeper, drops credited to the keeper's
    source) -> per-source kept/dropped/token-mass stats. One DataFrame
    chain, no materialization boundary; every stage is codegen
    expressions plus the one dedup groupBy shuffle."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    wrapped = docs.withColumn("html", _spark_concat(_PARTS))
    body = F.regexp_replace(
        F.regexp_replace(htmltext.html_text_col(F.col("html")), _BP_PREFIX, ""),
        _BP_SUFFIX,
        "",
    )
    gated = (
        wrapped.withColumn("body", body)
        .withColumn(
            "n_words",
            F.size(F.filter(F.split(F.col("body"), " "), lambda w: w != "")).cast(
                "bigint"
            ),
        )
        .filter(F.col("n_words") >= _MIN_WORDS)
    )
    dd = gated.groupBy(
        F.md5(F.substring(F.col("body"), 1, _LEAD_CHARS)).alias("h")
    ).agg(
        F.min("doc_id").cast("bigint").alias("keep_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
    keepers = gated.join(dd, gated["doc_id"] == dd["keep_id"])
    return keepers.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_dropped"),
        F.sum("n_words").cast("bigint").alias("total_words"),
    )


# per-domain outlink inventory + blocklist gate (UT1-style): the
# blocklist is the broadcast-tiny side of a crawl-filter join; here a
# literal IN-list on the aggregated domain table (bounded by distinct
# domains, the 100 TB-safe place to apply it).
_BLOCKLIST = ("src3.example.org", "src7.example.org")
_BL_SQL = ", ".join(f"'{d}'" for d in _BLOCKLIST)

_DOMAINS_ORACLE = f"""
WITH h AS (SELECT doc_id, text, source, {_sql_concat(_PARTS)} AS html FROM documents),
m AS (SELECT doc_id, REGEXP_EXTRACT_ALL(html, 'href="([^"]*)"', 1) AS links FROM h),
l AS (SELECT doc_id, UNNEST(links) AS href FROM m),
d AS (SELECT doc_id,
             CASE WHEN REGEXP_EXTRACT(href, '^https?://([^/?#]+)', 1) = ''
                  THEN '(relative)'
                  ELSE REGEXP_EXTRACT(href, '^https?://([^/?#]+)', 1) END AS domain
      FROM l)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages,
       domain IN ({_BL_SQL}) AS blocked
FROM d GROUP BY domain
"""


@df_query("web_link_domains", _DOMAINS_ORACLE)
def web_link_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink domain histogram over the synthesized crawl + blocklist
    flag — the link-graph hygiene report (which domains does the corpus
    point at, and which are gated)."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    wrapped = docs.withColumn("html", _spark_concat(_PARTS))
    links = wrapped.select(
        "doc_id",
        F.explode(htmltext.html_links_col(F.col("html"))).alias("href"),
    )
    raw = htmltext.link_domain_col(F.col("href"))
    domains = links.select(
        "doc_id",
        F.when(raw == "", "(relative)").otherwise(raw).alias("domain"),
    )
    return domains.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.countDistinct("doc_id").cast("bigint").alias("n_pages"),
        F.col("domain").isin(*_BLOCKLIST).alias("blocked"),
    )
