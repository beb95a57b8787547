"""Text-analysis operators for LLM-data pipelines (north-star extensions).

All JVM-side column expressions (no Python UDFs): language-ID by stopword
voting, quality scoring from exact counting stats, token counting
(whitespace + byte-length BPE estimate), and md5 document fingerprints.
Every output is reproducible by the DuckDB oracle (exact integer counts,
deterministic double division, md5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import (
    ensure_fanout_parallelism,
    quote_ident,
    ranked_topk,
    sql_literal,
)

# Tiny per-language stopword sets for the n-gram/stopword-voting heuristic.
# Deliberately small and ASCII so the oracle SQL can inline them.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "los", "las", "es", "una", "y"),
    "zh": ("de", "shi", "le", "zai", "you", "wo"),
}


def _words(text: Column) -> Column:
    return F.split(text, " ")


# GPT-2-style pretokenizer shape: contractions, letter runs, digit runs,
# punctuation runs, whitespace — each match ~ one BPE pretoken (real BPE
# then splits rare pretokens further; this counts the regex stage).
# ASCII classes only so Java regex (Spark) and RE2 (DuckDB) agree.
BPE_PRETOKEN_RE = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token counting: whitespace tokens, a bytes/4 estimate, and a
    BPE-ish regex pretoken count (``BPE_PRETOKEN_RE`` — the GPT-2
    pretokenizer stage). Output: (id, n_chars, n_words, n_tokens_est,
    n_tokens_bpe, avg_word_len)."""
    words = _words(F.col(text_col))
    n_chars = F.length(F.col(text_col)).cast("bigint")
    n_words = F.size(words).cast("bigint")
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.ceil(n_chars.cast("double") / 4).cast("bigint").alias("n_tokens_est"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PRETOKEN_RE)).cast("bigint").alias(
            "n_tokens_bpe"
        ),
        F.round(
            (n_chars - (n_words - 1)).cast("double") / n_words.cast("double"), 6
        ).alias("avg_word_len"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Quality scoring from exact counting stats: stopword ratio, unique
    word ratio, length band. score in [0,1]; heuristics in the style of
    C4/Gopher filtering rules. Output: (id, stopword_ratio,
    unique_ratio, len_ok, quality)."""
    # SQL-string twin of the Column form (r13): one selectExpr parse
    # instead of ~460 py4j round-trips (the per-stopword isin literals
    # dominated plan construction). Same parsed operators, bit-identical
    # values; double literals carry the D suffix so they stay DOUBLE
    # (bare 0.4 parses as DECIMAL in SQL text).
    t = quote_ident(text_col)
    words = f"SPLIT({t}, ' ')"
    stops = ", ".join(sql_literal(s) for s in LANG_STOPWORDS["en"])
    n_words = f"CAST(SIZE({words}) AS BIGINT)"
    n_stop = f"CAST(SIZE(FILTER({words}, w -> w IN ({stops}))) AS BIGINT)"
    n_unique = f"CAST(SIZE(ARRAY_DISTINCT({words})) AS BIGINT)"
    sr = f"ROUND(CAST({n_stop} AS DOUBLE) / CAST({n_words} AS DOUBLE), 6)"
    ur = f"ROUND(CAST({n_unique} AS DOUBLE) / CAST({n_words} AS DOUBLE), 6)"
    len_ok = f"((LENGTH({t}) >= 100) AND (LENGTH({t}) <= 20000))"
    quality = (
        f"ROUND(((CASE WHEN {sr} > 0.01D THEN 0.4D ELSE 0.0D END + "
        f"CASE WHEN {ur} > 0.3D THEN 0.3D ELSE 0.0D END) + "
        f"CASE WHEN {len_ok} THEN 0.3D ELSE 0.0D END), 2)"
    )
    return df.selectExpr(
        f"{quote_ident(id_col)} AS id",
        f"{sr} AS stopword_ratio",
        f"{ur} AS unique_ratio",
        f"{len_ok} AS len_ok",
        f"{quality} AS quality",
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-voting language ID. Votes = exact membership counts per
    language; argmax with lexicographic tie-break. Output:
    (id, predicted_lang, vote_en, vote_de, vote_fr, vote_es, vote_zh)."""
    words = _words(F.col(text_col))
    votes = {
        lang: F.size(F.filter(words, lambda w: w.isin(list(stops)))).cast("bigint")
        for lang, stops in LANG_STOPWORDS.items()
    }
    # argmax with deterministic tie-break: compare (vote, reversed-lang) pairs
    best = F.greatest(
        *[F.struct(v.alias("v"), F.lit(lang).alias("lang")) for lang, v in votes.items()]
    )
    # greatest over structs compares field-by-field: highest vote wins, ties
    # break toward the lexicographically LARGEST lang; deterministic either way.
    return df.select(
        F.col(id_col).alias("id"),
        best["lang"].alias("predicted_lang"),
        *[votes[lang].alias(f"vote_{lang}") for lang in LANG_STOPWORDS],
    )


def winnowing_fingerprints(
    df: DataFrame, text_col: str, id_col: str, *, window: int = 5
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash each word
    bigram, slide a window of ``window`` hashes, keep the minimum per
    window, dedup — the selected hashes are position-robust fingerprints
    for near-dup blocking. Output: (id, fingerprint).

    Single explode + window function + distinct: one shuffle for the
    window sort, one for the dedup. Hashes are md5 (oracle-reproducible).
    """
    from pyspark.sql.window import Window

    df = ensure_fanout_parallelism(df)
    words = _words(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tok = df.select(
        F.col(id_col).alias("id"), F.posexplode(bigrams).alias("i", "bg")
    ).select("id", "i", F.md5(F.col("bg")).alias("h"))
    w = Window.partitionBy("id").orderBy("i").rowsBetween(0, window - 1)
    return (
        tok.select("id", F.min("h").over(w).alias("fingerprint"))
        .distinct()
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_queries: int = 5,
    k: int = 3,
) -> DataFrame:
    """Sparse lexical similarity: TF-IDF document vectors + cosine top-k
    via a shared-term join — the sparse counterpart to the dense embedding
    search in operators/similarity.py.

    Weights: w(d,t) = tf(d,t) * round(ln(N/df(t)), 8); dot products and
    norms accumulate as DECIMAL (order-independent). The shared-term join
    only touches (doc, doc) pairs that overlap in vocabulary — the sparse
    analog of bucket-restricted search; the term is the shuffle key.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.sql.window import Window

    df = ensure_fanout_parallelism(df)
    dec = "decimal(18,10)"
    tokens = df.select(
        F.col(id_col).alias("id"), F.explode(_words(F.col(text_col))).alias("term")
    )
    tf = tokens.groupBy("id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    # corpus size as a 1-row broadcast-joined aggregate — part of the same
    # plan, not a separate driver-side count() job per invocation
    n_docs_df = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .crossJoin(F.broadcast(n_docs_df))
        .select("term", F.round(F.log(F.col("n_docs") / F.col("df_t")), 8).alias("idf"))
    )
    # lazy on purpose: the weight view's three consumers (norms, the query
    # slice, the dot join) recompute the tf/idf subplan, but the parallel
    # recompute measures cheaper than a blocking eager-checkpoint job at
    # bench scale; pass the result through localCheckpoint at corpus
    # scales where repeating the tf shuffle per consumer dominates
    w = tf.join(idf, "term").select(
        "id", "term", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = w.groupBy("id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast(dec)).cast("double")).alias("nrm")
    )
    qw = w.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), "term", F.col("w").alias("qw")
    )
    dots = (
        w.select(F.col("id").alias("neighbor_id"), "term", "w")
        .join(F.broadcast(qw), "term")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum((F.col("qw") * F.col("w")).cast(dec)).alias("dot"))
    )
    q_norms = norms.select(F.col("id").alias("query_id"), F.col("nrm").alias("q_nrm"))
    scored = (
        dots.join(norms.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(q_norms), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot").cast("double") / (F.col("q_nrm") * F.col("nrm")), 6).alias(
                "cosine"
            ),
        )
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Document fingerprints: full-text md5, first-256-char prefix md5, and
    a coarse length bucket — the cheap keys for exact/near dedup blocking.
    Output: (id, fp_full, fp_prefix, len_bucket)."""
    norm = F.lower(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, 256)).alias("fp_prefix"),
        (F.floor(F.length(norm) / 100) * 100).cast("bigint").alias("len_bucket"),
    )


# PII patterns: fixed-shape regexes only (no backtracking-dependent
# constructs), so Java regex (Spark) and RE2 (DuckDB) match identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
}


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """PII scrubbing: replace email / IPv4 / phone shapes with typed
    placeholders and count the hits. Pure column expressions — a narrow,
    shuffle-free scan at any scale. Output: (id, text_redacted, n_email,
    n_ipv4, n_phone)."""
    out = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, f"<{name}>")
    return df.select(
        F.col(id_col).alias("id"), out.alias("text_redacted"), *counts
    )


def dedup_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Intra-document repetition removal: keep each word's FIRST
    occurrence, preserving original order (the boilerplate-collapse
    step of a quality pipeline, word-granular here since the fixture has
    no line structure). Output: (id, text_dedup, n_unique).

    Shape: posexplode -> (id, word) first-position aggregation ->
    order-preserving reassembly via array_sort(collect_list(struct)).
    The per-document collect_list is bounded by document vocabulary, not
    corpus size — safe at any corpus scale."""
    w = ensure_fanout_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("p", "word"),
    )
    first = w.groupBy("id", "word").agg(F.min("p").alias("p0"))
    return first.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p0", "word"))),
                lambda s: s["word"],
            ),
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
    )


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_dist: int = 2,
    blocks: list[Column] | None = None,
) -> DataFrame:
    """Blocked fuzzy string matching (entity resolution): pairs of rows
    whose strings are within ``max_dist`` Levenshtein edits, restricted
    to candidates sharing every blocking key. Output: (id_a, id_b, dist).

    Blocking is the scale guard — the all-pairs distance matrix is
    quadratic, but pairs sharing a block are bounded by block size, so
    the join stays linear in row count for any blocking scheme whose
    block populations are bounded (choose keys accordingly: name prefix,
    length band, phonetic code...). Default blocks: first
    whitespace-token + length band of 8 — two strings within d edits
    differ in length by at most d, so a band of 8 > 2*max_dist never
    splits a true pair ACROSS non-adjacent bands (boundary-adjacent
    pairs can still be missed: documented approximate recall, the same
    contract as LSH banding). Levenshtein evaluates JVM-side and is
    identical in DuckDB, so the operator is exactly oracle-checkable.
    """
    if blocks is None:
        blocks = [
            F.split(F.col(text_col), " ")[0],
            F.floor(F.length(F.col(text_col)) / 8),
        ]
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("s"),
        *[b.alias(f"__b{i}") for i, b in enumerate(blocks)],
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for i in range(len(blocks)):
        cond = cond & (F.col(f"a.__b{i}") == F.col(f"b.__b{i}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a.s"), F.col("b.s")).cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def char_ngram_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Character-bigram repetition stats — the character-level
    counterpart of word unique_ratio for catching repetitive/gibberish
    text (keyboard mashing, repeated separators, template spam):

    - ``n_bigrams``: total character bigrams;
    - ``n_distinct``: distinct bigrams;
    - ``distinct_ratio``: n_distinct / n_bigrams (low = repetitive);
    - ``top_ratio``: most-frequent-bigram share (high = one pattern
      dominates).

    All exact integer counts + one rational division, so the oracle
    reproduces every value bit-for-bit (no entropy/log — libm results
    are not bit-portable across engines). Shape: position explode ->
    two grouped aggregations; the per-doc bigram set is bounded by
    charset^2, not corpus size."""
    df = ensure_fanout_parallelism(df)
    # Bigrams via zipped shifted char-array slices (the _word_shingles
    # shape): the per-doc row carries ONE bigram array, and the exploded
    # rows carry 2-char strings only. The naive position-explode +
    # substring(text, p, 2) carried the FULL text on every exploded row
    # (~chars x doc-size bytes — measured killing the JVM at sf0.1), and
    # an element_at-in-lambda form re-evaluates split() per element
    # (Catalyst CollapseProject, the documented O(n^2) trap).
    # Short-text guard: slice handles len<2 via the greatest(0) clamp —
    # the oracle's GENERATE_SERIES is empty there too.
    chars = F.split(F.col(text_col), "")
    m = F.greatest(F.size(chars) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(chars, 1, m), F.slice(chars, 2, m))
    bigram_arr = F.transform(zipped, lambda s: F.concat(s["0"], s["1"]))
    positions = df.select(
        F.col(id_col).alias("id"), F.explode(bigram_arr).alias("bg")
    )
    counts = positions.groupBy("id", "bg").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return counts.groupBy("id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6
        ).alias("distinct_ratio"),
        F.round(F.max("c").cast("double") / F.sum("c").cast("double"), 6).alias(
            "top_ratio"
        ),
    )


def contamination_check(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination detection: flag training documents whose
    word n-grams overlap a probe set (eval/benchmark items) — the
    standard pre-training hygiene pass that keeps test data out of the
    corpus.

    Output per document: (doc_id, n_grams, n_contaminated,
    contamination_ratio) where n_contaminated counts the document's
    DISTINCT n-grams that appear anywhere in the probe set and the ratio
    divides by the document's distinct n-gram count. Documents with no
    n-grams (shorter than ``n`` words) are excluded — no ratio exists.

    100 TB design: probe sets are benchmark-sized (MBs), so their
    distinct n-grams BROADCAST — the corpus-side stream joins map-side
    with no shuffle of the exploded n-grams; the only shuffle is the
    per-doc count aggregation, keyed by doc id (uniform). The n-gram
    stream reuses the zipped-slice shingle builder (no O(words^2)
    lambda trap, see _word_shingles)."""
    from datafusion_server_spark.operators.dedup import _word_shingles

    docs = ensure_fanout_parallelism(docs)
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_word_shingles(F.col(text_col), n)).alias("gram"),
    ).distinct()
    probe_grams = (
        probes.select(F.explode(_word_shingles(F.col(probe_text_col), n)).alias("gram"))
        .distinct()
    )
    hits = doc_grams.join(
        F.broadcast(probe_grams).withColumn("__hit", F.lit(1)), "gram", "left"
    )
    return (
        hits.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count("__hit").cast("bigint").alias("n_contaminated"),
            F.round(
                F.count("__hit").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("contamination_ratio"),
        )
        .select(
            F.col("id").alias(id_col),  # original id type preserved
            "n_grams",
            "n_contaminated",
            "contamination_ratio",
        )
    )


def boilerplate_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 3,
) -> DataFrame:
    """Boilerplate/template detection: word n-grams whose DOCUMENT
    FREQUENCY reaches ``min_df`` are boilerplate (nav bars, license
    headers, scraped templates); each document reports how much of it is
    boilerplate.

    Output: (doc_id, n_grams, n_boilerplate, boilerplate_ratio) over the
    document's DISTINCT n-grams. Documents shorter than ``n`` words are
    excluded (no ratio exists).

    100 TB design: two aggregations, both on uniform keys — the gram
    document-frequency count (shuffle on gram) and the per-doc rollup
    (shuffle on id). The df table is corpus-sized but the FILTERED
    boilerplate set is small by construction (few grams repeat across
    min_df documents), so it broadcasts back onto the gram stream —
    the corpus-side stream is never shuffled a second time."""
    from datafusion_server_spark.operators.dedup import _word_shingles

    docs = ensure_fanout_parallelism(docs)
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_word_shingles(F.col(text_col), n)).alias("gram"),
    ).distinct()
    bp = (
        doc_grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gram")
    )
    hits = doc_grams.join(
        F.broadcast(bp).withColumn("__bp", F.lit(1)), "gram", "left"
    )
    return (
        hits.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count("__bp").cast("bigint").alias("n_boilerplate"),
            F.round(
                F.count("__bp").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("boilerplate_ratio"),
        )
        .select(
            F.col("id").alias(id_col),  # original id type preserved
            "n_grams",
            "n_boilerplate",
            "boilerplate_ratio",
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Vocabulary-coverage scoring: build a frequency-ranked top-N corpus
    vocabulary, then score each document by how much of it falls outside
    that vocabulary — the classic OOV-rate quality filter (high OOV =
    noise/garbled/foreign text relative to the corpus).

    Vocabulary: the ``vocab_size`` most frequent words, rank 1..N by
    (count desc, word asc — deterministic tie-break). Per-doc output:
    (id, n_words, n_oov, oov_rate, mean_vocab_rank) where
    ``mean_vocab_rank`` averages the rank over IN-vocabulary word
    occurrences (0.0 when none) — low mean rank = common-word prose.

    Scale notes (100 TB): the corpus word count is one map-side-combined
    groupBy (shuffle carries one row per distinct word per mapper).
    Ranking the top-N is ``ranked_topk`` (TakeOrderedAndProject:
    per-partition N-row heaps over the distinct-term table, rank
    assigned on the N survivors) — distinct terms scale with the corpus
    (Heaps' law), so no single task ever sees the full vocabulary. The
    vocab broadcasts into the scoring join, so the per-doc pass is one
    explode + one broadcast-hash join + one doc-keyed aggregation.

    ``materialize`` (default True) eager-localCheckpoints the TINY vocab
    table so the scoring action doesn't re-run the vocabulary-build pass
    (scan + split + explode + count) as a second subtree of the same
    plan — the standard stage-the-index contract (the two heavy corpus
    passes are inherent: one builds the vocab, one scores against it)."""
    words_stream = ensure_fanout_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(_words(F.col(text_col))).alias("w")
    )
    # distinct-term cardinality scales with the corpus (Heaps' law), so
    # the top-N vocab selection is the distributed TakeOrderedAndProject
    # (ranked_topk), never a single-partition rank over all terms
    vocab = ranked_topk(
        words_stream.groupBy("w").agg(F.count(F.lit(1)).alias("wc")),
        [F.desc("wc"), F.asc("w")],
        vocab_size,
        "rank",
    ).select("w", "rank")
    if materialize:
        vocab = vocab.localCheckpoint(eager=True)
    scored = words_stream.join(F.broadcast(vocab), "w", "left")
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("rank").isNull(), 1).otherwise(0)).cast("bigint").alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("rank").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
        F.coalesce(
            F.round(
                F.sum("rank").cast("double") / F.count(F.col("rank")).cast("double"), 6
            ),
            F.lit(0.0),
        ).alias("mean_vocab_rank"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_words: int = 128,
) -> DataFrame:
    """Split each document into fixed-size word chunks (the context-
    window chunking step before training): chunk i holds words
    [i*chunk_words, (i+1)*chunk_words). Output: (id, chunk_idx BIGINT,
    chunk_text, n_words BIGINT) — the final chunk may be short. NULL or
    empty documents yield one empty chunk (chunk_idx 0, chunk_text '',
    n_words 0 — NOT the 1 that raw split semantics would give, so
    phantom words never inflate pack_chunks_contiguous bins).

    Scale notes (100 TB): a narrow per-row expansion — slice + explode,
    no shuffle; chunk count per doc is bounded by doc length /
    chunk_words, so the fan-out is proportional to corpus tokens."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(text, " ")
    is_empty = F.length(text) == 0
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(chunk_words)).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(words, i * chunk_words + 1, chunk_words)).alias(
                "chunk_text"
            ),
            F.when(is_empty, F.lit(0))
            .otherwise(F.least(F.size(words) - i * chunk_words, F.lit(chunk_words)))
            .cast("bigint")
            .alias("n_words"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("c"))
        .select("id", "c.chunk_idx", "c.chunk_text", "c.n_words")
    )


def pack_chunks_contiguous(
    chunks: DataFrame,
    capacity_words: int,
    *,
    order_cols: tuple[str, str] = ("id", "chunk_idx"),
) -> DataFrame:
    """Assign chunks to fixed-capacity training bins by CONTIGUOUS
    packing: in (id, chunk_idx) order, bin = floor(cumulative_words_
    before_this_chunk / capacity). Deterministic, partition-independent
    (the order is total), and within 1 chunk of first-fit occupancy when
    chunks are <= capacity — the standard approximation that avoids
    first-fit's inherently sequential state. Output: chunks + (bin_id
    BIGINT, bin_offset BIGINT words already in the bin before this
    chunk... modulo capacity).

    Scale notes: the cumulative window orders GLOBALLY by design — use
    this variant only on bounded inputs (one shard's chunks, a curated
    subset). At 100 TB pack within shards instead
    (``pack_chunks_sharded``): bins never cross a shard boundary there,
    so the window is hash-partitioned and no single task sees the
    corpus."""
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(c).asc() for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, -1
    )
    before = F.coalesce(F.sum("n_words").over(w), F.lit(0)).cast("bigint")
    return chunks.select(
        "*",
        F.floor(before / capacity_words).cast("bigint").alias("bin_id"),
        (before % capacity_words).cast("bigint").alias("bin_offset"),
    )


def pack_chunks_sharded(
    chunks: DataFrame,
    capacity_words: int,
    shard_col: str,
    *,
    order_cols: tuple[str, str] = ("id", "chunk_idx"),
) -> DataFrame:
    """The 100 TB packing shape: contiguous packing WITHIN each shard —
    training bins never span shards (the dataloader convention: every
    bin is served from one shard file), so the cumulative-sum window is
    ``partitionBy(shard)`` and compiles to a hash-partitioned exchange;
    no task ever holds more than one shard's running state. ``bin_id``
    is shard-local — (shard, bin_id) is the global bin key. Same
    deterministic (order_cols total within shard) contract as
    ``pack_chunks_contiguous``."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(shard_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_words").over(w), F.lit(0)).cast("bigint")
    return chunks.select(
        "*",
        F.floor(before / capacity_words).cast("bigint").alias("bin_id"),
        (before % capacity_words).cast("bigint").alias("bin_offset"),
    )


def lm_unigram_cross_entropy(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """CCNet-style corpus-LM quality signal: train an add-one-smoothed
    unigram language model ON the corpus itself, then score every
    document by its per-token cross-entropy under that model,

        xent(d) = -(1/|d|) * sum_{t in d} ln p(t),
        p(t) = (count(t) + 1) / (N + V),

    (N = corpus token count, V = vocabulary size). Documents dominated by
    rare/garbage tokens score high; formulaic/boilerplate text scores
    low — the same band-pass filtering signal CCNet derives from a
    wiki-trained KenLM, with the corpus itself as the training set (no
    external model artifact). Output: (id, n_tokens, xent_nats).

    Determinism contract: per-token log-probs are ``round(ln(p), 8)``
    cast to DECIMAL(18,8) (the tfidf_topk precedent), summed exactly,
    then divided by the token count in double and rounded to 6 — so a
    last-ulp libm divergence between engines cannot surface.

    Scale shape (100 TB): one explode of the token stream; ONE groupBy
    term for the model (map-side combined — the combiner collapses each
    partition to its local vocab); model size is |V| rows, broadcast back
    onto the token stream (vocabularies are millions of rows — far under
    broadcast limits — while the stream is trillions); N and V ride in
    via a plan-embedded broadcast 1-row aggregate over the model (no
    driver job, no second corpus pass); one final groupBy doc. Two
    shuffles total, both keyed aggregations with partial combine.
    """
    # r14 (optimization, guide §1.2): SQL-string stages — 1:1 translation
    # of the Column-API chain (497 → ~40 py4j round-trips/build; the
    # physical plan is unchanged).
    tq = text_col if text_col.isidentifier() else f"`{text_col}`"
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    tok = ensure_fanout_parallelism(
        df.selectExpr(f"{iq} AS id", f"{tq} AS __t")
    ).selectExpr("id", "EXPLODE(SPLIT(__t, ' ')) AS term")
    model = tok.groupBy("term").agg(F.expr("CAST(COUNT(1) AS BIGINT) AS n_t"))
    totals = model.agg(
        F.expr("CAST(SUM(n_t) AS BIGINT) AS __N"),
        F.expr("CAST(COUNT(1) AS BIGINT) AS __V"),
    )
    logp = model.crossJoin(F.broadcast(totals)).selectExpr(
        "term",
        "CAST(ROUND(-LN(CAST(n_t + 1 AS DOUBLE) / CAST(__N + __V AS DOUBLE)),"
        " 8) AS DECIMAL(18,8)) AS __nll",
    )
    return (
        tok.join(F.broadcast(logp), "term")
        .groupBy("id")
        .agg(
            F.expr("CAST(COUNT(1) AS BIGINT) AS n_tokens"),
            F.expr(
                "ROUND(CAST(SUM(__nll) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE),"
                " 6) AS xent_nats"
            ),
        )
    )


def lm_bigram_cross_entropy(
    df: DataFrame, text_col: str, id_col: str, *, lam: float = 0.75
) -> DataFrame:
    """Interpolated-bigram upgrade of ``lm_unigram_cross_entropy``:

        p(t_i | t_{i-1}) = lam * count(t_{i-1} t_i)/count_prefix(t_{i-1})
                         + (1-lam) * (count(t_i)+1)/(N+V)

    (Jelinek-Mercer interpolation with an add-one unigram floor); a
    document's first token scores under the unigram term alone. Bigram
    context sharpens the band-pass: formulaic text compresses further,
    shuffled/garbage word order scores visibly higher than under a
    unigram model (asserted in tests). Output:
    (id, n_tokens, xent_nats).

    Determinism: probabilities are exact-count ratios combined with IEEE
    mul/add; the single libm op (ln) rounds to 8 before the DECIMAL sum
    (the unigram precedent).

    Scale shape (100 TB): the token stream explodes ONCE into
    (prev, cur) rows via zipped slices (first tokens union in with NULL
    prev); the three model tables (unigram, prefix, bigram) are
    map-side-combined aggregations of that stream; scoring joins the
    stream against them keyed by token/bigram — AQE picks broadcast
    when a model side is small enough, plain shuffle joins otherwise
    (a web-scale bigram table is NOT broadcastable, unlike the unigram
    vocab). Final per-doc groupBy is the fourth and last shuffle.
    """
    toks = _words(F.col(text_col))
    base = ensure_fanout_parallelism(
        df.select(F.col(id_col).alias("id"), toks.alias("__t"))
    )
    bigrams = base.select(
        "id",
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("p"),
    ).select("id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    firsts = base.filter(F.size("__t") >= 1).select(
        "id",
        F.lit(None).cast("string").alias("prev"),
        F.element_at(F.col("__t"), 1).alias("cur"),
    )
    stream = firsts.unionByName(bigrams)
    uni = stream.groupBy("cur").agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    totals = uni.agg(
        F.sum("n_t").cast("bigint").alias("__N"),
        F.count(F.lit(1)).cast("bigint").alias("__V"),
    )
    prefix = (
        bigrams.groupBy("prev").agg(F.count(F.lit(1)).cast("bigint").alias("n_prev"))
    )
    big = bigrams.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    scored = (
        stream.join(uni, "cur")
        .crossJoin(F.broadcast(totals))
        .join(prefix, "prev", "left")
        .join(big, ["prev", "cur"], "left")
    )
    p_uni = (F.col("n_t") + 1).cast("double") / (F.col("__N") + F.col("__V")).cast(
        "double"
    )
    p_bi = F.col("n_ab").cast("double") / F.col("n_prev").cast("double")
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni
    )
    return (
        scored.select("id", F.round(-F.log(p), 8).cast("decimal(18,8)").alias("__nll"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("__nll").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("xent_nats"),
        )
    )


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Compression-ratio quality signal (deflate level 6): highly
    repetitive/templated text compresses far below natural prose, and
    near-random glyph soup barely compresses — a cheap, language-blind
    band-pass filter used alongside the Gopher rules. Output:
    (id, n_bytes, n_deflate, ratio) with ratio = n_deflate/n_bytes
    rounded to 6 (NULL text -> NULL row dropped; empty text keeps its
    header-only ratio).

    This is the ONE quality operator that runs Python (no zlib in SQL
    expressions): a vectorized Arrow-batched ``pandas_udf`` — the same
    sanctioned boundary as the multimodal decoders, never row-at-a-time.
    Determinism: zlib output is deterministic for a fixed library and
    level; the replay oracle runs the SAME container zlib. A zlib
    upgrade would shift absolute byte counts (never the ordering signal)
    — the oracle recomputes per run, so the contract is self-repairing.

    Scale shape: a narrow map stage — no shuffle; Arrow batches amortize
    the Python crossing."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _deflate_len_fn(s):
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            if t is not None
            else None
        )

    # real type objects, not strings: the module's `from __future__
    # import annotations` would stringify inline hints, which PySpark's
    # pandas_udf signature inspection cannot resolve
    _deflate_len_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _deflate_len = pandas_udf(_deflate_len_fn, "long")

    n_bytes = F.octet_length(F.col(text_col)).cast("bigint")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            n_bytes.alias("n_bytes"),
            _deflate_len(F.col(text_col)).cast("bigint").alias("n_deflate"),
        )
        .withColumn(
            "ratio",
            F.when(
                F.col("n_bytes") > 0,
                F.round(
                    F.col("n_deflate").cast("double") / F.col("n_bytes").cast("double"),
                    6,
                ),
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval over the corpus — the IR leg of a curation
    pipeline (mine documents matching an eval/probe query, score
    retrieval corpora). Standard formulation:

        score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*|d|/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    Output: (id, score, rank) — the k best documents, ties by id.

    Determinism: tf/df/|d| are exact counts; N and avgdl ride in via a
    plan-embedded broadcast 1-row aggregate; idf and each per-term
    contribution round to 8 and sum as DECIMAL (the LM-scoring
    contract), final score rounds to 6.

    Scale shape (100 TB): the token stream filters to the QUERY TERMS
    at the explode (a handful of terms — the stream collapses
    immediately); one groupBy (doc, term) for tf, a broadcast of the
    |terms|-row idf table, one per-doc sum, one global top-k."""
    terms = [t for t in query_terms if t]
    base = ensure_fanout_parallelism(
        df.select(
            F.col(id_col).alias("id"),
            _words(F.col(text_col)).alias("__t"),
        )
    ).select("id", F.size("__t").cast("bigint").alias("dl"), "__t")
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("__N"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "__avgdl"
        ),
    )
    tok = base.select(
        "id", "dl", F.explode("__t").alias("term")
    ).filter(F.col("term").isin(terms))
    tf = tok.groupBy("id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_t")
    )
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        "__N",
        "__avgdl",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("__N").cast("double") - F.col("df_t") + 0.5)
                / (F.col("df_t").cast("double") + 0.5)
            ),
            8,
        ).alias("idf"),
    )
    contrib = tf.join(F.broadcast(idf), "term").select(
        "id",
        F.round(
            F.col("idf")
            * (F.col("tf").cast("double") * (k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + k1
                * (1.0 - b + b * F.col("dl").cast("double") / F.col("__avgdl"))
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("__c"),
    )
    scored = contrib.groupBy("id").agg(
        F.round(F.sum("__c").cast("double"), 6).alias("score")
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("id")], k
    ).select("id", "score", "rank")


def bm25_doc_query(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_doc_id: int,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 where the QUERY is a document of the corpus (its distinct
    words form the term set; the query doc itself is excluded from
    results) — the lexical leg of doc-to-doc hybrid retrieval. Same
    math/determinism contract as ``bm25_topk``; the term filter is a
    semi-join against the query doc's vocabulary instead of a literal
    list. Output: (id, score, rank)."""
    base = ensure_fanout_parallelism(
        df.select(
            F.col(id_col).alias("id"),
            _words(F.col(text_col)).alias("__t"),
        )
    ).select("id", F.size("__t").cast("bigint").alias("dl"), "__t")
    q_terms = (
        base.filter(F.col("id") == query_doc_id)
        .select(F.explode("__t").alias("term"))
        .distinct()
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("__N"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "__avgdl"
        ),
    )
    tok = base.select("id", "dl", F.explode("__t").alias("term")).join(
        F.broadcast(q_terms), "term", "left_semi"
    )
    tf = tok.groupBy("id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df_t"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        "__avgdl",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("__N").cast("double") - F.col("df_t") + 0.5)
                / (F.col("df_t").cast("double") + 0.5)
            ),
            8,
        ).alias("idf"),
    )
    contrib = tf.join(F.broadcast(idf), "term").select(
        "id",
        F.round(
            F.col("idf")
            * (F.col("tf").cast("double") * (k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("__avgdl"))
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("__c"),
    )
    scored = (
        contrib.filter(F.col("id") != query_doc_id)
        .groupBy("id")
        .agg(F.round(F.sum("__c").cast("double"), 6).alias("score"))
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("id")], k
    ).select("id", "score", "rank")


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    *,
    c: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion of two ranked lists (Cormack et al. 2009)
    — the standard lexical+dense hybrid combiner:

        rrf(d) = sum_lists 1 / (c + rank_list(d))

    Inputs: (id, rank) each; a doc missing from one list contributes 0
    for that list. Each reciprocal rounds to 8 and sums as DECIMAL
    (deterministic); ties break by id. Output: (id, rrf_score, rank)."""
    ra = ranked_a.select(F.col("id"), F.col("rank").alias("__ra"))
    rb = ranked_b.select(F.col("id"), F.col("rank").alias("__rb"))
    term = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1.0) / (F.lit(float(c)) + r.cast("double")), 8),
        F.lit(0.0),
    ).cast("decimal(18,8)")
    fused = (
        ra.join(rb, "id", "full_outer")
        .select("id", (term(F.col("__ra")) + term(F.col("__rb"))).alias("__s"))
        .groupBy("id")
        .agg(F.round(F.sum("__s").cast("double"), 8).alias("rrf_score"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("id", "rrf_score", "rank")
    )


def self_overlap_scores(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Corpus-diversity signal (the n-gram half of Self-BLEU used to
    audit generated/synthetic corpora): per document, the fraction of
    its DISTINCT word n-grams that also occur in at least one OTHER
    document. High overlap -> templated/mode-collapsed data; low ->
    diverse. Output: (id, n_grams, n_shared, overlap_ratio).

    Scale shape: one n-gram explode -> distinct -> ONE document-
    frequency aggregation; a gram is "shared" when its df >= 2, so the
    per-doc ratio needs no pairwise comparisons at all — the corpus-
    level structure collapses into the df table (map-side combined)."""
    from datafusion_server_spark.operators.dedup import _word_shingles

    grams = (
        ensure_fanout_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        )
        .select("id", F.explode(_word_shingles(F.col("__t"), n)).alias("g"))
        .distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
    return (
        grams.join(dfreq, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("__df") >= 2).cast("bigint")).cast("bigint").alias(
                "n_shared"
            ),
        )
        .select(
            "id",
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_grams").cast("double"), 6
            ).alias("overlap_ratio"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 15,
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    word pairs:

        pmi(a, b) = ln( p(a,b) / (p(a) p(b)) ),
        p(a,b) = n_ab / N_pairs,  p(t) = n_t / N_tokens,

    filtered to pairs seen >= ``min_count`` times (PMI is unstable on
    rare pairs), top-``k`` by (pmi desc, a, b). The standard phrase/
    multi-word-expression detector feeding tokenizer merges and
    boilerplate review. Output: (left, right, n_pair, pmi).

    Determinism: counts exact; the single ln rounds to 6. Scale: one
    zipped-slice bigram explode + two vocab-bounded aggregations; the
    totals ride in as a broadcast 1-row aggregate."""
    base = ensure_fanout_parallelism(
        df.select(F.col(id_col).alias("id"), _words(F.col(text_col)).alias("__t"))
    )
    toks = base.select(F.explode(F.col("__t")).alias("term")).filter(
        F.col("term") != ""
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    pairs = base.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
                lambda a, b: F.struct(a.alias("left"), b.alias("right")),
            )
        ).alias("p")
    ).select(F.col("p.left").alias("left"), F.col("p.right").alias("right")).filter(
        (F.col("left") != "") & (F.col("right") != "")
    )
    big = pairs.groupBy("left", "right").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pair")
    )
    totals = uni.agg(F.sum("n_t").cast("bigint").alias("__nt")).crossJoin(
        big.agg(F.sum("n_pair").cast("bigint").alias("__np"))
    )
    scored = (
        big.filter(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("term").alias("left"), F.col("n_t").alias("__na")), "left")
        .join(
            uni.select(F.col("term").alias("right"), F.col("n_t").alias("__nb")),
            "right",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "left",
            "right",
            "n_pair",
            F.round(
                F.log(
                    (
                        F.col("n_pair").cast("double")
                        / F.col("__np").cast("double")
                    )
                    / (
                        (F.col("__na").cast("double") / F.col("__nt").cast("double"))
                        * (F.col("__nb").cast("double") / F.col("__nt").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # distinct bigram pairs grow superlinearly with the corpus: the
    # top-k selection must be TakeOrderedAndProject, not a global window
    return ranked_topk(
        scored, [F.desc("pmi"), F.asc("left"), F.asc("right")], k, "rank"
    ).select("left", "right", "n_pair", "pmi", "rank")


def term_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document Shannon entropy of the term distribution:

        H(d) = -sum_t (tf_t/n) ln(tf_t/n)

    — low entropy = few distinct words dominating (repetitive/template
    text), high = diverse vocabulary; also the normalized variant
    H / ln(n_distinct) in [0, 1] (NULL for single-term docs). A quality
    signal orthogonal to the LM scores (a doc of rare-but-repeated
    words fools neither together). Output: (id, n_terms, n_distinct,
    entropy_nats, entropy_norm).

    Determinism: tf ratios exact; each term's contribution rounds to 8
    and sums as DECIMAL (the LM contract); final values round to 6.
    Scale: one (doc, term) aggregation, one per-doc aggregation."""
    tok = ensure_fanout_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select("id", F.explode(_words(F.col("__t"))).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    per_doc = tf.groupBy("id").agg(
        F.sum("__c").cast("bigint").alias("n_terms"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    # each tf contribution needs the doc TOTAL: a doc-keyed join back
    # onto the tf table (both sides already partitioned by id)
    contrib = tf.join(per_doc.select("id", "n_terms"), "id").select(
        "id",
        F.round(
            -(F.col("__c").cast("double") / F.col("n_terms").cast("double"))
            * F.log(F.col("__c").cast("double") / F.col("n_terms").cast("double")),
            8,
        )
        .cast("decimal(18,8)")
        .alias("__h"),
    )
    ent = contrib.groupBy("id").agg(F.sum("__h").alias("__hs"))
    return (
        per_doc.select("id", "n_terms", "n_distinct")
        .join(ent, "id")
        .select(
            "id",
            "n_terms",
            "n_distinct",
            F.round(F.col("__hs").cast("double"), 6).alias("entropy_nats"),
            F.when(
                F.col("n_distinct") > 1,
                F.round(
                    F.col("__hs").cast("double")
                    / F.log(F.col("n_distinct").cast("double")),
                    6,
                ),
            ).alias("entropy_norm"),
        )
    )


def span_corruption(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block: int = 8,
    sel_mod: int = 4,
    max_len: int = 3,
    seed: str = "span",
) -> DataFrame:
    """T5/UL2-style span-corruption prep (r9): deterministic denoising
    examples — mask spans of tokens, number them with ``<extra_id_k>``
    sentinels, emit (inputs, targets) where inputs is the text with
    each span replaced by its sentinel and targets is the sentinel-
    prefixed concatenation of the masked spans.

    Determinism is BLOCK-ALIGNED so an exact SQL oracle exists and no
    sequential scan is needed: positions partition into blocks of
    ``block`` tokens; one md5-derived integer per (doc, block) decides
    select (h % sel_mod == 0, ~1/sel_mod of blocks), span length
    L = 1 + (h DIV sel_mod) % max_len, and offset
    (h DIV (sel_mod*max_len)) % (block - L + 1). Spans can never cross
    blocks, so they never overlap. Expected masked fraction ~=
    mean(L) / (sel_mod * block).

    Scale shape: the ENTIRE computation is per-row JVM higher-order
    functions over the split-word array — no explode, no shuffle, no
    window; output strings are digested (md5) so rows stay narrow.
    Output: (doc_id, n_tokens, n_spans, n_masked, inputs_md5,
    targets_md5).

    Integer-exactness note: h is 15 hex digits (~2^60), too big for
    exact double division, so the DIV-then-mod terms reduce through
    small residues first — (h DIV a) % b == ((h % (a*b)) DIV a) % b,
    and the inner DIV of a residue < a*b is exact in a double.

    r14 (optimization, guide §1.2): the builder is delivered as staged
    ``selectExpr`` SQL strings — a 1:1 textual translation of the r10
    Column-API chain (same stage boundaries, same expression trees) —
    cutting plan-construction py4j chatter 2116 → ~10 round-trips.
    The r10 hoisting structure is PRESERVED: every per-row constant
    (__w, __n, __spans, __smap) is a real projection column referenced
    >= 2 times downstream, so CollapseProject cannot re-inline it into
    a higher-order-function lambda (the measured O(tokens x blocks)
    re-evaluation blowup documented below).
    """
    mods = sel_mod * max_len
    tq = text_col if text_col.isidentifier() else f"`{text_col}`"
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    n_raw = f"SIZE(SPLIT({tq}, ' '))"
    # per-block feature struct; ``b`` is the TRANSFORM lambda variable.
    # Each reference to h duplicates the md5/conv tree exactly as the
    # Column form did (each Column use embedded its own copy).
    h = (
        f"CAST(CONV(SUBSTRING(MD5(CONCAT('{seed}:', CAST({iq} AS STRING), "
        f"':', CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    sel = f"{h} % {sel_mod} = 0"
    lres = f"({h} % {mods})"
    # L = 1 + (h DIV sel_mod) % max_len via the small-residue form
    length = (
        f"(CASE WHEN {sel} THEN 1 + CAST(({lres} - {lres} % {sel_mod}) "
        f"/ {sel_mod} AS INT) % {max_len} ELSE 0 END)"
    )
    # off = (h DIV mods) % (block - L + 1)
    m = f"CAST({block} - {length} + 1 AS BIGINT)"
    r2 = f"({h} % ({m} * {mods}))"
    off = f"CAST(CAST(({r2} - {r2} % {mods}) / {mods} AS BIGINT) % {m} AS INT)"
    feat = (
        f"STRUCT(b AS blk, {length} AS L, "
        f"CASE WHEN {sel} THEN {off} END AS off)"
    )
    nblk = f"CAST(FLOOR(({n_raw} - 1) / {block}) AS INT)"
    spans = (
        f"CASE WHEN {n_raw} > 0 THEN "
        f"FILTER(TRANSFORM(SEQUENCE(0, {nblk}), b -> {feat}), "
        f"s -> s.L > 0 AND s.blk * {block} + s.off < {n_raw}) "
        f"ELSE CAST(ARRAY() AS ARRAY<STRUCT<blk:INT,L:INT,off:INT>>) END"
    )

    # Per-row constants are HOISTED into real projection columns (r10):
    # in the single-select form the span map sat INSIDE the per-token
    # lambda, and interpreted higher-order functions re-evaluate their
    # whole body per element — O(tokens x blocks) md5 work per document
    # (~9 s/run at sf0.01, misdiagnosed in r9 as a one-time compile
    # cliff). Staged, each constant is computed once per row and the
    # lambda reads a bound reference: 0.3 s/run, values bit-identical.
    # CollapseProject cannot re-inline the stages because every hoisted
    # alias is non-cheap and referenced more than once downstream
    # (__spans by smap + the final size()s, __w/__smap by both pieces).
    base = df.selectExpr(
        f"CAST({iq} AS BIGINT) AS doc_id",
        f"SPLIT({tq}, ' ') AS __w",
        f"{n_raw} AS __n",
        f"{spans} AS __spans",
    )
    st2 = base.selectExpr(
        "doc_id",
        "__w",
        "__n",
        "__spans",
        "MAP_FROM_ENTRIES(TRANSFORM(__spans, (s, i) -> "
        "STRUCT(s.blk AS key, STRUCT(i AS k, s.L AS L, s.off AS off) AS value)"
        ")) AS __smap",
    )

    def pieces(kind: str) -> str:
        e = f"ELEMENT_AT(__smap, CAST(FLOOR(p / {block}) AS INT))"
        local = f"p % {block}"
        in_span = (
            f"({e} IS NOT NULL AND {local} >= {e}.off "
            f"AND {local} < {e}.off + {e}.L)"
        )
        word = "ELEMENT_AT(__w, CAST(p + 1 AS INT))"
        sentinel = f"CONCAT('<extra_id_', CAST({e}.k AS STRING), '>')"
        if kind == "inputs":
            one = (
                f"CASE WHEN NOT {in_span} THEN {word} "
                f"WHEN {local} = {e}.off THEN {sentinel} END"
            )
        else:
            one = (
                f"CASE WHEN {in_span} THEN "
                f"CASE WHEN {local} = {e}.off THEN CONCAT({sentinel}, ' ', {word}) "
                f"ELSE {word} END END"
            )
        seq = (
            "CASE WHEN __n > 0 THEN SEQUENCE(0, __n - 1) "
            "ELSE CAST(ARRAY() AS ARRAY<INT>) END"
        )
        return f"FILTER(TRANSFORM({seq}, p -> {one}), x -> x IS NOT NULL)"

    st3 = st2.selectExpr(
        "doc_id",
        "__n",
        "__spans",
        f"{pieces('inputs')} AS __pin",
        f"{pieces('targets')} AS __ptg",
    )
    return st3.selectExpr(
        "doc_id",
        "CAST(__n AS BIGINT) AS n_tokens",
        "CAST(SIZE(__spans) AS BIGINT) AS n_spans",
        "CAST(__n - SIZE(__pin) + SIZE(__spans) AS BIGINT) AS n_masked",
        "MD5(ARRAY_JOIN(__pin, ' ')) AS inputs_md5",
        "MD5(ARRAY_JOIN(__ptg, ' ')) AS targets_md5",
    )


def lm_kneser_ney_cross_entropy(
    df: DataFrame, text_col: str, id_col: str, *, discount: float = 0.75
) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.26) — the stronger sibling of
    ``lm_bigram_cross_entropy``: instead of backing off to RAW unigram
    frequency, the lower-order model is the CONTINUATION count (in how
    many distinct contexts does the word appear), which famously stops
    "Francisco" from looking probable outside "San Francisco".

        p(t_i | t_{i-1}) = (c(t_{i-1} t_i) - D) / c(t_{i-1})
                         + (D * N1+(t_{i-1} •) / c(t_{i-1})) * p_cont(t_i)
        p_cont(t)        = (N1+(• t) + 1) / (B + V)     [add-one floor]

    with D = ``discount`` (default 0.75 — exactly representable in
    binary, so the subtraction is exact), B = distinct bigram types,
    V = distinct tokens. Scoring the training corpus itself means
    c(bigram) >= 1, so c - D > 0 without clamping; a document's first
    token scores under p_cont alone. Output: (id, n_tokens, xent_nats).

    Determinism: all model quantities are exact integer counts;
    p composes them with IEEE mul/add/div in a fixed order; the single
    libm op (ln) rounds to 8 before the DECIMAL sum (house pattern).

    Scale shape (100 TB): identical to the JM bigram — the token stream
    explodes once into (prev, cur); four model tables are map-side-
    combined aggregations of it (the two distinct-counts aggregate the
    DISTINCT pair table, itself one aggregation); scoring joins stream
    against models keyed by token/bigram; final per-doc groupBy.
    """
    toks = _words(F.col(text_col))
    base = ensure_fanout_parallelism(
        df.select(F.col(id_col).alias("id"), toks.alias("__t"))
    )
    bigrams = base.select(
        "id",
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("p"),
    ).select("id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    firsts = base.filter(F.size("__t") >= 1).select(
        "id",
        F.lit(None).cast("string").alias("prev"),
        F.element_at(F.col("__t"), 1).alias("cur"),
    )
    stream = firsts.unionByName(bigrams)
    # model tables (training corpus == scored corpus)
    pair_types = bigrams.select("prev", "cur").distinct()
    prefix = bigrams.groupBy("prev").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prev")
    )
    follow = pair_types.groupBy("prev").agg(
        F.count(F.lit(1)).cast("bigint").alias("nf")
    )
    cont = pair_types.groupBy("cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cont")
    )
    big = bigrams.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    totals = stream.agg(
        F.countDistinct("cur").cast("bigint").alias("__V")
    ).crossJoin(
        pair_types.agg(F.count(F.lit(1)).cast("bigint").alias("__B"))
    )
    scored = (
        stream.join(cont, "cur", "left")
        .crossJoin(F.broadcast(totals))
        .join(prefix, "prev", "left")
        .join(follow, "prev", "left")
        .join(big, ["prev", "cur"], "left")
    )
    d = float(discount)
    p_cont = (F.coalesce(F.col("n_cont"), F.lit(0)) + 1).cast("double") / (
        F.col("__B") + F.col("__V")
    ).cast("double")
    p_bi = (F.col("n_ab").cast("double") - F.lit(d)) / F.col("n_prev").cast(
        "double"
    ) + (F.lit(d) * F.col("nf").cast("double") / F.col("n_prev").cast("double")) * p_cont
    p = F.when(F.col("prev").isNull(), p_cont).otherwise(p_bi)
    return (
        scored.select("id", F.round(-F.log(p), 8).cast("decimal(18,8)").alias("__nll"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("__nll").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("xent_nats"),
        )
    )


def rake_keywords(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 15,
    stopwords: tuple[str, ...] = LANG_STOPWORDS["en"],
) -> DataFrame:
    """Top-``k`` corpus keyphrases by RAKE (Rose et al. 2010): candidate
    phrases are maximal runs of non-stopword tokens, word score =
    deg(w)/freq(w) over phrase co-occurrence (deg = sum of the lengths
    of phrases containing w, freq = occurrence count), phrase score =
    sum of its word scores.

    Determinism: scores are pure BIGINT — word score in 1e-9 units is
    ``(1e9 * deg) div freq`` (integer division; deg stays < 9.2e9
    before overflow, i.e. ~1e9 phrase-word occurrences — shard the
    corpus or lower the scale factor beyond that), so phrase sums are
    order-free and both engines agree exactly; ties break on phrase
    text ascending.

    Scale shape: one token explode (narrow), phrase islands via a
    doc-partitioned window (pos - row_number — corpus-scale KEY count
    but per-doc bounded partitions), one word-stats aggregation, one
    phrase aggregation, global top-k via TakeOrderedAndProject.

    Output: (rank_pos, phrase, n_words, n_occurrences, score_nano)."""
    from datafusion_server_spark.operators.scale import ranked_topk

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    ).filter((F.col("w") != "") & ~F.col("w").isin(*stopwords))
    wd = Window.partitionBy("id").orderBy("pos")
    islands = toks.withColumn(
        "island", F.col("pos") - F.row_number().over(wd)
    )
    phrases = islands.groupBy("id", "island").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("len"),
    )
    occ = islands.join(phrases, ["id", "island"]).select("w", "len")
    wstats = occ.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("len").cast("bigint").alias("deg"),
    ).withColumn("wscore", F.expr("(1000000000 * deg) div freq").cast("bigint"))
    pscore = (
        islands.join(phrases, ["id", "island"])
        .join(wstats.select("w", "wscore"), "w")
        .groupBy("id", "island", "phrase", "len")
        .agg(F.sum("wscore").cast("bigint").alias("occ_score"))
    )
    agg = pscore.groupBy("phrase").agg(
        F.max("len").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.max("occ_score").alias("score_nano"),
    )
    return ranked_topk(
        agg,
        [F.desc("score_nano"), F.asc("phrase")],
        k,
        rank_col="rank_pos",
    ).select("rank_pos", "phrase", "n_words", "n_occurrences", "score_nano")
