"""BPE trainer (operators.bpe) beyond-oracle invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import bpe


def test_merge_freqs_non_increasing(spark, sf_dir):
    """Classic BPE property: a merge only creates pairs no more frequent
    than itself, so the chosen best-pair frequency never increases."""
    docs = tables.load(spark, sf_dir, "documents")
    _, merges = bpe.bpe_train(docs, "text", 8)
    freqs = [r.freq for r in merges.orderBy("rank").collect()]
    assert freqs == sorted(freqs, reverse=True)
    assert all(f > 0 for f in freqs)


def test_each_merge_removes_exactly_its_frequency(spark, sf_dir):
    """Conservation: one merge replaces freq weighted adjacencies with
    single symbols, so total weighted symbol count drops by exactly
    sum(freq) across the run."""
    docs = tables.load(spark, sf_dir, "documents")
    base = bpe.word_vocab(docs, "text")
    chars0 = base.select(
        F.sum(F.col("wc") * F.size("syms")).alias("t")
    ).first().t
    vocab, merges = bpe.bpe_train(docs, "text", 8)
    chars1 = vocab.select(
        F.sum(F.col("wc") * F.size("syms")).alias("t")
    ).first().t
    merged_total = merges.select(F.sum("freq").alias("t")).first().t
    assert chars0 - chars1 == merged_total


def test_token_counts_bounded(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    vocab, _ = bpe.bpe_train(docs, "text", 8)
    counts = bpe.bpe_token_counts(docs, "text", "doc_id", vocab)
    joined = counts.join(
        docs.select(F.col("doc_id").alias("id"), "text"), "id"
    ).select(
        "n_words",
        "n_bpe_tokens",
        F.length("text").alias("n_chars"),
    )
    bad = joined.filter(
        (F.col("n_bpe_tokens") < F.col("n_words"))
        | (F.col("n_bpe_tokens") > F.col("n_chars"))
    ).count()
    assert bad == 0


def test_train_partition_independent(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    m1 = [
        (r.rank, r.left, r.right, r.freq)
        for r in bpe.bpe_train(docs, "text", 6)[1].orderBy("rank").collect()
    ]
    m2 = [
        (r.rank, r.left, r.right, r.freq)
        for r in bpe.bpe_train(docs.repartition(7), "text", 6)[1]
        .orderBy("rank")
        .collect()
    ]
    assert m1 == m2


def test_exhaustion_stops_cleanly(spark):
    """More requested merges than possible: sentinel ranks filter out,
    the returned table is short, application is a no-op."""
    df = spark.createDataFrame([("ab ab",)], "text string")
    vocab, merges = bpe.bpe_train(df, "text", 5)
    got = [(r.left, r.right) for r in merges.orderBy("rank").collect()]
    assert got == [("a", "b")]
    assert [tuple(r.syms) for r in vocab.collect()] == [("ab",)]


def test_null_and_empty_docs_ignored(spark):
    """NULL text drops from the word stream; empty/whitespace text
    contributes no words; training still proceeds on the rest."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, "ab ab ab")],
        "doc_id bigint, text string",
    )
    vocab, merges = bpe.bpe_train(df, "text", 2)
    got = [(r.left, r.right) for r in merges.orderBy("rank").collect()]
    assert got == [("a", "b")]
    counts = bpe.bpe_token_counts(df, "text", "doc_id", vocab)
    rows = {r.id: (r.n_words, r.n_bpe_tokens) for r in counts.collect()}
    assert rows == {4: (3, 3)}


def test_apply_frozen_merges_matches_training_segmentation(spark, sf_dir):
    """Applying the trained merge table to the SAME corpus reproduces
    the trainer's final vocab segmentation word-for-word, and unseen
    words fall back gracefully (partial merges / characters)."""
    from datafusion_server_spark import tables

    docs = tables.load(spark, sf_dir, "documents")
    vocab, merges = bpe.bpe_train(docs, "text", 8)
    mlist = [
        (r.left, r.right) for r in merges.orderBy("rank").collect()
    ]
    applied = bpe.bpe_apply_merges(docs, "text", "doc_id", mlist)
    trained = {r.word: tuple(r.syms) for r in vocab.collect()}
    mismatches = [
        (r.word, tuple(r.syms))
        for r in applied.select("word", "syms").distinct().collect()
        if trained[r.word] != tuple(r.syms)
    ]
    assert not mismatches, mismatches[:5]

    new = spark.createDataFrame([(1, "zzz unseen")], "doc_id bigint, text string")
    rows = {r.word: tuple(r.syms) for r in bpe.bpe_apply_merges(new, "text", "doc_id", mlist).collect()}
    assert rows["zzz"] == ("z", "z", "z") or len(rows["zzz"]) <= 3
    assert all(len(s) >= 1 for s in rows.values())


def test_apply_merges_with_backslash_tokens(spark):
    """Merge tokens come from the corpus and are spliced into generated
    SQL as literals: a backslash must survive as itself, not start an
    escape sequence (``\\t`` a tab, ``\\'`` a quote)."""
    merges = [("\\", "t"), ("\\", "'"), ("a", "\\t")]
    docs = spark.createDataFrame(
        [(1, "a\\tb x\\'y \\\\")], "doc_id bigint, text string"
    )
    rows = {
        r.word: tuple(r.syms)
        for r in bpe.bpe_apply_merges(docs, "text", "doc_id", merges).collect()
    }
    assert rows == {
        "a\\tb": ("a\\t", "b"),
        "x\\'y": ("x", "\\'", "y"),
        "\\\\": ("\\", "\\"),
    }
