"""Id encodings in the similarity operators: ids are compared as values,
never through a string rendering that two distinct ids can share."""

from __future__ import annotations

import math

from datafusion_server_spark.operators import similarity


def _mmr_reference(vectors: dict, query, k: int, lam: float) -> list:
    """Greedy MMR in plain Python over the same rounded cosines."""

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return round(dot / math.hypot(*a) / math.hypot(*b), 6)

    rel = {i: cos(v, query) for i, v in vectors.items()}
    picks = [min(rel, key=lambda i: (-rel[i], i))]
    while len(picks) < k:
        score = {
            c: lam * rel[c] - (1 - lam) * max(cos(vectors[c], vectors[p]) for p in picks)
            for c in vectors
            if c not in picks
        }
        picks.append(min(score, key=lambda i: (-score[i], i)))
    return picks


def test_mmr_string_ids_with_separator(spark):
    """Pairs ("x:", "y") and ("x", ":y") render to the same "x::y" under
    a ':'-joined string key; the pair-sim map must keep them apart."""
    vectors = {
        "x:": [1.0, 0.1, 0.0],
        "x": [1.0, 0.12, 0.0],
        "y": [0.8, 0.0, 0.6],
        ":y": [0.6, 0.8, 0.0],
    }
    query = [1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        list(vectors.items()), "vec_id string, embedding array<double>"
    )
    q = spark.createDataFrame([("q", query)], "vec_id string, embedding array<double>")
    out = similarity.mmr_select(emb, q, k=4, lam=0.3).orderBy("pick_order").collect()
    assert [r["vec_id"] for r in out] == _mmr_reference(vectors, query, k=4, lam=0.3)
    assert [r["vec_id"] for r in out] == ["x:", ":y", "y", "x"]
