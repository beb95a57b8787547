"""Conversation (instruction-tuning) data operators: parse, flatten,
prompt/response pairing, and loss-mask span computation for multi-turn
chat corpora — the SFT-data leg of a training pipeline (ShareGPT-style
transcripts in, per-turn training rows out).

Spark-first shapes: conversations are rows holding an
``array<struct<role, content>>`` column; parsing from the JSON wire
format is ONE ``from_json`` (codegen, no Python); every per-turn
derivation is a narrow explode plus conversation-keyed windows
(``partitionBy(conv_id)`` — bounded by the turn count of one
conversation, never corpus-wide). No UDFs anywhere.

Scale notes (100 TB of transcripts): conversations are independent, so
every operator here is embarrassingly parallel over conv_id; the only
shuffle is the one explode-groupBy/window keyed by conv_id, and AQE
skew-split handles the pathological mega-conversation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import sql_literal

# ShareGPT wire schema: [{"from": "...", "value": "..."}, ...]
SHAREGPT_SCHEMA = "array<struct<from:string,value:string>>"


def parse_sharegpt(df: DataFrame, json_col: str, id_col: str) -> DataFrame:
    """Parse ShareGPT-style JSON transcripts into the canonical
    (conv_id, turns array<struct<role, content>>) shape with ONE
    codegen ``from_json``. Unparseable rows yield NULL turns (visible
    downstream, never dropped silently)."""
    jq = json_col if json_col.isidentifier() else f"`{json_col}`"
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    return df.selectExpr(
        f"{iq} AS conv_id",
        f"TRANSFORM(FROM_JSON({jq}, '{SHAREGPT_SCHEMA}'), "
        "t -> STRUCT(t.`from` AS role, t.value AS content)) AS turns",
    )


def flatten_turns(conv: DataFrame) -> DataFrame:
    """One row per turn: (conv_id, turn_idx 0-based, role, content,
    n_words, n_chars). A narrow posexplode — no shuffle."""
    return conv.selectExpr(
        "conv_id", "POSEXPLODE(turns) AS (turn_idx, t)"
    ).selectExpr(
        "conv_id",
        "CAST(turn_idx AS BIGINT) AS turn_idx",
        "t.role AS role",
        "t.content AS content",
        "CAST(SIZE(FILTER(SPLIT(t.content, ' '), w -> w != ''))"
        " AS BIGINT) AS n_words",
        "CAST(LENGTH(t.content) AS BIGINT) AS n_chars",
    )


def prompt_response_pairs(
    conv: DataFrame, assistant_role: str = "assistant"
) -> DataFrame:
    """One training example per ASSISTANT turn: the prompt is every
    prior turn rendered ``{role}: {content}`` and joined with newlines
    (the standard SFT serialization); the response is the assistant
    turn's content. Output: (conv_id, turn_idx, n_context_turns,
    prompt_chars, prompt_md5, response) — the prompt travels as a
    digest + length so rows stay narrow (the reconstruction is
    deterministic from the transcript).

    Plan: one posexplode + one conv-keyed window (collect_list of the
    rendered prior turns — bounded by the conversation's own length)."""
    prior = (
        "OVER (PARTITION BY conv_id ORDER BY turn_idx"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    role_lit = sql_literal(assistant_role)
    return (
        conv.selectExpr("conv_id", "POSEXPLODE(turns) AS (turn_idx, t)")
        .selectExpr(
            "conv_id",
            "CAST(turn_idx AS BIGINT) AS turn_idx",
            "t.role AS role",
            "t.content AS content",
            "CONCAT(t.role, ': ', t.content) AS __rendered",
        )
        .selectExpr(
            "*",
            f"ARRAY_JOIN(COLLECT_LIST(__rendered) {prior}, '\\n') AS __prompt",
            f"CAST(COUNT(1) {prior} AS BIGINT) AS __nctx",
        )
        .where(f"role = {role_lit}")
        .selectExpr(
            "conv_id",
            "turn_idx",
            "__nctx AS n_context_turns",
            "CAST(LENGTH(__prompt) AS BIGINT) AS prompt_chars",
            "MD5(__prompt) AS prompt_md5",
            "content AS response",
        )
    )


def loss_mask_spans(
    conv: DataFrame, assistant_role: str = "assistant"
) -> DataFrame:
    """Character spans of the ASSISTANT content within the fully
    serialized conversation (turns rendered ``{role}: {content}``
    joined by newlines) — the loss-mask boundaries an SFT tokenizer
    applies so the model trains only on assistant tokens. Output:
    (conv_id, turn_idx, span_start, span_end) 0-based, end exclusive.

    Plan: one posexplode + one conv-keyed cumulative window over the
    rendered lengths."""
    role_lit = sql_literal(assistant_role)
    # offset of this turn's rendered text = sum of prior rendered
    # lengths + one newline separator per prior turn
    return (
        conv.selectExpr("conv_id", "POSEXPLODE(turns) AS (turn_idx, t)")
        .selectExpr(
            "conv_id",
            "CAST(turn_idx AS BIGINT) AS turn_idx",
            "t.role AS role",
            "CAST(LENGTH(t.role) + 2 AS BIGINT) AS __head",
            "CAST(LENGTH(t.content) AS BIGINT) AS __clen",
        )
        .selectExpr(
            "*",
            "COALESCE(SUM(__head + __clen)"
            " OVER (PARTITION BY conv_id ORDER BY turn_idx"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
            " CAST(0 AS BIGINT)) + turn_idx AS __off",
        )
        .where(f"role = {role_lit}")
        .selectExpr(
            "conv_id",
            "turn_idx",
            "CAST(__off + __head AS BIGINT) AS span_start",
            "CAST(__off + __head + __clen AS BIGINT) AS span_end",
        )
    )


def response_echo_rate(
    conv: DataFrame, assistant_role: str = "assistant", n: int = 2
) -> DataFrame:
    """Echo detection for SFT data: the fraction of each assistant
    response's distinct word n-grams already present in the PRIOR
    context turns — responses that mostly parrot the prompt are
    low-value training examples (the standard instruction-data quality
    gate). Output: (conv_id, turn_idx, n_resp_grams, n_echoed,
    echo_rate round 6).

    Plan: one posexplode to turns, one n-gram explode, one
    (conv, gram)-keyed self-join restricted to earlier turns, one
    distinct + count — all keyed by conversation, fan-out bounded by a
    single conversation's size."""
    role_lit = sql_literal(assistant_role)
    words = "FILTER(SPLIT(content, ' '), w -> w != '')"
    m = f"GREATEST(SIZE({words}) - {n - 1}, 0)"
    zipped = "ARRAYS_ZIP({})".format(
        ", ".join(f"SLICE({words}, {j + 1}, {m})" for j in range(n))
    )
    gram = "CONCAT_WS(' ', {})".format(
        ", ".join(f"s.`{j}`" for j in range(n))
    )
    grams = conv.selectExpr(
        "conv_id", "POSEXPLODE(turns) AS (turn_idx, t)"
    ).selectExpr(
        "conv_id",
        "CAST(turn_idx AS BIGINT) AS turn_idx",
        "t.role AS role",
        "t.content AS content",
    ).selectExpr(
        "conv_id",
        "turn_idx",
        "role",
        f"EXPLODE(ARRAY_DISTINCT(TRANSFORM({zipped}, s -> {gram}))) AS gram",
    )
    resp = grams.where(f"role = {role_lit}").selectExpr(
        "conv_id", "turn_idx AS rt", "gram"
    )
    # distinct column names on the context side — resp and ctx share a
    # lineage, and Spark's self-join resolution needs the disambiguation
    ctx = grams.selectExpr(
        "conv_id AS c_conv", "turn_idx AS ct", "gram AS cgram"
    )
    echoed = (
        resp.join(
            ctx,
            F.expr("conv_id = c_conv AND gram = cgram AND ct < rt"),
            "left_semi",
        )
        .groupBy("conv_id", "rt")
        .agg(F.expr("CAST(COUNT(1) AS BIGINT) AS n_echoed"))
    )
    totals = resp.groupBy("conv_id", "rt").agg(
        F.expr("CAST(COUNT(1) AS BIGINT) AS n_resp_grams")
    )
    return totals.join(echoed, ["conv_id", "rt"], "left").selectExpr(
        "conv_id",
        "rt AS turn_idx",
        "n_resp_grams",
        "CAST(COALESCE(n_echoed, 0) AS BIGINT) AS n_echoed",
        "ROUND(CAST(COALESCE(n_echoed, 0) AS DOUBLE)"
        " / CAST(n_resp_grams AS DOUBLE), 6) AS echo_rate",
    )
