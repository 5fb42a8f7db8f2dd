"""Document chunking + repetition quality stats — the two remaining
training-data-prep staples (context-window chunking for tokenization;
Gopher-style repetition filters for quality gating). Pure SQL higher-order
functions on both sides, fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bind_tokens, portable_hash60_sql, word_ngrams
from ..operators.packing import concat_cut_sql, pack_concat_cut, shard_of
from ..sources.tables import load_table

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks
PACK_BUDGET = 128  # tokens per training pack (concat-and-cut)
PACK_SHARDS = 8  # parallelism unit; thousands on a real cluster


# ---------------------------------------------------------------------------
# q_chunk_documents — overlapping fixed-size token windows
# ---------------------------------------------------------------------------
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk + pack: split each document into 50-token chunks at a 40-token
    stride (the standard pre-tokenization windowing), then assemble the
    chunks into 128-token training packs by concat-and-cut (GPT-style: each
    shard's chunk stream is cut at exact budget boundaries; a chunk spanning
    a boundary emits one segment row per pack).

    Chunking is one explode in a single map pass; packing is a per-shard
    window cumsum + explode — all JVM, sharded by portable doc-id hash so
    parallelism = PACK_SHARDS and no global order exists anywhere. The
    oracle replays BOTH stages in SQL, so segment arithmetic (seg_start/
    seg_len/pack_offset) is differential-tested."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = f"greatest(CAST(ceil((size(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}) AS INT) + 1, 1)"
    chunks = F.expr(bind_tokens(
        "text",
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> struct(i AS chunk_index, "
        f"concat_ws(' ', slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})) AS chunk_text))",
    ))
    items = (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_index").alias("chunk_index"),
            F.size(F.split(F.col("c.chunk_text"), r"\s+")).alias("chunk_tokens"),
            F.md5(F.col("c.chunk_text")).alias("chunk_md5"),
        )
        .withColumn("shard_id", shard_of("doc_id", n_shards=PACK_SHARDS))
    )
    return pack_concat_cut(
        items,
        ["doc_id", "chunk_index"],
        "chunk_tokens",
        budget=PACK_BUDGET,
        n_shards=PACK_SHARDS,
    ).orderBy("doc_id", "chunk_index", "pack_id")


_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

_CHUNK_ITEMS_SQL = rf"""
WITH chunks AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(0, greatest(CAST(ceil((len({_TOKS}) - {CHUNK_TOKENS}) / CAST({CHUNK_STRIDE} AS DOUBLE)) AS INT) + 1, 1) - 1),
               i -> struct_pack(
                   chunk_index := i,
                   chunk_text := array_to_string(
                       list_slice({_TOKS}, i * {CHUNK_STRIDE} + 1, i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
               )
           )) AS c
    FROM documents
)
SELECT doc_id,
       CAST(c.chunk_index AS INT) AS chunk_index,
       CAST(len(regexp_split_to_array(c.chunk_text, '\s+')) AS INT) AS chunk_tokens,
       md5(c.chunk_text) AS chunk_md5,
       CAST({portable_hash60_sql('CAST(doc_id AS VARCHAR)')} % {PACK_SHARDS} AS INT) AS shard_id
FROM chunks
"""

ORACLE_CHUNK_DOCUMENTS = (
    concat_cut_sql(
        _CHUNK_ITEMS_SQL,
        ["doc_id", "chunk_index"],
        "chunk_tokens",
        budget=PACK_BUDGET,
        shard_col="shard_id",
    )
    + "ORDER BY doc_id, chunk_index, pack_id"
)


# ---------------------------------------------------------------------------
# q_repetition_stats — Gopher-style repetition quality signals
# ---------------------------------------------------------------------------
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters from the Gopher/MassiveText recipe (Rae et al.
    2021, public): repeated-token fraction (1 − distinct/total) and
    top-bigram fraction (occurrences of the most frequent bigram / total
    bigrams).

    Formulated as explode → count → max — linear in corpus size. (A per-row
    HOF version — `array_max(transform(distinct, b -> count(filter(...))))`
    — is quadratic in doc length and measured 30× slower; the shuffle beats
    the nested loop even locally.)
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = r"split(trim(text), '\\s+')"
    spread = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    top_bigram = (
        spread.select("doc_id", F.explode(word_ngrams("text", 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    base = spread.select(
        "doc_id",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(f"size(array_distinct({toks}))").alias("n_distinct"),
    )
    return (
        base.join(top_bigram, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(1.0 - F.col("n_distinct") / F.col("n_tokens").cast("double"), 6).alias(
                "repeated_token_frac"
            ),
            F.round(
                F.col("top_bigram_count") / (F.col("n_tokens") - 1).cast("double"), 6
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


_BIGRAMS = (
    f"list_transform(generate_series(1, greatest(len({_TOKS}) - 1, 1)), "
    f"i -> array_to_string(list_slice({_TOKS}, i, i + 1), ' '))"
)

ORACLE_REPETITION_STATS = f"""
WITH exploded AS (
    SELECT doc_id, unnest({_BIGRAMS}) AS bg FROM documents
),
top_bg AS (
    SELECT doc_id, MAX(c) AS top_bigram_count
    FROM (SELECT doc_id, bg, COUNT(*) AS c FROM exploded GROUP BY doc_id, bg)
    GROUP BY doc_id
),
base AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS INT) AS n_tokens,
           len(list_distinct({_TOKS})) AS n_distinct
    FROM documents
)
SELECT b.doc_id AS doc_id,
       b.n_tokens AS n_tokens,
       ROUND(1.0 - b.n_distinct / CAST(b.n_tokens AS DOUBLE), 6) AS repeated_token_frac,
       ROUND(t.top_bigram_count / CAST(b.n_tokens - 1 AS DOUBLE), 6) AS top_bigram_frac
FROM base b JOIN top_bg t ON b.doc_id = t.doc_id
ORDER BY doc_id
"""


# repetition_stats is folded into the per-document profile
# (queries/text.py::q_doc_profile); q_repetition_stats stays exported for
# direct use and unit tests.
QUERIES = {
    "chunk_documents": q_chunk_documents,
}

ORACLE = {
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
}
