"""Text-analysis queries over `documents` (north-star: LLM-data pipeline).

Language-ID, quality scoring, token counting, and fingerprinting — each as a
JVM-side column pipeline with a DuckDB oracle built from the SAME constants
(functions/text.py is the single source of truth for stopword lists, marker
vocabularies, and the normalization chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_pretoken_count,
    bpe_pretoken_count_sql,
    markup_tag_count,
    markup_tag_count_sql,
    strip_markup,
    strip_markup_sql,
    LANG_MARKERS,
    fingerprint,
    fingerprint_sql,
    pii_count,
    pii_count_sql,
    punct_count,
    punct_count_sql,
    redact_pii,
    redact_pii_sql,
    stopword_count_expr,
    stopword_count_sql,
    token_count,
    token_count_sql,
    word_ngrams,
)
from ..sources.tables import load_table

#: Gopher rule "must contain ≥2 of these stop words" (Rae et al. 2021 §A1.1)
GOPHER_REQUIRED_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
#: planted suffix making the stopword clause non-degenerate on synthetic text
GOPHER_PLANT = " of and that have with be"
_GP_TXT = (
    "(CASE WHEN doc_id % 3 = 0"
    f" THEN text || '{GOPHER_PLANT}' ELSE text END)"
)
_GP_TOKS = f"split(trim({_GP_TXT}), '\\\\s+')"


# ---------------------------------------------------------------------------
# q_text_stats — per-document quality metrics
# ---------------------------------------------------------------------------
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/token/punctuation/stopword metrics + a composite quality score.

    All built-ins inside whole-stage codegen — the shape that streams at
    100 TB (one scan, no shuffle; the `documents` scan prunes to 2 columns).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    sw = stopword_count_expr("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tok.alias("n_tokens"),
        punct_count(F.col("text")).alias("n_punct"),
        sw.alias("n_stopwords"),
        F.round(F.length("text") / n_tok, 4).alias("avg_token_len"),
        F.round(sw / n_tok, 4).alias("stopword_ratio"),
        F.round(
            0.5 * (sw / n_tok) + 0.5 * (F.least(n_tok, F.lit(100)) / 100.0), 4
        ).alias("quality_score"),
    )


def _oracle_text_stats() -> str:
    n_tok = token_count_sql("text")
    sw = stopword_count_sql("text")
    return f"""
SELECT
    doc_id,
    CAST(length(text) AS INT) AS n_chars,
    {n_tok} AS n_tokens,
    CAST({punct_count_sql('text')} AS INT) AS n_punct,
    {sw} AS n_stopwords,
    ROUND(length(text) / {n_tok}, 4) AS avg_token_len,
    ROUND({sw} / CAST({n_tok} AS DOUBLE), 4) AS stopword_ratio,
    ROUND(0.5 * ({sw} / CAST({n_tok} AS DOUBLE))
        + 0.5 * (LEAST({n_tok}, 100) / 100.0), 4) AS quality_score
FROM documents
"""


# ---------------------------------------------------------------------------
# q_lang_id — marker-vocabulary language identification
# ---------------------------------------------------------------------------
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic lang-ID: count marker-word hits per language, argmax with
    deterministic tie-break (LANG_MARKERS declaration order)."""
    docs = load_table(spark, sf_dir, "documents")
    langs = list(LANG_MARKERS)
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            stopword_count_expr("text", LANG_MARKERS[lg]).alias(f"s_{lg}")
            for lg in langs
        ],
    )
    # first language whose score >= all later ones wins
    pred = None
    for i, lg in enumerate(langs):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (F.col(f"s_{lg}") >= F.col(f"s_{other}"))
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    scored = scored.withColumn("predicted_lang", pred.otherwise(langs[-1]))
    return scored.select(
        "doc_id",
        "lang",
        "predicted_lang",
        (F.col("predicted_lang") == F.col("lang")).alias("is_match"),
    )


def _oracle_lang_id() -> str:
    langs = list(LANG_MARKERS)
    score_cols = ",\n        ".join(
        f"{stopword_count_sql('text', LANG_MARKERS[lg])} AS s_{lg}" for lg in langs
    )
    branches = []
    for i, lg in enumerate(langs):
        conds = [f"s_{lg} >= s_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lg}'")
    case = "CASE " + " ".join(branches[:-1]) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH scored AS (
    SELECT doc_id, lang,
        {score_cols}
    FROM documents
)
SELECT doc_id, lang,
       {case} AS predicted_lang,
       ({case}) = lang AS is_match
FROM scored
"""


# ---------------------------------------------------------------------------
# q_token_topk — explode + global token frequencies (X1 on documents)
# ---------------------------------------------------------------------------
BPE_MERGES = 4
BPE_SAMPLE_MOD = 10  # doc_id % 10 == 0 → 10% training subset, SF-stable
# encode probes: 3 in-vocabulary words + 2 unseen (a suffix variant and a
# char sequence training never saw) — application must handle both
BPE_PROBE_WORDS = ["join", "scan", "customer", "joins", "zz"]
CMS_WIDTH = 16  # deliberately tiny: the synthetic corpus has only ~31
CMS_DEPTH = 3   # distinct tokens, so width must be below that for bucket
#               collisions to exist at all — with ~2 tokens/bucket the MIN
#               over depth visibly picks smaller counters (strict
#               overestimates appear for most tokens, all still one-sided)


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five tagged branches under one driver row (50-entry consolidation):

    * ``topk``      — top-20 tokens by frequency (count desc, token asc —
                      total order, so LIMIT is deterministic). Explode →
                      partial-agg'd count: one shuffle of (token, count)
                      pairs, never raw text.
    * ``bpe_merge`` — the learned BPE merge table (operators/bpe.py
                      ``bpe_train``, 4 merges on a deterministic 10% doc
                      subset): merge selection is count-desc with
                      lexicographic (a, b) tie-break, so the table is
                      SQL-replicable — the oracle unrolls the same 4
                      count→argmax→rewrite iterations in DuckDB, with the
                      leftmost-greedy merge fold as a recursive CTE.
    * ``bpe_vocab`` — top-20 weighted symbol census of the vocabulary
                      AFTER the merges, pinning the merge APPLICATION (the
                      Spark HOF fold ≡ the recursive-CTE fold) under the
                      hash gate, not just the selections.
    * ``bpe_encode``— the INFERENCE half of the tokenizer
                      (operators/bpe.py ``encode_words``): five probe
                      words — in-vocab, suffix-variant, and unseen — run
                      through the learned merge table; each row renders
                      `word=tok1 tok2 ...` with n = token count, so the
                      hash gate pins the exact segmentation. The oracle
                      replays the same folds on the probes, reusing the
                      per-step winning-pair CTEs the training replica
                      already materializes.
    * ``cms_est``   — Count-Min estimates (operators/cms.py) for the 20
                      top tokens, from a deliberately-narrow width=16 ×
                      depth=3 sketch built over ALL tokens: the portable
                      md5 bucketing makes the whole sketch — build,
                      broadcast probe, MIN over depth — bit-replicable in
                      DuckDB, so the one-sided estimate values themselves
                      sit under the hash gate (est ≥ true by construction;
                      collisions at this width make several estimates
                      strictly greater, proving the MIN path is live).
    """
    from ..operators.bpe import bpe_train
    from ..operators.cms import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    # ONE explode+count pass serves both the top-k ranking and the CMS
    # build: a sketch over (token, n) WEIGHTED pairs is value-identical
    # to one over raw occurrences (each cell is Σ count of the tokens
    # hashing into it), so the build hashes |vocabulary| rows instead of
    # re-exploding and md5-bucketing every token occurrence in the
    # corpus — the second full-corpus pass this query used to pay.
    # persist, deliberately NOT an eager localCheckpoint: the r10 ADVICE
    # asked to materialize + release this cache, but every eager variant
    # measured +0.3s on the entry (a separate query execution + job for
    # work the lazy count folds into one concurrent-stage query), and the
    # pin is vocabulary-sized (~31 distinct tokens in the synthetic
    # corpus). Long-lived sessions reclaim it with clearCache(), which
    # the bench already runs between queries.
    tok_counts = toks.groupBy("token").agg(F.count("*").alias("n")).persist()
    top20 = tok_counts.orderBy(F.col("n").desc(), "token").limit(20)
    topk = top20.select(F.lit("topk").alias("variant"), "token", "n")
    sketch = cms_build(
        tok_counts, "token", width=CMS_WIDTH, depth=CMS_DEPTH, weight_col="n"
    )
    cms_df = cms_estimate(sketch, top20.select("token"), "token").select(
        F.lit("cms_est").alias("variant"),
        "token",
        F.col("est").cast("long").alias("n"),
    )
    sub = docs.filter(F.col("doc_id") % BPE_SAMPLE_MOD == 0)
    merges, syms = bpe_train(
        sub, "doc_id", "text", n_merges=BPE_MERGES, vocab_partitions=4
    )
    merge_df = spark.createDataFrame(
        [(f"step{i}:{a}+{b}", int(n)) for i, (a, b, n) in enumerate(merges, 1)],
        "token string, n long",
    ).select(F.lit("bpe_merge").alias("variant"), "token", "n")
    vocab = (
        syms.select("n", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
        .select(F.lit("bpe_vocab").alias("variant"), "token", "n")
    )
    from ..operators.bpe import encode_words

    probe = spark.createDataFrame(
        [(w,) for w in BPE_PROBE_WORDS], "word string"
    )
    enc = encode_words(probe, merges).select(
        F.lit("bpe_encode").alias("variant"),
        F.concat(
            F.col("word"), F.lit("="), F.array_join("toks", " ")
        ).alias("token"),
        F.size("toks").cast("long").alias("n"),
    )
    return (
        topk.unionByName(merge_df)
        .unionByName(vocab)
        .unionByName(cms_df)
        .unionByName(enc)
        # ≤ 20 rows/branch by construction; the 5-way union otherwise
        # inherits ~130 near-empty partitions into the global sort
        .repartition(1)
        .sortWithinPartitions("variant", F.col("n").desc(), "token")
    )


def _oracle_token_topk() -> str:
    """DuckDB replication of the 4-merge BPE training loop: per merge m,
    pair counts (p{m}) → deterministic argmax (t{m}) → leftmost-greedy
    merge fold as a recursive CTE over each word's symbol list (f{m})."""
    from ..operators.bpe import SEP

    parts = [
        r"""WITH RECURSIVE
w AS (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE doc_id % {mod} = 0
),
vocab AS MATERIALIZED (SELECT word, COUNT(*) AS n FROM w WHERE word <> '' GROUP BY word),
v0 AS MATERIALIZED (
    SELECT word, n,
           list_append([word[i] FOR i IN range(1, length(word) + 1)], '{sep}') AS syms
    FROM vocab
)""".format(mod=BPE_SAMPLE_MOD, sep=SEP)
    ]
    for m in range(1, BPE_MERGES + 1):
        parts.append(
            f""",
p{m} AS MATERIALIZED (
    SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(n) AS BIGINT) AS n_pairs
    FROM v{m - 1}, UNNEST(range(1, len(syms))) AS t(i)
    GROUP BY 1, 2
),
t{m} AS MATERIALIZED (
    SELECT a, b, n_pairs FROM p{m} ORDER BY n_pairs DESC, a, b LIMIT 1
),
f{m} AS (
    SELECT word, n, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM v{m - 1}
    UNION ALL
    SELECT word, n, syms, i + 1,
        CASE WHEN len(acc) > 0
                  AND acc[-1] = (SELECT a FROM t{m})
                  AND syms[i] = (SELECT b FROM t{m})
             THEN list_append(acc[1:len(acc) - 1], (SELECT a || b FROM t{m}))
             ELSE list_append(acc, syms[i]) END
    FROM f{m} WHERE i <= len(syms)
),
v{m} AS MATERIALIZED (SELECT word, n, acc AS syms FROM f{m} WHERE i = len(syms) + 1)"""
        )
    # encode probes: the same leftmost-greedy fold, seeded with the fixed
    # probe words and reusing the t{m} winning-pair CTEs per step
    probe_values = ", ".join(f"('{w}')" for w in BPE_PROBE_WORDS)
    parts.append(
        """,
e0 AS (
    SELECT word,
           list_append([word[i] FOR i IN range(1, length(word) + 1)], '{sep}') AS syms
    FROM (VALUES {vals}) AS t(word)
)""".format(sep=SEP, vals=probe_values)
    )
    for m in range(1, BPE_MERGES + 1):
        parts.append(
            f""",
g{m} AS (
    SELECT word, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM e{m - 1}
    UNION ALL
    SELECT word, syms, i + 1,
        CASE WHEN len(acc) > 0
                  AND acc[-1] = (SELECT a FROM t{m})
                  AND syms[i] = (SELECT b FROM t{m})
             THEN list_append(acc[1:len(acc) - 1], (SELECT a || b FROM t{m}))
             ELSE list_append(acc, syms[i]) END
    FROM g{m} WHERE i <= len(syms)
),
e{m} AS MATERIALIZED (SELECT word, acc AS syms FROM g{m} WHERE i = len(syms) + 1)"""
        )
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'bpe_merge' AS variant, 'step{m}:' || a || '+' || b AS token, "
        f"n_pairs AS n FROM t{m}"
        for m in range(1, BPE_MERGES + 1)
    )
    from ..operators.cms import cms_bucket_sql

    bucket_build = cms_bucket_sql("token", "d", str(CMS_WIDTH))
    parts.append(
        rf""",
toks AS MATERIALIZED (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
),
topt AS MATERIALIZED (
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token ORDER BY n DESC, token LIMIT 20
),
cms AS MATERIALIZED (
    SELECT dd.d, {bucket_build} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS d) dd
    GROUP BY 1, 2
),
cms_probe AS (
    SELECT t.token, dd.d, {bucket_build.replace("token", "t.token")} AS bucket
    FROM (SELECT token FROM topt) t
    CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS d) dd
),
cms_est AS (
    SELECT p.token, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
    FROM cms_probe p
    LEFT JOIN cms c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY p.token
)
SELECT * FROM (
    SELECT 'topk' AS variant, token, n FROM topt
    UNION ALL
    {merge_rows}
    UNION ALL
    SELECT 'bpe_vocab' AS variant, token, n FROM (
        SELECT sym AS token, CAST(SUM(n) AS BIGINT) AS n
        FROM v{BPE_MERGES}, UNNEST(syms) AS u(sym)
        GROUP BY sym ORDER BY n DESC, token LIMIT 20
    )
    UNION ALL
    SELECT 'cms_est' AS variant, token, est AS n FROM cms_est
    UNION ALL
    SELECT 'bpe_encode' AS variant,
           word || '=' || array_to_string(syms, ' ') AS token,
           CAST(len(syms) AS BIGINT) AS n
    FROM e{BPE_MERGES}
)
ORDER BY variant, n DESC, token"""
    )
    return "".join(parts)


ORACLE_TOKEN_TOPK = _oracle_token_topk()


# ---------------------------------------------------------------------------
# q_fingerprint — normalized document fingerprints (rolling-hash analog)
# ---------------------------------------------------------------------------
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fingerprint: md5 of lower/strip-punct/collapse-ws text.
    A full differential check of the normalization chain across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        (fingerprint(F.col("text")) == F.md5("text")).alias("was_normal_form"),
    )


def _oracle_fingerprint() -> str:
    fp = fingerprint_sql("text")
    return f"""
SELECT doc_id,
       {fp} AS fp,
       {fp} = md5(text) AS was_normal_form
FROM documents
"""


# ---------------------------------------------------------------------------
# q_doc_profile — the full per-document profile in ONE relation
# ---------------------------------------------------------------------------
# Merges what were five separate per-doc queries (text_stats, lang_id,
# doc_fingerprint, repetition_stats, simhash) into one: every per-row metric
# rides a SINGLE scan + projection (no shuffle), and only the two genuinely
# aggregate signals — top-bigram count and the 32-bit SimHash — join back on
# doc_id. Three scans + two equi-joins instead of five scans + four joins,
# and one driver CORRECTNESS row covers the whole text-analysis surface.
def _mk_txt(d):
    """Deterministically planted HTML wrapper (doc_id % 5 picks a shape) —
    the corpus has no natural markup, so, like the PII planting, tags and
    entities are constructed inside the query and the stripped-text md5
    pins the whole strip+unescape+collapse transform under the hash gate.
    The '&lt;raw&gt;' case proves order: entities unescape AFTER the tag
    strip, so the unescaped '<raw>' survives as literal text."""
    from pyspark.sql import functions as F

    return (
        F.when(
            d % 5 == 0,
            F.concat(F.lit('<div class="x">'), F.col("text"), F.lit("</div> &amp; <br/>")),
        )
        .when(
            d % 5 == 1,
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p> &lt;raw&gt;")),
        )
        .otherwise(F.col("text"))
    )


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document: quality metrics (length/token/punct/stopword +
    composite score), TRAINED hashed-feature lang-id (operators/langid.py —
    char-bigram features hashed into integer micro-weight buckets, learned
    from the labeled 80% train split `doc_id % 5 != 0`, scored with exact
    integer sums; the old marker-vocabulary argmax stays as
    `predicted_lang_marker` for comparison), normalization fingerprint,
    Gopher-style repetition fractions, SimHash, and PII scrubbing.

    The corpus has no natural PII, so — like the dedup planting — PII is
    planted deterministically inside the query (doc_id%7 picks an email /
    IPv4 / phone trailer built from doc_id) and detection runs over the
    planted text: counts per kind plus md5 of the redacted text, so a
    single mis-redacted span anywhere flips the hash gate."""
    from ..operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    sw = stopword_count_expr("text")
    langs = list(LANG_MARKERS)
    toks = r"split(trim(text), '\\s+')"

    d = F.col("doc_id")
    pii_txt = F.concat(
        F.col("text"),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com now")),
        )
        .when(
            d % 7 == 1,
            F.concat(
                F.lit(" node at 10."),
                (d % 256).cast("string"),
                F.lit(".0."),
                (d % 200).cast("string"),
                F.lit(" up"),
            ),
        )
        .when(
            d % 7 == 2,
            F.concat(
                F.lit(" call 555-"),
                (d % 900 + 100).cast("string"),
                F.lit("-"),
                (d % 9000 + 1000).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )

    per_row = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_pretoken_count(F.col("text")).alias("n_pretokens"),
        punct_count(F.col("text")).alias("n_punct"),
        sw.alias("n_stopwords"),
        F.round(F.length("text") / n_tok, 4).alias("avg_token_len"),
        F.round(sw / n_tok, 4).alias("stopword_ratio"),
        F.round(
            0.5 * (sw / n_tok) + 0.5 * (F.least(n_tok, F.lit(100)) / 100.0), 4
        ).alias("quality_score"),
        *[
            stopword_count_expr("text", LANG_MARKERS[lg]).alias(f"s_{lg}")
            for lg in langs
        ],
        fingerprint(F.col("text")).alias("fp"),
        (fingerprint(F.col("text")) == F.md5("text")).alias("was_normal_form"),
        F.expr(f"size(array_distinct({toks}))").alias("__n_distinct"),
        markup_tag_count(_mk_txt(d)).alias("n_tags"),
        F.md5(strip_markup(_mk_txt(d))).alias("stripped_fp"),
        pii_count(pii_txt, "email").alias("n_emails"),
        pii_count(pii_txt, "ipv4").alias("n_ipv4"),
        pii_count(pii_txt, "phone").alias("n_phones"),
        F.md5(redact_pii(pii_txt)).alias("redacted_fp"),
        # Gopher quality-rule ingredients (Rae et al. 2021 §A1.1) over a
        # planted text (every 3rd doc gets required stopwords appended —
        # the synthetic vocabulary has ~none, and a constant-false gate
        # would verify nothing). Raw integer counts here; the rule
        # booleans below compare integers only (3·n_tok ≤ chars, not
        # chars/n_tok ≥ 3) so both engines decide every boundary case
        # identically, no float division.
        F.expr(f"size({_GP_TOKS})").alias("n_gopher_tokens"),
        F.expr(f"length(regexp_replace({_GP_TXT}, '\\\\s', ''))").alias("n_nonws"),
        F.expr(
            f"cast((length({_GP_TXT}) - length(replace({_GP_TXT}, '#', '')))"
            f" + (length({_GP_TXT}) - length(replace({_GP_TXT}, '...', '')))"
            " div 3 as int)"
        ).alias("n_symbols"),
        F.expr(f"size(filter({_GP_TOKS}, t -> t rlike '[A-Za-z]'))").alias(
            "n_alpha_words"
        ),
        sum(
            F.expr(
                f"array_contains(split(trim(lower({_GP_TXT})), '\\\\s+'), '{w}')"
            ).cast("int")
            for w in GOPHER_REQUIRED_STOPS
        ).alias("n_req_stops"),
    )
    pred = None
    for i, lg in enumerate(langs):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (F.col(f"s_{lg}") >= F.col(f"s_{other}"))
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    per_row = per_row.withColumn("predicted_lang_marker", pred.otherwise(langs[-1]))

    # aggregate branch 0: trained hashed-feature lang-id — weights learned
    # on the 80% split, every doc scored; the weight relation is KB-sized
    # and broadcast, so this adds one explode + groupBy(doc_id) pass
    from ..operators.langid import lang_scores, lang_train

    wts = lang_train(
        docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text", "lang", langs
    )
    clf = lang_scores(docs, "doc_id", "text", wts, langs).select(
        "doc_id", F.col("predicted_lang").alias("predicted_lang")
    )

    # aggregate branch 1: most-frequent-bigram count (explode → two-level agg)
    spread = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    top_bigram = (
        spread.select("doc_id", F.explode(word_ngrams("text", 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("__top_bg"))
    )
    # aggregate branch 2: SimHash (explode distinct tokens → sign sums)
    sh = simhash(docs, "doc_id", "text", bits=32)

    return (
        per_row.join(top_bigram, "doc_id")
        .join(sh, "doc_id")
        .join(clf, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "n_tokens",
            "n_pretokens",
            "n_punct",
            "n_stopwords",
            "avg_token_len",
            "stopword_ratio",
            "quality_score",
            "predicted_lang",
            (F.col("predicted_lang") == F.col("lang")).alias("is_match"),
            "predicted_lang_marker",
            (F.col("predicted_lang_marker") == F.col("lang")).alias("marker_match"),
            "fp",
            "was_normal_form",
            F.round(
                1.0 - F.col("__n_distinct") / F.col("n_tokens").cast("double"), 6
            ).alias("repeated_token_frac"),
            F.round(
                F.col("__top_bg") / (F.col("n_tokens") - 1).cast("double"), 6
            ).alias("top_bigram_frac"),
            "simhash",
            "n_tags",
            "stripped_fp",
            "n_emails",
            "n_ipv4",
            "n_phones",
            "redacted_fp",
            "n_gopher_tokens",
            "n_symbols",
            "n_alpha_words",
            "n_req_stops",
            # Gopher document gate: every clause is an integer comparison
            (
                F.col("n_gopher_tokens").between(50, 100_000)
                & (3 * F.col("n_gopher_tokens") <= F.col("n_nonws"))
                & (F.col("n_nonws") <= 10 * F.col("n_gopher_tokens"))
                & (10 * F.col("n_symbols") <= F.col("n_gopher_tokens"))
                & (5 * F.col("n_alpha_words") >= 4 * F.col("n_gopher_tokens"))
                & (F.col("n_req_stops") >= 2)
            ).alias("gopher_pass"),
        )
        .orderBy("doc_id")
    )


def _oracle_doc_profile() -> str:
    from .dedup import _oracle_simhash  # self-contained simhash-over-documents SQL

    n_tok = token_count_sql("text")
    sw = stopword_count_sql("text")
    langs = list(LANG_MARKERS)
    score_cols = ",\n        ".join(
        f"{stopword_count_sql('text', LANG_MARKERS[lg])} AS s_{lg}" for lg in langs
    )
    branches = []
    for i, lg in enumerate(langs):
        conds = [f"s_{lg} >= s_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lg}'")
    case = "CASE " + " ".join(branches[:-1]) + f" ELSE '{langs[-1]}' END"
    fp = fingerprint_sql("text")
    pii_txt = """(text || CASE
        WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        WHEN doc_id % 7 = 1 THEN ' node at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 200 AS VARCHAR) || ' up'
        WHEN doc_id % 7 = 2 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        ELSE '' END)"""
    mk_txt = '''(CASE
        WHEN doc_id % 5 = 0 THEN '<div class="x">' || text || '</div> &amp; <br/>'
        WHEN doc_id % 5 = 1 THEN '<p>' || text || '</p> &lt;raw&gt;'
        ELSE text END)'''
    toks = r"regexp_split_to_array(trim(text), '\s+')"
    gp_txt = (
        "(CASE WHEN doc_id % 3 = 0"
        f" THEN text || '{GOPHER_PLANT}' ELSE text END)"
    )
    gp_toks = rf"regexp_split_to_array(trim({gp_txt}), '\s+')"
    gp_toksl = rf"regexp_split_to_array(trim(lower({gp_txt})), '\s+')"
    req_stops_sql = " + ".join(
        f"CASE WHEN list_contains({gp_toksl}, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_REQUIRED_STOPS
    )
    bigrams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 1, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 1), ' '))"
    )
    # trained hashed-feature lang-id (operators/langid.py) replicated:
    # char-bigram buckets → (label, bucket) counts on the 80% split →
    # integer micro-weights → per-doc exact integer scores → argmax
    from ..operators.langid import LANGID_SCALE, char_bigram_buckets_sql

    grams, bucket = char_bigram_buckets_sql("text")
    w_cols = ",\n        ".join(
        f"COALESCE(MAX(CASE WHEN lbl = '{lg}' THEN w END), 0) AS w_{lg}"
        for lg in langs
    )
    s_cols = ",\n        ".join(
        f"CAST(SUM(COALESCE(w_{lg}, 0)) AS BIGINT) AS score_{lg}" for lg in langs
    )
    clf_branches = []
    for i, lg in enumerate(langs):
        conds = [f"score_{lg} >= score_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        clf_branches.append(f"WHEN {cond} THEN '{lg}'")
    clf_case = (
        "CASE " + " ".join(clf_branches[:-1]) + f" ELSE '{langs[-1]}' END"
    )
    return f"""
WITH feats AS MATERIALIZED (
    SELECT doc_id, {bucket} AS bucket
    FROM documents, UNNEST({grams}) AS u(g)
),
tf AS MATERIALIZED (
    SELECT f.bucket, d.lang AS lbl
    FROM feats f JOIN documents d USING (doc_id)
    WHERE doc_id % 5 <> 0
),
cnts AS (SELECT lbl, bucket, COUNT(*) AS c FROM tf GROUP BY 1, 2),
tots AS (SELECT lbl, COUNT(*) AS tot FROM tf GROUP BY 1),
wt AS MATERIALIZED (
    SELECT bucket,
        {w_cols}
    FROM (
        SELECT lbl, bucket, (c * {LANGID_SCALE}) // tot AS w
        FROM cnts JOIN tots USING (lbl)
    )
    GROUP BY bucket
),
clf AS MATERIALIZED (
    SELECT f.doc_id,
        {s_cols}
    FROM feats f LEFT JOIN wt USING (bucket)
    GROUP BY f.doc_id
),
per_row AS (
    SELECT doc_id, lang,
        CAST(length(text) AS INT) AS n_chars,
        {n_tok} AS n_tokens,
        {bpe_pretoken_count_sql('text')} AS n_pretokens,
        CAST({punct_count_sql('text')} AS INT) AS n_punct,
        {sw} AS n_stopwords,
        ROUND(length(text) / {n_tok}, 4) AS avg_token_len,
        ROUND({sw} / CAST({n_tok} AS DOUBLE), 4) AS stopword_ratio,
        ROUND(0.5 * ({sw} / CAST({n_tok} AS DOUBLE))
            + 0.5 * (LEAST({n_tok}, 100) / 100.0), 4) AS quality_score,
        {score_cols},
        {fp} AS fp,
        {fp} = md5(text) AS was_normal_form,
        len(list_distinct({toks})) AS n_distinct,
        {markup_tag_count_sql(mk_txt)} AS n_tags,
        md5({strip_markup_sql(mk_txt)}) AS stripped_fp,
        {pii_count_sql(pii_txt, 'email')} AS n_emails,
        {pii_count_sql(pii_txt, 'ipv4')} AS n_ipv4,
        {pii_count_sql(pii_txt, 'phone')} AS n_phones,
        md5({redact_pii_sql(pii_txt)}) AS redacted_fp,
        CAST(len({gp_toks}) AS INT) AS n_gopher_tokens,
        CAST(length(regexp_replace({gp_txt}, '\\s', '', 'g')) AS INT) AS n_nonws,
        CAST((length({gp_txt}) - length(replace({gp_txt}, '#', '')))
             + (length({gp_txt}) - length(replace({gp_txt}, '...', ''))) // 3
             AS INT) AS n_symbols,
        CAST(len(list_filter({gp_toks}, t -> regexp_matches(t, '[A-Za-z]')))
             AS INT) AS n_alpha_words,
        CAST({req_stops_sql} AS INT) AS n_req_stops
    FROM documents
),
top_bg AS (
    SELECT doc_id, MAX(c) AS top_bg FROM (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id, unnest({bigrams}) AS bg FROM documents)
        GROUP BY doc_id, bg
    ) GROUP BY doc_id
),
sh AS ({_oracle_simhash()})
SELECT p.doc_id AS doc_id, p.lang AS lang, n_chars, n_tokens, n_pretokens,
       n_punct,
       n_stopwords, avg_token_len, stopword_ratio, quality_score,
       {clf_case} AS predicted_lang,
       ({clf_case}) = p.lang AS is_match,
       {case} AS predicted_lang_marker,
       ({case}) = p.lang AS marker_match,
       fp, was_normal_form,
       ROUND(1.0 - n_distinct / CAST(n_tokens AS DOUBLE), 6) AS repeated_token_frac,
       ROUND(t.top_bg / CAST(n_tokens - 1 AS DOUBLE), 6) AS top_bigram_frac,
       sh.simhash AS simhash,
       n_tags, stripped_fp, n_emails, n_ipv4, n_phones, redacted_fp,
       n_gopher_tokens, n_symbols, n_alpha_words, n_req_stops,
       (n_gopher_tokens BETWEEN 50 AND 100000
        AND 3 * n_gopher_tokens <= n_nonws
        AND n_nonws <= 10 * n_gopher_tokens
        AND 10 * n_symbols <= n_gopher_tokens
        AND 5 * n_alpha_words >= 4 * n_gopher_tokens
        AND n_req_stops >= 2) AS gopher_pass
FROM per_row p
JOIN top_bg t ON p.doc_id = t.doc_id
JOIN sh ON p.doc_id = sh.doc_id
JOIN clf ON p.doc_id = clf.doc_id
ORDER BY doc_id
"""


QUERIES = {
    "doc_profile": q_doc_profile,
    "token_topk": q_token_topk,
}

ORACLE = {
    "doc_profile": _oracle_doc_profile(),
    "token_topk": ORACLE_TOKEN_TOPK,
}
