"""Document deduplication operators (north-star: LLM-training-data pipeline).

Five strategies, all pure DataFrame/SQL-HOF plans (no Python in the hot
path), each designed around the 100 TB shape of the problem — candidate
generation must be a hash-partitioned equi-join on a derived key, never an
all-pairs comparison:

* exact          — md5(text) group; one shuffle on the 16-byte digest.
* ngram Jaccard  — explode word-n-gram shingles → self-join on shingle →
                   per-pair intersection counts → Jaccard from set sizes.
                   Only pairs sharing ≥1 shingle are ever materialized.
* MinHash + LSH  — k hash-permutation minima per doc; band the signature;
                   docs colliding on a whole band become candidates. Linear
                   in corpus size; tunable (b, r) precision/recall.
* SimHash        — 32-bit sign-aggregated token hash; near-dups have small
                   Hamming distance; banding the bits gives the equi-join.
* embedding      — cosine ≥ τ within a blocking key (see similarity.py).

All hashes route through functions/text.py's md5-based portable hash so the
DuckDB oracle can replicate bit-for-bit.

Algorithms (public literature): MinHash resemblance sketching — Broder,
"On the resemblance and containment of documents" (SEQUENCES 1997); LSH
banding — Indyk & Motwani (STOC 1998) / Leskovec-Rajaraman-Ullman, "Mining
of Massive Datasets" ch.3; SimHash — Charikar, "Similarity estimation
techniques from rounding algorithms" (STOC 2002), applied to web dedup in
Manku et al. (WWW 2007).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    MINHASH_P,
    bind_tokens,
    fingerprint,
    minhash_constants,
    portable_hash60,
    token_count,
    word_ngrams,
    word_shingles,
)


# ------------------------------------------------------------------- exact
def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (keep_id, dup_id) per duplicate row.

    Shuffles on the digest, not the document — at 100 TB the network moves
    16-byte keys + ids, not text bodies.
    """
    hashed = df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("h"))
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    return (
        hashed.join(keepers, "h")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("keep_id", F.col("doc_id").alias("dup_id"))
    )


def fingerprint_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup after normalization (lower/strip-punct/collapse-ws) —
    the 'document fingerprinting' variant."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    keepers = hashed.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (
        hashed.join(keepers, "fp")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("keep_id", F.col("doc_id").alias("dup_id"))
    )


# ---------------------------------------------------------- n-gram Jaccard
def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, *, hash_fn=None
) -> DataFrame:
    """(doc_id, shingle_hash) — one row per DISTINCT shingle per doc.

    Repartitions on the id first: a small corpus file reads as 1-3 splits,
    which would serialize the shingle+hash work onto as many cores. The
    pre-explode shuffle moves compact text rows once; at real scale the
    source has enough splits and AQE coalesces this to a no-op-sized
    exchange.

    `hash_fn`: the shingle→BIGINT hash. Defaults to the md5-prefix
    `portable_hash60` — REQUIRED wherever the hash VALUE is semantic
    (MinHash signatures, anything a DuckDB oracle replicates hash-for-
    hash). Consumers that only ever test shingle EQUALITY (contamination
    probes, Jaccard candidate keys) pass `F.xxhash64`: same results
    (collisions aside — 64-bit xxhash collides strictly less often than
    the 60-bit md5 prefix), ~5× less per-row CPU than the
    md5→hex→conv(16,10) string round-trip (measured, guide §1/§4: the
    hash runs per shingle OCCURRENCE, the single hottest expression in
    the dedup family)."""
    if hash_fn is None:
        hash_fn = portable_hash60
    spread = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    spread = spread.repartition(spread.sparkSession.sparkContext.defaultParallelism, "doc_id")
    return spread.select(
        "doc_id",
        F.explode(word_shingles("__text", n)).alias("shingle"),
    ).select("doc_id", hash_fn(F.col("shingle")).alias("sh"))


def positioned_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, *, hash_fn=None
) -> DataFrame:
    """(doc_id, pos, sh, n_tok): one row per shingle OCCURRENCE with its
    1-based token position — the position-aware sibling of `shingle_table`
    (which deduplicates shingles per doc and drops positions). Used to
    localize WHERE leaked n-grams sit inside a document (contamination
    spans); run it on the SMALL side only (eval benchmarks) — positions
    multiply row counts by ~doc length and are never needed corpus-wide.
    `hash_fn`: see `shingle_table` — must match the relation these
    positions will be joined against."""
    if hash_fn is None:
        hash_fn = portable_hash60
    spread = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    )
    spread = spread.repartition(
        spread.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    return spread.select(
        "doc_id",
        token_count(F.col("__text")).alias("n_tok"),
        F.posexplode(word_ngrams("__text", n)).alias("pos0", "shingle"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        hash_fn(F.col("shingle")).alias("sh"),
        "n_tok",
    )


def leak_spans(
    docs: DataFrame,
    leaked: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """Localize leaked n-grams inside documents: given `leaked`
    (id_col, sh) — the shingle hashes known to overlap another corpus —
    returns (id_col, span_start, span_end, n_covered_tokens) where the span
    is the 1-based token range [first, last] touched by any leaked shingle
    and the coverage counts DISTINCT covered token positions (overlapping
    leaks don't double-count). Each occurrence at position p covers tokens
    [p, min(p+n-1, doc_len)].

    Run on the small (eval) side: positions multiply rows by ~doc length.
    The answer to "is 3000100 contaminated?" is counts; the answer to
    "can I salvage it by cutting the leaked slice?" is this span."""
    pos_sh = positioned_shingles(docs, id_col, text_col, n, hash_fn=hash_fn)
    leak_occ = pos_sh.join(
        leaked.select(F.col(id_col).alias("doc_id"), "sh"), ["doc_id", "sh"]
    )
    # ONE aggregation serves all three outputs: each occurrence at pos
    # covers tokens [pos, min(pos+n-1, n_tok)], so over the DISTINCT
    # covered positions min(cpos) IS the first leaked position (every
    # range starts at its pos), max(cpos) IS the envelope end, and the
    # row count IS the coverage — the previous spans ⋈ coverage two-
    # branch shape recomputed the occurrence join per branch (or pinned
    # it) and paid an extra shuffle join for byte-identical results.
    cov = leak_occ.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(pos, least(pos + {n} - 1, n_tok))")
        ).alias("cpos"),
    ).distinct()
    # per-doc result is small BY CONSTRUCTION (≤ one row per leaked doc,
    # and leak localization runs on the eval side only): fold to one
    # partition and materialize (checkpoint discipline — callers consume
    # it repeatedly without pinning session caches)
    out = (
        cov.groupBy("doc_id")
        .agg(
            F.min("cpos").alias("span_start"),
            F.max("cpos").alias("span_end"),
            F.count("*").alias("n_covered_tokens"),
        )
        .withColumnRenamed("doc_id", id_col)
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    return out


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = "n_tokens",
) -> DataFrame:
    """Salvage documents by CUTTING a token span instead of dropping them:
    given `spans` (id_col, span_start, span_end — 1-based inclusive, the
    `leak_spans` envelope), rewrite `text_col` to the tokens OUTSIDE the
    span (single-space rejoined) and recompute `tokens_col` when present.
    Docs with no span row pass through unchanged.

    The envelope is deliberately conservative: everything between the
    FIRST and LAST leaked position goes, including clean middle tokens —
    over-cutting can only lose yield, never leak. Cutting splices the
    token before the span against the token after it, which can CREATE a
    new n-gram that itself matches the eval set — callers doing
    decontamination must RE-PROBE the cut docs (pipeline/curate.py's
    salvage path does; 'verified salvage').

    Shape: spans come from the eval-overlap side, orders of magnitude
    smaller than the corpus → broadcast left join + one linear map pass
    (slice/filter/concat are JVM HOFs); no shuffle of the corpus."""
    sp = F.broadcast(
        spans.select(
            F.col(id_col),
            F.col("span_start").alias("__cut_a"),
            F.col("span_end").alias("__cut_b"),
        )
    )
    joined = docs.join(sp, id_col, "left")
    toks = f"split(trim(`{text_col}`), '\\\\s+')"
    # kept = toks[1 .. a-1] ++ toks[b+1 .. end]; slice lengths clamped ≥ 0
    # (ANSI mode raises on negative slice lengths)
    kept = (
        f"concat(slice({toks}, 1, greatest(__cut_a - 1, 0)), "
        f"slice({toks}, __cut_b + 1, "
        f"greatest(size({toks}) - __cut_b, 0)))"
    )
    # compute the kept array ONCE from the ORIGINAL text (a later
    # withColumn would re-tokenize the already-rewritten text)
    out = joined.withColumn(
        "__kept",
        F.when(F.col("__cut_a").isNotNull(), F.expr(kept)),
    )
    if tokens_col and tokens_col in docs.columns:
        out = out.withColumn(
            tokens_col,
            F.when(
                F.col("__cut_a").isNull(), F.col(tokens_col)
            ).otherwise(
                F.expr("size(filter(__kept, t -> t <> ''))").cast(
                    docs.schema[tokens_col].dataType.simpleString()
                )
            ),
        )
    out = out.withColumn(
        text_col,
        F.when(F.col("__cut_a").isNull(), F.col(text_col)).otherwise(
            F.expr("array_join(__kept, ' ')")
        ),
    )
    return out.drop("__cut_a", "__cut_b", "__kept")


def cap_hot_shingles(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose doc-frequency exceeds `max_doc_freq`.

    A single ultra-frequent shingle ("in the" at web scale) lands every
    containing doc on ONE join key, making the candidate self-join quadratic
    in its doc-frequency. Stop-shingles also carry no dedup signal, so the
    standard fix is to drop them before candidate generation.

    Shape: doc-frequency is one map-side-combined count over (sh); the hot
    set is tiny BY CONSTRUCTION (only keys with df > cap), so the removal
    is a broadcast left-anti join — the big shingle table never reshuffles.
    """
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("sh")
    )
    return sh.join(F.broadcast(hot), "sh", "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = 10_000,
    shingles: DataFrame | None = None,
    hash_fn=None,
) -> DataFrame:
    """Candidate pairs (a < b) with exact shingle-set Jaccard ≥ threshold.

    Plan: shingles → doc-frequency cap (`cap_hot_shingles`, on by default —
    one stop-shingle would otherwise blow up the self-join quadratically)
    → self-equi-join on shingle hash → count(*) per pair = |A∩B|; |A∪B|
    from per-doc set sizes over the SAME capped shingle set, so Jaccard
    stays a consistent ratio of exact integers and hashes identically
    across engines. Pass ``max_doc_freq=None`` to disable the cap.

    ``shingles``: an optional precomputed (doc_id, sh) relation (the
    `shingle_table` shape, distinct shingles per doc) — callers running
    several strategies over ONE corpus persist the shingle pass once and
    hand it to each, so the explode+hash scan isn't repeated per strategy.

    ``hash_fn`` (ignored when ``shingles`` is given): Jaccard only ever
    tests shingle EQUALITY — sizes and intersections count DISTINCT
    shingle strings, which any injective-in-practice hash relabels — so
    callers not sharing the pass with MinHash pass ``F.xxhash64`` for the
    cheap hash (see `shingle_table`).
    """
    sh = shingles if shingles is not None else shingle_table(
        df, id_col, text_col, n, hash_fn=hash_fn
    )
    if max_doc_freq is not None:
        sh = cap_hot_shingles(sh, max_doc_freq)
    # the capped shingle table feeds three consumers (sizes + both join
    # sides); persist so the explode+md5+cap pass runs once, not three times
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------ MinHash + LSH
def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 16, shingle_n: int = 3,
    seed: int = 42, shingles: DataFrame | None = None,
) -> DataFrame:
    """k-column MinHash signature per doc: mh_i = min over shingles of
    (a_i * h(shingle) + b_i) mod P, 31-bit arithmetic (overflow-safe in both
    engines). One explode + one groupBy — linear, no pairwise work.
    ``shingles``: optional precomputed (doc_id, sh) relation (see
    ngram_jaccard_pairs) to avoid re-running the shingle scan."""
    consts = minhash_constants(k, seed)
    base = shingles if shingles is not None else shingle_table(df, id_col, text_col, shingle_n)
    sh = base.withColumn("base", F.col("sh") % MINHASH_P)
    # one parsed expression per hash (not ~8 py4j round-trips each):
    # identical arithmetic, pure construction-latency savings
    aggs = [
        F.expr(f"min(({a}L * base + {b}L) % {MINHASH_P}L) AS mh{i}")
        for i, (a, b) in enumerate(consts)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_table(sig: DataFrame, *, k: int, bands: int) -> DataFrame:
    """(doc_id, band_idx, band_key) — posexplode the banded signature so
    every (doc, band) is ONE row and all bands share ONE equi-join, instead
    of `bands` separate self-joins + union. The band index rides inside the
    join key so different bands never collide."""
    r = k // bands
    band_structs = ", ".join(
        "struct("
        + ", ".join(f"mh{band * r + j} AS c{j}" for j in range(r))
        + ")"
        for band in range(bands)
    )
    return sig.selectExpr(
        "doc_id",
        f"posexplode(array({band_structs})) AS (band_idx, band_key)",
    )


def score_candidate_pairs(
    candidates: DataFrame, sig: DataFrame, *, k: int, threshold: float
) -> DataFrame:
    """Attach the signature-agreement Jaccard estimate to (id_a, id_b)
    candidates and keep pairs ≥ threshold."""
    sig_a = sig.selectExpr(
        "doc_id AS id_a", *[f"mh{i} AS a{i}" for i in range(k)]
    )
    sig_b = sig.selectExpr(
        "doc_id AS id_b", *[f"mh{i} AS b{i}" for i in range(k)]
    )
    agreement = F.expr(
        "("
        + " + ".join(f"CAST(a{i} = b{i} AS INT)" for i in range(k))
        + f") / CAST({k} AS DOUBLE)"  # a bare 16.0 would parse as DECIMAL
    )
    return (
        candidates.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", F.round(agreement, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 16, bands: int = 4,
    shingle_n: int = 3, threshold: float = 0.5, seed: int = 42,
    shingles: DataFrame | None = None,
    signatures: DataFrame | None = None,
    caches_out: list | None = None,
) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard (signature agreement rate).

    Bands of r = k/bands rows; docs equal on ALL r components of any band
    collide. Each band join is a hash equi-join on an (r×31-bit) composite
    key → shuffle-friendly and linear-ish; the estimate filter then applies
    sig-agreement ≥ threshold. P(collide) = 1-(1-j^r)^b — with k=16, b=4:
    ~0.04 at j=0.3, ~0.9 at j=0.8.
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    # signatures feed the band explode + 2 joins for the agreement scorer —
    # persist or the shingle scan + k min-aggs re-run for each consumer.
    # `signatures`: a caller-persisted signature relation (the minhash_
    # signatures shape) shared across strategies/batches — at scale THIS is
    # the relation you materialize (~100 B/doc), not the shingles.
    if signatures is not None:
        sig = signatures
    else:
        # `caches_out`: cache-ownership contract (the pq_topk pattern) —
        # the persisted signature plan is handed to the caller to
        # unpersist after its action; without it the pin lives for the
        # session (CacheManager is never GC'd)
        sig = minhash_signatures(
            df, id_col, text_col, k=k, shingle_n=shingle_n, seed=seed, shingles=shingles
        ).persist()
        if caches_out is not None:
            caches_out.append(sig)
    banded = band_table(sig, k=k, bands=bands)
    lhs = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
    rhs = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
    candidates = (
        lhs.join(rhs, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return score_candidate_pairs(candidates, sig, k=k, threshold=threshold)


def incremental_minhash_pairs(
    store: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    batch_shingles: DataFrame | None = None,
    batch_signatures: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental corpus dedup: pairs TOUCHING the new batch, plus the
    updated signature store. Returns `(pairs, new_store)`.

    The production shape at 100 TB: signatures are computed once per doc and
    PERSISTED (the store — a parquet table of doc_id + k ints, ~100 B/doc);
    each ingest batch only shingles its own documents and band-joins against
    the store. Work per ingest ∝ |batch| + collisions, never |corpus|² and
    never a corpus re-shingle. Old×old pairs were emitted by earlier runs
    and are not re-emitted, so over any batch sequence the union of emitted
    pairs equals the one-shot `minhash_lsh_pairs` of the full corpus
    (asserted by tests/test_incremental_dedup.py).

    The batch side of both the band join and the score joins is typically
    tiny relative to the store — Spark/AQE broadcasts it, so the store
    shuffles nothing. Store rows never change (signatures are content-pure),
    so `new_store` is an append — dedupe ingest bookkeeping upstream if a
    doc can re-arrive.
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    if batch_signatures is not None:
        sig_new = batch_signatures
    else:
        sig_new = minhash_signatures(
            batch, id_col, text_col, k=k, shingle_n=shingle_n, seed=seed,
            shingles=batch_shingles,
        ).persist()
    banded_new = band_table(sig_new, k=k, bands=bands)

    new_l = banded_new.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
    new_r = banded_new.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
    new_new = new_l.join(new_r, ["band_idx", "band_key"]).filter(
        F.col("id_a") < F.col("id_b")
    )

    if store is not None:
        banded_old = band_table(store, k=k, bands=bands)
        old_side = banded_old.select(
            F.col("doc_id").alias("id_a"), "band_idx", "band_key"
        )
        # orient (old, new) as (id_a, id_b) when old < new, else flipped —
        # normalized so id_a < id_b like every other pair relation
        old_new = (
            old_side.join(new_r, ["band_idx", "band_key"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        candidates = new_new.select("id_a", "id_b").unionByName(old_new).distinct()
        all_sig = store.unionByName(sig_new)
        new_store = all_sig
    else:
        candidates = new_new.select("id_a", "id_b").distinct()
        all_sig = sig_new
        new_store = sig_new

    pairs = score_candidate_pairs(candidates, all_sig, k=k, threshold=threshold)
    return pairs, new_store


# ------------------------------------------------------------------ SimHash
def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 32) -> DataFrame:
    """Per-doc SimHash: bit_j = [ Σ_tokens (bit_j(h(token))·2 − 1) > 0 ].

    Distinct tokens per doc (set semantics). Pure integer arithmetic —
    oracle-replicable. One explode + one groupBy with `bits` aggregates.
    """
    spread = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    spread = spread.repartition(spread.sparkSession.sparkContext.defaultParallelism, "doc_id")
    toks = spread.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("__text")), r"\s+"))
        ).alias("tok"),
    ).withColumn("h", portable_hash60(F.col("tok")))
    # per-bit aggregates and the value assembly as SQL strings: the
    # Column-chain spelling issued ~10 py4j round-trips per bit (~1s of
    # serial driver latency per simhash call at any cluster size); each
    # F.expr below is ONE round-trip and parses JVM-side. Identical
    # expressions, identical results.
    aggs = [
        F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1)").alias(f"s{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    value = F.expr(
        " + ".join(
            f"(CASE WHEN s{j} > 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(bits)
        )
    )
    return sums.select("doc_id", value.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 32, max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding: split the hash into `chunks` bit-ranges; any pair
    within distance < chunks must agree on ≥1 whole chunk → candidates come
    from `chunks` equi-joins, then the exact popcount filter runs on
    candidates only.
    """
    if max_hamming >= chunks:
        raise ValueError("need chunks > max_hamming for pigeonhole completeness")
    width = bits // chunks
    sh = simhash(df, id_col, text_col, bits=bits).persist()
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))

    mask = (1 << width) - 1
    candidates = None
    for c in range(chunks):
        cand = a.join(
            b,
            (
                F.shiftright(F.col("ha"), c * width).bitwiseAND(F.lit(mask))
                == F.shiftright(F.col("hb"), c * width).bitwiseAND(F.lit(mask))
            )
            & (F.col("id_a") < F.col("id_b")),
        ).select("id_a", "id_b", "ha", "hb")
        candidates = cand if candidates is None else candidates.unionByName(cand)
    candidates = candidates.distinct()

    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    hamming = F.bit_count(xor)
    return (
        candidates.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Segment-level exact dedup (the Lee et al. 2021 "Deduplicating Training
# Data" exact-substring family, at fixed token-segment granularity — the
# Spark-tractable spelling: a distributed suffix array is replaced by
# non-overlapping k-token segments hashed and resolved first-occurrence-wins)
# ---------------------------------------------------------------------------
def text_segments(df: DataFrame, id_col: str, text_col: str, *, seg_tokens: int = 20) -> DataFrame:
    """(doc_id, seg_idx, seg_text): non-overlapping `seg_tokens`-token
    windows per document — one map pass, the explode is the only row
    multiplication (×⌈tokens/seg_tokens⌉)."""
    n_segs = f"greatest(CAST(ceil(size(toks) / CAST({seg_tokens} AS DOUBLE)) AS INT), 1)"
    segs = F.expr(bind_tokens(
        text_col,
        f"transform(sequence(0, {n_segs} - 1), "
        f"i -> concat_ws(' ', slice(toks, i * {seg_tokens} + 1, {seg_tokens})))",
    ))
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segs).alias("seg_idx", "seg_text")
    )


def segment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 20,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥1 identical `seg_tokens`-token segment, with
    `n_shared` = number of distinct shared segments. Candidate generation is
    an equi-join on the 16-byte segment digest over the per-doc-DISTINCT
    occurrence set — one shuffle of digests, never text bodies (same shape
    as exact_duplicates). `max_doc_freq` drops boilerplate segments seen in
    more than that many docs BEFORE the self-join (license headers / nav
    chrome are the segment-level stop-shingles; same quadratic hazard and
    same df-cut fix as ngram_jaccard's cap_hot_shingles)."""
    occ = (
        text_segments(df, id_col, text_col, seg_tokens=seg_tokens)
        .select("doc_id", F.md5("seg_text").alias("h"))
        .distinct()
    )
    if max_doc_freq is not None:
        dfreq = occ.groupBy("h").agg(F.count("*").alias("__df"))
        occ = occ.join(
            F.broadcast(dfreq.filter(F.col("__df") > max_doc_freq).select("h")),
            "h",
            "left_anti",
        )
    a = occ.select(F.col("doc_id").alias("id_a"), "h")
    b = occ.select(F.col("doc_id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )


def segment_dedup(
    df: DataFrame, id_col: str, text_col: str, *, seg_tokens: int = 20
) -> DataFrame:
    """Corpus-wide first-occurrence-wins segment dedup with document
    reconstruction: every repeated segment keeps only its (lowest doc_id,
    lowest seg_idx) occurrence; each document is rebuilt from its surviving
    segments in order. Returns (doc_id, n_segments, n_kept, text_deduped) —
    n_kept = 0 ⇒ the document is pure repetition of earlier material (the
    C4/RefinedWeb-style drop candidate).

    Shuffles: one on the segment digest (winner resolution), one
    groupBy(doc_id) for reconstruction — both linear in segment count;
    the winner window ranks 16-byte digests + (doc_id, seg_idx), not text.
    Idempotent: re-running on its own output is a no-op (every surviving
    segment is already its hash's first occurrence)."""
    occ = text_segments(df, id_col, text_col, seg_tokens=seg_tokens).withColumn(
        "h", F.md5("seg_text")
    )
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    kept = occ.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    totals = occ.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.expr("transform(sort_array(collect_list(struct(seg_idx, seg_text))), x -> x.seg_text)"),
            " ",
        ).alias("text_deduped"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


def ensemble_pairs(sources: dict[str, DataFrame]) -> DataFrame:
    """Consensus over independent dedup strategies: union (id_a, id_b) pair
    relations from several detectors into one relation with provenance —
    `sources` (which strategies found the pair) and `n_sources` (the vote).
    Production dedup pipelines gate on the vote (e.g. ≥2 of {minhash,
    simhash, semdedup} before deleting) because each strategy has disjoint
    failure modes; feed the gated pairs to graph.dedup_clusters as usual.

    One groupBy shuffle over the (small) union of pair sets — pairs, never
    corpora; provenance is a sorted array so the relation is deterministic.
    """
    tagged = None
    for name, df in sorted(sources.items()):
        t = df.select("id_a", "id_b", F.lit(name).alias("__src"))
        tagged = t if tagged is None else tagged.unionByName(t)
    return (
        tagged.groupBy("id_a", "id_b")
        .agg(
            F.sort_array(F.collect_set("__src")).alias("sources"),
            F.count_distinct("__src").alias("n_sources"),
        )
    )
