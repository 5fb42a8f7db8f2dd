"""Operator tests for dedup + similarity beyond the oracle differentials:
planted ground-truth recovery, LSH recall vs brute force, pigeonhole
completeness of simhash banding."""

from __future__ import annotations

from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from weather_data_warehouse_aws_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from weather_data_warehouse_aws_spark.queries.dedup import (
    EXACT_OFFSET,
    NEAR_OFFSET,
    SHINGLE_N,
    planted_documents,
)
from weather_data_warehouse_aws_spark.sources.tables import load_table


def test_exact_dedup_recovers_planted(spark, sf_dir):
    docs = planted_documents(spark, sf_dir)
    pairs = exact_duplicates(docs, "doc_id", "text").collect()
    planted = {(r.keep_id, r.dup_id) for r in pairs}
    expected = {
        (r.doc_id, r.doc_id + EXACT_OFFSET)
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select("doc_id")
        .collect()
    }
    assert planted == expected  # exactly the planted copies, nothing else


def test_hot_shingle_cap_kills_quadratic_candidates(spark):
    """One planted stop-shingle shared by EVERY doc must not generate
    all-pairs candidates once the df cap is on: uncapped, n docs sharing a
    shingle produce C(n,2) candidate pairs; capped, only true near-dups
    survive candidate generation."""
    n = 24
    stop = "alpha beta gamma delta epsilon"  # one 5-gram in every doc
    rows = [(i, f"{stop} unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e") for i in range(n)]
    # one true near-dup pair: doc n shares doc 0's whole tail
    rows.append((n, rows[0][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=5, threshold=0.0, max_doc_freq=None
    )
    assert uncapped.count() == (n + 1) * n // 2  # quadratic blowup: all pairs

    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=5, threshold=0.0, max_doc_freq=5
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(0, n)}  # only the true duplicate pair ever materializes


def test_ngram_jaccard_recovers_near_dups(spark, sf_dir):
    docs = planted_documents(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=SHINGLE_N, threshold=0.6)
    rows = pairs.collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    near_ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 1)
        .select("doc_id")
        .collect()
    ]
    for i in near_ids:
        assert (i, i + NEAR_OFFSET) in got, f"missed planted near-dup {i}"
        assert 0.6 <= got[(i, i + NEAR_OFFSET)] < 1.0
    exact_ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select("doc_id")
        .collect()
    ]
    for i in exact_ids:
        assert got.get((i, i + EXACT_OFFSET)) == 1.0


def test_minhash_lsh_finds_planted_with_high_recall(spark, sf_dir):
    docs = planted_documents(spark, sf_dir)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", k=16, bands=4, shingle_n=SHINGLE_N, threshold=0.5
        ).collect()
    }
    exact_ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select("doc_id")
        .collect()
    ]
    # exact copies have identical signatures -> always collide
    assert all((i, i + EXACT_OFFSET) in pairs for i in exact_ids)
    near_ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 1)
        .select("doc_id")
        .collect()
    ]
    found = sum((i, i + NEAR_OFFSET) in pairs for i in near_ids)
    assert found / len(near_ids) >= 0.6  # probabilistic, deterministic seed


def test_simhash_pairs_complete_within_distance(spark, sf_dir):
    """Pigeonhole banding must find EVERY pair with hamming <= max_hamming:
    compare against brute-force popcount over all pairs."""
    from weather_data_warehouse_aws_spark.operators.dedup import simhash

    docs = planted_documents(spark, sf_dir)
    sh = simhash(docs, "doc_id", "text", bits=32).cache()
    banded = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=3).collect()
    }
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("d", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("d") <= 3)
        .collect()
    }
    sh.unpersist()
    assert banded == brute
    # exact copies share the simhash -> distance 0 pairs must exist
    assert any(b - a == EXACT_OFFSET for a, b in banded)


def test_lsh_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, emb, k=5).collect()
    }
    n_planes = 4
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(queries, emb, k=5, n_planes=n_planes, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random 64-dim vectors are near-orthogonal — the worst case for sign-LSH
    # — so calibrate against the fraction of the corpus actually probed:
    # own bucket + n_planes Hamming-1 probes ≈ (1+n)/2^n of the corpus.
    probed_fraction = (1 + n_planes) / 2**n_planes  # ≈ 0.31
    assert recall >= probed_fraction, f"LSH recall {recall:.2f} no better than chance"
    assert len(approx) > 0


def test_ivf_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(queries, emb, k=5).collect()
    }
    n_cells, nprobe = 16, 4
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(queries, emb, k=5, n_cells=n_cells, nprobe=nprobe).collect()
    }
    recall = len(exact & approx) / len(exact)
    probed_fraction = nprobe / n_cells  # 0.25 of the corpus searched
    assert recall >= probed_fraction, f"IVF recall {recall:.2f} no better than chance"


def test_lloyd_refine_improves_objective(spark, sf_dir):
    """One Lloyd iteration must not decrease the k-means objective proxy
    (mean best-centroid dot product over the corpus)."""
    from weather_data_warehouse_aws_spark.operators.similarity import lloyd_refine

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("neighbor_id").orderBy(F.col("__sim").desc(), F.col("cent_id"))

    def objective(cents):
        scored = c.crossJoin(F.broadcast(cents)).withColumn(
            "__sim",
            F.expr(
                "aggregate(zip_with(cv, cent_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
            ),
        )
        best = scored.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1)
        return best.agg(F.avg("__sim")).collect()[0][0]

    from weather_data_warehouse_aws_spark.operators.similarity import normalize_vectors

    init = (
        c.withColumn("cell", F.pmod(F.xxhash64("neighbor_id"), F.lit(8)))
        .withColumn("rn", F.row_number().over(Window.partitionBy("cell").orderBy("neighbor_id")))
        .filter(F.col("rn") == 1)
        .select(F.col("cell").alias("cent_id"), F.col("cv").alias("cent_vec"))
    )
    # spherical k-means compares unit centroids against unit centroids
    init = normalize_vectors(init, "cent_vec")
    before = objective(init)
    refined = lloyd_refine(c, init, iterations=1)
    after = objective(refined)
    assert after >= before - 1e-9, (before, after)


def test_decontamination_recovers_planted(spark, sf_dir):
    """Every planted exact-copy and trailer-extended eval doc must be
    flagged (all their original 5-grams exist in the train corpus); the
    flag set may additionally contain reversed docs whose reversed 5-grams
    collide by chance in the 31-word vocabulary — that's real overlap."""
    from weather_data_warehouse_aws_spark.queries.dedup import (
        EVAL_EXACT_OFFSET,
        EVAL_TRAILER_OFFSET,
        q_decontamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_exact = docs.filter(F.col("doc_id") % 100 == 0).count()
    n_trailer = docs.filter(F.col("doc_id") % 100 == 1).count()

    flagged = q_decontamination(spark, sf_dir).collect()
    ids = {r.eval_id for r in flagged}
    exact_flagged = sum(1 for i in ids if EVAL_EXACT_OFFSET <= i < EVAL_TRAILER_OFFSET)
    trailer_flagged = sum(
        1 for i in ids if EVAL_TRAILER_OFFSET <= i < EVAL_TRAILER_OFFSET + 10**6
    )
    assert exact_flagged == n_exact
    assert trailer_flagged == n_trailer
    # contaminated docs must report at least themselves as a source
    assert all(r.n_train_sources >= 1 and r.n_shared_shingles >= 1 for r in flagged)


def test_blocked_neardup_block_size_tripwire(spark, sf_dir):
    """Oversized blocks must fail fast with a pointer to the approximate
    scale paths instead of silently running Σblock² dot products."""
    import pytest

    from weather_data_warehouse_aws_spark.operators.similarity import blocked_neardup
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="lsh_topk"):
        blocked_neardup(emb, max_block_rows=10)
    # generous bound: passes the guard and still computes
    assert blocked_neardup(emb, max_block_rows=10_000_000).count() >= 0


def test_semantic_dedup_drops_planted_copies(spark, sf_dir):
    """SemDeDup: planted identical copies (same vector, higher id) must land
    in their original's cell (identical scores, same tie-break) and be
    dropped by the greedy keep-lowest-id filter; originals survive."""
    from weather_data_warehouse_aws_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_survivors,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    offset = 1_000_000
    planted = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + offset).alias("vec_id"), "embedding"
    )
    allv = emb.unionByName(planted)
    pairs = semantic_dedup_pairs(allv, n_cells=16, threshold=0.95)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {
        (r.vec_id, r.vec_id + offset)
        for r in emb.filter(F.col("vec_id") % 100 == 0).collect()
    }
    assert expected <= got, f"missing planted pairs: {sorted(expected - got)[:5]}"

    survivors = {r.vec_id for r in semantic_dedup_survivors(allv, pairs).collect()}
    planted_ids = {i + offset for i, _ in ((r.vec_id, None) for r in emb.filter(F.col("vec_id") % 100 == 0).collect())}
    assert planted_ids.isdisjoint(survivors), "a planted copy survived"
    assert {r.vec_id for r in emb.filter(F.col("vec_id") % 100 == 0).collect()} <= survivors


def test_semantic_dedup_pairs_no_cartesian(spark, sf_dir):
    """Candidate generation must stay equi-join-shaped: the only cross join
    is the broadcast centroid assignment (bounded by n_cells), never a
    corpus×corpus product."""
    from tests.test_plans import has_cartesian, physical_plan
    from weather_data_warehouse_aws_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = physical_plan(semantic_dedup_pairs(emb, n_cells=16, threshold=0.9))
    # the centroid assignment is a broadcast nested loop against ≤ n_cells
    # rows — assert the pair join itself is hash/equi, i.e. no cartesian on
    # two corpus-sized sides: BroadcastNestedLoopJoin appears only with the
    # tiny centroid build side, and the cell_id pair join is a hash join
    assert not has_cartesian(plan) or "cent_vec" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_quantize_vectors_codes_bounded_and_reconstruct(spark, sf_dir):
    """Codes must lie in [-127, 127] and s·q must reconstruct each component
    to within half a quantization step (|s·q - x| ≤ s/2)."""
    from weather_data_warehouse_aws_spark.operators.similarity import (
        Q8_LEVELS,
        quantize_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = quantize_vectors(
        emb, id_col="vec_id", vec_col="embedding", id_out="id", prefix="c"
    ).collect()
    for r in rows:
        assert r.cs > 0
        for x, qv in zip(r.cv, r.cq):
            assert -Q8_LEVELS <= qv <= Q8_LEVELS
            assert abs(r.cs * qv - float(x)) <= r.cs / 2 + 1e-12


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 stage-1 ranking + rerank·k exact rescoring must recover nearly
    all exact top-k neighbors (quantization error ≪ neighbor gaps)."""
    from weather_data_warehouse_aws_spark.operators.similarity import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in quantized_topk(queries, emb, k=5, rerank=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"q8 recall {recall:.2f}"


def _seg_docs(spark):
    blockA = " ".join(f"a{i}" for i in range(20))  # one exact 20-token segment
    blockB = " ".join(f"b{i}" for i in range(20))
    blockC = " ".join(f"c{i}" for i in range(20))
    return spark.createDataFrame(
        [
            (1, f"{blockA} {blockB}"),
            (2, f"{blockA} {blockC}"),   # repeats doc 1's first segment
            (3, f"{blockC} {blockC}"),   # repeats doc 2's tail AND itself
        ],
        ["doc_id", "text"],
    )


def test_segment_pairs_find_shared_blocks(spark):
    from weather_data_warehouse_aws_spark.operators.dedup import segment_pairs

    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in segment_pairs(_seg_docs(spark), "doc_id", "text", seg_tokens=20).collect()
    }
    assert got == {(1, 2): 1, (2, 3): 1}


def test_segment_dedup_first_occurrence_wins_and_idempotent(spark):
    from weather_data_warehouse_aws_spark.operators.dedup import segment_dedup

    out = {
        r.doc_id: r
        for r in segment_dedup(_seg_docs(spark), "doc_id", "text", seg_tokens=20).collect()
    }
    # doc 1 keeps everything; doc 2 loses blockA; doc 3 loses blockC (seen in
    # doc 2) and its own internal repeat
    assert (out[1].n_segments, out[1].n_kept) == (2, 2)
    assert (out[2].n_segments, out[2].n_kept) == (2, 1)
    assert (out[3].n_segments, out[3].n_kept) == (2, 0)
    assert out[2].text_deduped.startswith("c0 ") and "a0" not in out[2].text_deduped
    assert out[3].text_deduped == ""

    # idempotence: dedup of the deduped non-empty texts is a no-op
    again_in = spark.createDataFrame(
        [(k, v.text_deduped) for k, v in out.items() if v.text_deduped],
        ["doc_id", "text"],
    )
    again = {
        r.doc_id: (r.n_segments, r.n_kept)
        for r in segment_dedup(again_in, "doc_id", "text", seg_tokens=20).collect()
    }
    assert all(n_seg == n_kept for n_seg, n_kept in again.values())


def test_segment_pairs_doc_freq_cap_drops_boilerplate(spark):
    """A segment repeated across many docs (license-header shape) must be
    excluded from pair generation when max_doc_freq is set — the quadratic
    pair blowup never materializes."""
    from weather_data_warehouse_aws_spark.operators.dedup import segment_pairs

    boiler = " ".join(f"l{i}" for i in range(20))
    rows = [(i, f"{boiler} " + " ".join(f"u{i}_{j}" for j in range(20))) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = segment_pairs(df, "doc_id", "text", seg_tokens=20).count()
    assert uncapped == 50 * 49 // 2  # every pair shares the boilerplate
    capped = segment_pairs(df, "doc_id", "text", seg_tokens=20, max_doc_freq=10).count()
    assert capped == 0


def test_rp_project_preserves_geometry_and_recall(spark, sf_dir):
    """JL projection 64→16: per-vector norms concentrate around the
    originals (mean ratio ≈ 1) and brute top-5 over the projected vectors
    recovers far more of the exact neighbors than chance."""
    from weather_data_warehouse_aws_spark.operators.similarity import rp_project

    emb = load_table(spark, sf_dir, "embeddings")
    proj = rp_project(emb, out_dim=16, in_dim=64)
    norms = proj.selectExpr(
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (a, v) -> a + v)) AS n0",
        "sqrt(aggregate(transform(rp_vec, x -> x * x), 0.0D, (a, v) -> a + v)) AS n1",
    ).selectExpr("avg(n1 / n0) AS r", "stddev(n1 / n0) AS s").first()
    assert abs(norms.r - 1.0) < 0.15, norms
    assert norms.s < 0.25, norms

    # random 64-dim vectors are near-orthogonal (no real neighbor structure
    # to preserve — gaps ≈ distortion), so test JL on PLANTED structure:
    # noisy twins (v + 0.15·g) are unambiguous nearest neighbors in the
    # original space and must remain top-5 neighbors after projection
    import numpy as np

    rng = np.random.default_rng(3)
    base = [(r.vec_id, list(r.embedding)) for r in emb.filter(F.col("vec_id") < 50).collect()]
    twins = [
        (vid + 10_000, [float(x) for x in (np.array(v) + 0.15 * rng.standard_normal(64))])
        for vid, v in base
    ]
    allv = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in base] + twins,
        "vec_id bigint, embedding array<double>",
    )
    pall = rp_project(allv, out_dim=16, in_dim=64).select(
        "vec_id", F.col("rp_vec").alias("embedding")
    )
    pq = pall.filter(F.col("vec_id") < 50)
    hits = sum(
        1
        for r in cosine_topk(pq, pall, k=5).collect()
        if r.neighbor_id == r.query_id + 10_000
    )
    assert hits >= 0.7 * len(base), f"only {hits}/{len(base)} twins kept as neighbors"


def test_rp_project_is_map_side_only(spark, sf_dir):
    from tests.test_plans import physical_plan
    from weather_data_warehouse_aws_spark.operators.similarity import rp_project

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(rp_project(emb, out_dim=8, in_dim=64))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocked_fuzzy_pairs_links_typos_and_blocks_scale(spark):
    """Entity resolution: typo'd names must link to their originals through
    the blocking key; distance respects the cutoff; degenerate blocking
    trips the guard."""
    import pytest

    from weather_data_warehouse_aws_spark.operators.linkage import (
        blocked_fuzzy_pairs,
    )

    rows = [(i, f"Account#{i:09d}") for i in range(1, 200)]
    # one-char typos at position 10 (inside the digits), same length/suffix
    rows += [(i + 1000, f"Account#{i:09d}"[:9] + "X" + f"Account#{i:09d}"[10:]) for i in range(1, 200, 10)]
    df = spark.createDataFrame(rows, ["rid", "nm"])
    got = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_fuzzy_pairs(df, "rid", "nm", max_distance=2).collect()
    }
    for i in range(1, 200, 10):
        assert got.get((i, i + 1000)) == 1, f"typo of {i} not linked"
    assert all(d <= 2 for d in got.values())

    # guard is folded into the plan (no eager pre-pass), so it fires at
    # action time from inside a task
    with pytest.raises(Exception, match="blocking"):
        blocked_fuzzy_pairs(
            df, "rid", "nm", block_fn=lambda c: F.lit("one"), max_block_rows=50
        ).collect()
    # and a well-blocked input with the guard ON still works in one pass
    assert (
        blocked_fuzzy_pairs(df, "rid", "nm", max_block_rows=50).count() > 0
    )


def test_blocked_fuzzy_pairs_plan_is_equi_join(spark):
    from tests.test_plans import physical_plan
    from weather_data_warehouse_aws_spark.operators.linkage import (
        blocked_fuzzy_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"Account#{i:09d}") for i in range(1, 50)], ["rid", "nm"]
    )
    plan = physical_plan(blocked_fuzzy_pairs(df, "rid", "nm", max_block_rows=None))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ensemble_pairs_votes_and_provenance(spark, sf_dir):
    """Planted exact copies must be found by every strategy (vote = 3);
    trailer near-dups by the similarity strategies but not exact-hash."""
    from weather_data_warehouse_aws_spark.operators.dedup import (
        ensemble_pairs,
        exact_duplicates,
        minhash_lsh_pairs,
        segment_pairs,
    )

    docs = planted_documents(spark, sf_dir)
    exact = exact_duplicates(docs, "doc_id", "text").select(
        F.col("keep_id").alias("id_a"), F.col("dup_id").alias("id_b")
    )
    minhash = minhash_lsh_pairs(
        docs, "doc_id", "text", k=16, bands=4, shingle_n=SHINGLE_N, threshold=0.5
    ).select("id_a", "id_b")
    segment = segment_pairs(docs, "doc_id", "text", seg_tokens=20).select("id_a", "id_b")
    ens = ensemble_pairs({"exact": exact, "minhash": minhash, "segment": segment})
    rows = {(r.id_a, r.id_b): (r.n_sources, list(r.sources)) for r in ens.collect()}

    exact_planted = [
        (r.doc_id, r.doc_id + EXACT_OFFSET)
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0).select("doc_id").collect()
    ]
    for pair in exact_planted:
        n, srcs = rows[pair]
        assert n == 3 and srcs == ["exact", "minhash", "segment"], (pair, srcs)
    near_planted = [
        (r.doc_id, r.doc_id + NEAR_OFFSET)
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 1).select("doc_id").collect()
    ]
    near_found = [p for p in near_planted if p in rows]
    assert near_found, "no near-dup pair found by any similarity strategy"
    for p in near_found:
        assert "exact" not in rows[p][1], "trailer near-dup cannot be byte-identical"


def test_lsh_multitable_amplifies_recall(spark, sf_dir):
    """OR-amplification: unioning candidates from L independent tables must
    raise recall over one table (1-(1-q)^L), at proportional candidate
    cost. This is the knob the ann_methods recall_lsh branch measures."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, emb, k=5).collect()
    }

    def recall(n_tables: int) -> float:
        approx = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(
                queries, emb, k=5, n_planes=6, n_tables=n_tables, dim=64
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 > r1, (r1, r4)
    assert r4 >= 0.5, f"4-table recall {r4:.2f} too low"


def test_lsh_high_recall_on_clustered_vectors(spark):
    """Sign-LSH's recall collapse on this synthetic corpus is a DATA
    property (near-orthogonal neighbors), not an operator defect: on
    vectors with genuinely close neighbors (tight planted clusters,
    cosine ≈ 1) the same operator recalls nearly everything."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in range(20):
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for _ in range(5):
            v = center + 0.05 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 5 == 0)  # one per cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, emb, k=4).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(
            queries, emb, k=4, n_planes=6, n_tables=2, dim=64
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered recall {recall:.2f}"


def test_pq_topk_recall_and_shapes(spark, sf_dir):
    """PQ ADC + rescore: recall well above the rescored-pool-chance floor,
    exactly k rows per query, cosines exact (they come from the rescore)."""
    from weather_data_warehouse_aws_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, emb, k=5).collect()
    }
    out = pq_topk(queries, emb, k=5, m=4, ksub=16, rerank=6, dim=64).collect()
    approx = {(r.query_id, r.neighbor_id) for r in out}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"PQ recall {recall:.2f}"
    from collections import Counter

    per_q = Counter(r.query_id for r in out)
    assert all(v == 5 for v in per_q.values()) and len(per_q) == 10
    # rescored cosine must equal the exact cosine for overlapping pairs
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk(queries, emb, k=5).collect()
    }
    for r in out:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cos == exact_cos[key]


def test_pq_dim_divisibility_guard(spark, sf_dir):
    from weather_data_warehouse_aws_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        pq_topk(emb, emb, m=5, dim=64)


def test_reworked_callsites_leave_cache_manager_empty(spark, sf_smoke_dir):
    """Regression for the ADVICE-r5 leak class: persist() registers plans
    in Spark's GLOBAL CacheManager (never GC'd), so the reworked call
    sites must release every internal cache before returning — otherwise
    each call pins executor storage for the rest of the session."""
    from pyspark.sql import functions as F

    from weather_data_warehouse_aws_spark.operators.dedup import leak_spans
    from weather_data_warehouse_aws_spark.operators.similarity import pq_topk
    from weather_data_warehouse_aws_spark.queries.similarity import q_ann_methods
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    spark.catalog.clearCache()
    mgr = spark._jsparkSession.sharedState().cacheManager()

    emb = load_table(spark, sf_smoke_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    pq_topk(queries, emb, k=3, m=4, ksub=16, rerank=3, dim=64).collect()
    assert mgr.isEmpty(), "pq_topk standalone leaked a cached plan"

    docs = load_table(spark, sf_smoke_dir, "documents").select("doc_id", "text")
    leaked = docs.select(
        "doc_id",
        F.xxhash64(F.split(F.trim("text"), r"\s+").getItem(0)).alias("sh"),
    ).limit(5)
    leak_spans(docs, leaked, 5).collect()
    assert mgr.isEmpty(), "leak_spans leaked its occurrence cache"

    q_ann_methods(spark, sf_smoke_dir).count()
    assert mgr.isEmpty(), "q_ann_methods leaked tier caches"


def test_word_shingles_tokenize_once_and_match_inline_spelling(spark):
    """word_shingles / word_ngrams bind the token array once per row; the
    arrays must equal the inline spelling's (split re-evaluated at every
    position) on null, empty, short, repetitive and long documents."""
    from weather_data_warehouse_aws_spark.functions.text import (
        word_ngrams,
        word_shingles,
    )

    def inline(n: int, distinct: bool):
        toks = r"split(trim(text), '\\s+')"
        grams = (
            f"transform(sequence(1, greatest(size({toks}) - {n} + 1, 1)), "
            f"i -> concat_ws(' ', slice({toks}, i, {n})))"
        )
        return F.expr(f"array_distinct({grams})" if distinct else grams)

    long_doc = " ".join(f"w{i % 37}" for i in range(2000))
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b"), (5, " a b c a b c a b c "),
         (6, long_doc)],
        "id long, text string",
    )
    for n in (1, 2, 5):
        for new, distinct in ((word_shingles, True), (word_ngrams, False)):
            got = docs.select("id", new("text", n).alias("s")).orderBy("id").collect()
            want = docs.select("id", inline(n, distinct).alias("s")).orderBy("id").collect()
            assert got == want, (new.__name__, n)
    assert str(word_shingles("text", 5)).count("split(") == 1
    assert str(word_ngrams("text", 2)).count("split(") == 1
