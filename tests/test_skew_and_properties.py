"""Skew-operator equivalence + hypothesis property tests for the custom
join/merge operators (SURVEY §5 item 4: property tests)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.asof_join import asof_join
from weather_data_warehouse_aws_spark.operators.band_join import band_join
from weather_data_warehouse_aws_spark.operators.skew import salted_agg, salted_broadcast_join

BASE = dt.datetime(2024, 1, 1)

# hypothesis drives Spark jobs — keep examples few and deadline off
_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=20_000),  # offset seconds
    ),
    min_size=0,
    max_size=60,
)


@given(left=_events, right=_events, tol=st.sampled_from([1, 60, 3600]))
@_SETTINGS
def test_band_join_matches_bruteforce(spark, left, right, tol):
    """Bucketed band join ≡ brute-force |Δt|<tol filter, for arbitrary keyed
    timestamp multisets and tolerances."""
    ldf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "k bigint, lts timestamp, lid bigint",
    )
    rdf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(right)],
        "k bigint, rts timestamp, rid bigint",
    )
    got = {
        (r.lid, r.rid)
        for r in band_join(ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", tolerance_sec=tol).collect()
    }
    want = {
        (i, j)
        for i, (lk, ls) in enumerate(left)
        for j, (rk, rs) in enumerate(right)
        if lk == rk and abs(ls - rs) < tol
    }
    assert got == want


@given(left=_events, right=_events)
@_SETTINGS
def test_asof_join_matches_bruteforce(spark, left, right):
    """As-of join ≡ per-row max(right_ts ≤ left_ts) brute force."""
    ldf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "k bigint, lts timestamp, lid bigint",
    )
    # dedupe right per (k, ts): asof picks the greatest ts; attribute ties
    # are resolved by keeping max rid (mirrors queries/temporal.py)
    seen: dict[tuple[int, int], int] = {}
    for j, (rk, rs) in enumerate(right):
        seen[(rk, rs)] = max(seen.get((rk, rs), -1), j)
    rrows = [(k, BASE + dt.timedelta(seconds=s), rid) for (k, s), rid in seen.items()]
    rdf = spark.createDataFrame(rrows, "k bigint, rts timestamp, rid bigint")

    got = {
        r.lid: r.rid
        for r in asof_join(ldf, rdf, on=["k"], left_ts="lts", right_ts="rts").collect()
    }
    want = {}
    for i, (lk, ls) in enumerate(left):
        best = None
        for (rk, rs), rid in seen.items():
            if rk == lk and rs <= ls and (best is None or rs > best[0]):
                best = (rs, rid)
        want[i] = best[1] if best else None
    assert got == want


@given(left=_events, right=_events, direction=st.sampled_from(["forward", "nearest"]))
@_SETTINGS
def test_asof_directions_match_bruteforce(spark, left, right, direction):
    """forward ≡ per-row min(right_ts ≥ left_ts); nearest ≡ argmin |Δt|
    with ties broken toward the backward candidate."""
    ldf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "k bigint, lts timestamp, lid bigint",
    )
    seen: dict[tuple[int, int], int] = {}
    for j, (rk, rs) in enumerate(right):
        seen[(rk, rs)] = max(seen.get((rk, rs), -1), j)
    rrows = [(k, BASE + dt.timedelta(seconds=s), rid) for (k, s), rid in seen.items()]
    rdf = spark.createDataFrame(rrows, "k bigint, rts timestamp, rid bigint")

    got = {
        r.lid: r.rid
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", direction=direction
        ).collect()
    }
    want = {}
    for i, (lk, ls) in enumerate(left):
        back, fwd = None, None
        for (rk, rs), rid in seen.items():
            if rk != lk:
                continue
            if rs <= ls and (back is None or rs > back[0]):
                back = (rs, rid)
            if rs >= ls and (fwd is None or rs < fwd[0]):
                fwd = (rs, rid)
        if direction == "forward":
            want[i] = fwd[1] if fwd else None
        else:
            if back is None:
                want[i] = fwd[1] if fwd else None
            elif fwd is None:
                want[i] = back[1]
            elif abs(ls - fwd[0]) < abs(ls - back[0]):
                want[i] = fwd[1]
            else:
                want[i] = back[1]
    assert got == want


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plain = {
        (r.event_type,): (r.n, round(r.total, 2), round(r.avg_v, 6), r.mx)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.avg("value").alias("avg_v"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.event_type,): (r.n, round(r.total, 2), round(r.avg_v, 6), r.mx)
        for r in salted_agg(
            ev,
            ["event_type"],
            {
                "n": ("*", "count"),
                "total": ("value", "sum"),
                "avg_v": ("value", "avg"),
                "mx": ("value", "max"),
            },
            salt_cols=["event_id"],
            buckets=16,
        ).collect()
    }
    assert salted == plain


def test_salted_broadcast_join_equals_plain_join(spark, sf_dir):
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    plain = {
        (r.c_custkey, r.n_name)
        for r in customer.join(nation, "c_nationkey").select("c_custkey", "n_name").collect()
    }
    salted = {
        (r.c_custkey, r.n_name)
        for r in salted_broadcast_join(
            customer, nation, ["c_nationkey"], salt_cols=["c_custkey"], buckets=4
        )
        .select("c_custkey", "n_name")
        .collect()
    }
    assert salted == plain


@pytest.mark.parametrize("n_changes", [0, 1, 3])
def test_scd2_row_conservation(spark, n_changes):
    """SCD2 merge invariants: every natural key has exactly one current row;
    expired rows never resurrect; version numbers are dense per key."""
    from weather_data_warehouse_aws_spark.operators.scd2 import (
        scd2_initial_load,
        scd2_merge,
    )

    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(6)], "nk string, attr string"
    )
    dim = scd2_initial_load(
        base, ["nk"], "key", effective_date=dt.date(2024, 1, 1), now=dt.datetime(2024, 1, 1)
    )
    updates = spark.createDataFrame(
        [(f"k{i}", f"v{i}_new" if i < n_changes else f"v{i}") for i in range(6)],
        "nk string, attr string",
    )
    merged = scd2_merge(
        dim, updates, ["nk"], ["attr"], "key",
        effective_date=dt.date(2024, 2, 1), now=dt.datetime(2024, 2, 1),
    ).cache()
    assert merged.count() == 6 + n_changes
    current = merged.filter(F.col("is_current"))
    assert current.count() == 6
    assert current.select("nk").distinct().count() == 6
    versions = merged.groupBy("nk").agg(
        F.max("version").alias("vmax"), F.count("*").alias("cnt")
    )
    assert versions.filter(F.col("vmax") != F.col("cnt")).count() == 0
    merged.unpersist()


_SCD2_SCHEMA = "nk string, cc string, attr double, tz string"
_SCD2_MODEL_COLS = [
    "key", "nk", "cc", "attr", "tz", "version", "is_current",
    "effective_from_date", "effective_to_date", "created_timestamp",
    "updated_timestamp",
]


def _scd2_model(dim, snap, eff, now, dense):
    """Reference SCD2 merge over plain tuples (key, nk, cc, attr, tz,
    version, is_current, from, to, created, updated); `snap` maps the
    natural key to its (attr, tz). Tracked attributes compare NULL-safe."""
    high = dt.date(9999, 12, 31)
    out = [r for r in dim if not r[6]]  # history passes through
    inserts = []
    current = {(r[1], r[2]): r for r in dim if r[6]}
    for nk, r in current.items():
        new = snap.get(nk)
        if new is None or new == (r[3], r[4]):  # absent or unchanged: kept
            out.append(r[:10] + (r[9],))
        else:  # changed: expired, and version+1 inserted
            out.append(r[:6] + (False, r[7], eff, r[9], now))
            inserts.append((*nk, *new, r[5] + 1))
    inserts += [(*nk, *new, 1) for nk, new in snap.items() if nk not in current]
    top = max((r[0] for r in dim), default=0)
    for i, (nk, cc, attr, tz, v) in enumerate(sorted(inserts, key=lambda t: t[:2])):
        key = top + i + 1 if dense else None
        out.append((key, nk, cc, attr, tz, v, True, eff, high, now, now))
    return sorted(out, key=lambda r: (r[1], r[2], r[5]))


@pytest.mark.parametrize("key_strategy", ["dense", "hash"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_scd2_merge_matches_reference_model(spark, key_strategy, seed):
    """One-pass SCD2 merge ≡ a plain-Python reference over random
    snapshots: history rows, absent keys, new keys and NULL tracked
    attributes (`<=>`), both key strategies, two merges deep (so the
    second merge sees expired history). Dense keys continue from the
    existing max in natural-key order; hash keys are xxhash64(natural
    key, version)."""
    import random

    from weather_data_warehouse_aws_spark.operators.scd2 import (
        scd2_initial_load,
        scd2_merge,
    )

    rng = random.Random(seed)
    attrs = [1.0, 2.0, None]
    tzs = ["EST", "GMT", None]
    keys = [(f"k{i}", rng.choice(["US", "GB"])) for i in range(rng.randint(3, 7))]
    base = [(nk, cc, rng.choice(attrs), rng.choice(tzs)) for nk, cc in keys]
    dim = scd2_initial_load(
        spark.createDataFrame(base, _SCD2_SCHEMA), ["nk", "cc"], "key",
        effective_date=dt.date(2024, 1, 1), now=dt.datetime(2024, 1, 1),
        key_strategy=key_strategy,
    )
    model = dim.select(_SCD2_MODEL_COLS)
    rows = [tuple(r) for r in model.collect()]
    for step in range(2):
        snap = {}
        for nk, cc in keys:
            if rng.random() < 0.75:
                snap[(nk, cc)] = (rng.choice(attrs), rng.choice(tzs))
        for j in range(rng.randint(0, 3)):
            new_key = (f"n{step}{j}", rng.choice(["US", "GB"]))
            keys.append(new_key)
            snap[new_key] = (rng.choice(attrs), rng.choice(tzs))
        eff, now = dt.date(2024, 2, 1 + step), dt.datetime(2024, 2, 1 + step, 7)
        merged = scd2_merge(
            spark.createDataFrame(rows, model.schema).select(dim.columns),
            spark.createDataFrame(
                [(*nk, *v) for nk, v in snap.items()], _SCD2_SCHEMA
            ),
            ["nk", "cc"], ["attr", "tz"], "key",
            effective_date=eff, now=now, key_strategy=key_strategy,
        )
        assert merged.columns == dim.columns
        got = sorted(
            (tuple(r) for r in merged.select(_SCD2_MODEL_COLS).collect()),
            key=lambda r: (r[1], r[2], r[5]),
        )
        want = _scd2_model(rows, snap, eff, now, key_strategy == "dense")
        if key_strategy == "hash":
            hashed = spark.createDataFrame(got, model.schema).select(
                (F.col("key") == F.xxhash64("nk", "cc", "version")).alias("ok")
            )
            assert all(r.ok for r in hashed.collect())
            got, want = [r[1:] for r in got], [r[1:] for r in want]
        assert got == want
        rows = [tuple(r) for r in merged.select(_SCD2_MODEL_COLS).collect()]


def test_scd2_dense_keys_pinned(spark):
    """The exact dense surrogate keys of a three-snapshot history. The
    warehouse's accuracy hash leaves `location_key` out, so a re-keying
    bug in the merge would show nowhere else. Values: the two-merge
    output of the join-and-union merge this one-pass merge replaced."""
    from weather_data_warehouse_aws_spark.operators.scd2 import (
        scd2_initial_load,
        scd2_merge,
    )

    base = [("a", "US", 1.0, "EST"), ("b", "US", 2.0, "EST"), ("c", "GB", 3.0, "GMT"),
            ("d", "GB", 4.0, "GMT"), ("e", "IN", None, "IST"), ("f", "IN", 6.0, None)]
    snaps = [
        # b changed, c's attr to NULL, d absent, e unchanged NULL, new g, aa
        [("a", "US", 1.0, "EST"), ("b", "US", 2.5, "EST"), ("c", "GB", None, "GMT"),
         ("e", "IN", None, "IST"), ("f", "IN", 6.0, None), ("g", "JP", 7.0, "JST"),
         ("aa", "US", 8.0, "EST")],
        # b changed again, d back unchanged, f's NULL tz set, c back from
        # NULL, new h
        [("b", "US", 2.75, "EST"), ("d", "GB", 4.0, "GMT"), ("f", "IN", 6.0, "IST"),
         ("c", "GB", 3.0, "GMT"), ("h", "BR", 9.0, "BRT")],
    ]
    dim = scd2_initial_load(
        spark.createDataFrame(base, _SCD2_SCHEMA), ["nk", "cc"], "key",
        effective_date=dt.date(2024, 1, 1), now=dt.datetime(2024, 1, 1),
    )
    for i, snap in enumerate(snaps):
        dim = scd2_merge(
            dim, spark.createDataFrame(snap, _SCD2_SCHEMA), ["nk", "cc"],
            ["attr", "tz"], "key",
            effective_date=dt.date(2024, 2, 1 + i), now=dt.datetime(2024, 2, 1 + i, 7),
        )
        dim = spark.createDataFrame(dim.collect(), dim.schema)
    got = sorted(
        (r.key, r.nk, r.version, r.is_current, str(r.effective_to_date))
        for r in dim.collect()
    )
    assert got == [
        (1, "a", 1, True, "9999-12-31"),
        (2, "b", 1, False, "2024-02-01"),
        (3, "c", 1, False, "2024-02-01"),
        (4, "d", 1, True, "9999-12-31"),
        (5, "e", 1, True, "9999-12-31"),
        (6, "f", 1, False, "2024-02-02"),
        (7, "aa", 1, True, "9999-12-31"),
        (8, "b", 2, False, "2024-02-02"),
        (9, "c", 2, False, "2024-02-02"),
        (10, "g", 1, True, "9999-12-31"),
        (11, "b", 3, True, "9999-12-31"),
        (12, "c", 3, True, "9999-12-31"),
        (13, "f", 2, True, "9999-12-31"),
        (14, "h", 1, True, "9999-12-31"),
    ]


def test_split_by_hash_stable_under_repartitioning(spark, sf_dir):
    """The split label depends only on the id — identical under any
    physical layout (the leak-free-eval-set property)."""
    from weather_data_warehouse_aws_spark.operators.sampling import split_by_hash
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    s1 = {
        r.doc_id: r.split
        for r in split_by_hash(docs, "doc_id", [0.8, 0.1, 0.1], ["train", "val", "test"]).collect()
    }
    s2 = {
        r.doc_id: r.split
        for r in split_by_hash(
            docs.repartition(7), "doc_id", [0.8, 0.1, 0.1], ["train", "val", "test"]
        ).collect()
    }
    assert s1 == s2
    assert set(s1.values()) == {"train", "val", "test"}
    frac = sum(1 for v in s1.values() if v == "train") / len(s1)
    assert 0.7 < frac < 0.9


def test_approx_sketches_within_tolerance(spark, sf_dir):
    """The 100 TB aggregation tools — HLL count-distinct and KLL/GK
    percentile sketches — must land within their documented error bands of
    the exact answers (sketches are engine-specific, so they're pytest-
    bounded rather than oracle-hashed)."""
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact_cd"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_cd"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_med"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("approx_med"),
    ).collect()[0]
    assert abs(row.approx_cd - row.exact_cd) / row.exact_cd < 0.05
    assert abs(row.approx_med - row.exact_med) / row.exact_med < 0.02


# ---------------------------------------------------------------------------
# CDC algebra + interval-overlap join properties
# ---------------------------------------------------------------------------
_snapshots = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),   # key
        st.integers(min_value=0, max_value=3),    # group
        st.integers(min_value=-100, max_value=100),  # amount
    ),
    min_size=0,
    max_size=40,
)


@given(old=_snapshots, new=_snapshots)
@_SETTINGS
def test_cdc_incremental_equals_recompute(spark, old, new):
    """apply_agg_delta(grouped_sums(old), diff(old,new)) ≡ grouped_sums(new)
    for arbitrary keyed snapshots (last write per key wins to satisfy the
    unique-key precondition), including group-moving updates and groups
    draining to zero."""
    from weather_data_warehouse_aws_spark.operators.cdc import (
        apply_agg_delta,
        grouped_sums,
        snapshot_diff,
    )

    def df_of(rows):
        uniq = {k: (k, f"g{g}", a) for k, g, a in rows}  # unique per key
        return spark.createDataFrame(
            list(uniq.values()) or [(None, None, None)],
            "k int, grp string, amt int",
        ).filter(F.col("k").isNotNull())

    o, n = df_of(old), df_of(new)
    maintained = apply_agg_delta(
        grouped_sums(o, ["grp"], ["amt"]),
        snapshot_diff(o, n, ["k"]),
        ["grp"],
        ["amt"],
    )
    direct = grouped_sums(n, ["grp"], ["amt"])
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, direct.collect())
    )


_intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # key
        st.integers(min_value=0, max_value=5000),   # start offset sec
        st.integers(min_value=1, max_value=4000),   # length sec
    ),
    min_size=0,
    max_size=30,
)


@given(left=_intervals, right=_intervals, bucket=st.sampled_from([10, 600, 7200]))
@_SETTINGS
def test_overlap_join_matches_bruteforce(spark, left, right, bucket):
    """Claim-bucket overlap join ≡ brute-force half-open overlap filter for
    arbitrary keyed interval multisets and bucket widths."""
    from weather_data_warehouse_aws_spark.operators.interval_join import (
        interval_overlap_join,
    )

    ldf = spark.createDataFrame(
        [
            (k, BASE + dt.timedelta(seconds=s), BASE + dt.timedelta(seconds=s + ln), i)
            for i, (k, s, ln) in enumerate(left)
        ],
        "k bigint, ls timestamp, le timestamp, lid bigint",
    )
    rdf = spark.createDataFrame(
        [
            (k, BASE + dt.timedelta(seconds=s), BASE + dt.timedelta(seconds=s + ln), i)
            for i, (k, s, ln) in enumerate(right)
        ],
        "k bigint, rs timestamp, re timestamp, rid bigint",
    )
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            ldf, rdf, on=["k"], left_start="ls", left_end="le",
            right_start="rs", right_end="re", bucket_sec=bucket,
        ).collect()
    }
    want = {
        (i, j)
        for i, (lk, ls, lln) in enumerate(left)
        for j, (rk, rs, rln) in enumerate(right)
        if lk == rk and ls < rs + rln and rs < ls + lln
    }
    assert got == want


def test_asof_join_null_timestamps(spark):
    """NULL timestamps are positionless: a NULL right_ts row is never a
    match, a NULL left_ts row matches nothing (but is preserved)."""
    left = spark.createDataFrame(
        [(1, BASE, 10), (1, None, 11)], "k bigint, lts timestamp, lid bigint"
    )
    right = spark.createDataFrame(
        [(1, None, 100.0), (1, BASE + dt.timedelta(seconds=60), 200.0)],
        "k bigint, rts timestamp, rval double",
    )
    for direction in ("backward", "forward", "nearest"):
        rows = {r.lid: r.rval for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            direction=direction,
        ).collect()}
        assert set(rows) == {10, 11}
        assert rows[11] is None, direction  # null left ts -> no match
        # the null-ts right row must never be the match
        assert rows[10] in (None, 200.0) and rows[10] != 100.0, direction
    # backward: only right row is 60s AFTER the left row -> no predecessor
    back = {r.lid: r.rval for r in asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
    ).collect()}
    assert back[10] is None


_merge_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),              # key
        st.sampled_from(["a", "b", None]),                   # attr (nullable)
        st.integers(min_value=-50, max_value=50),            # amt
    ),
    min_size=0,
    max_size=25,
)


@given(
    tgt=_merge_rows,
    src=_merge_rows,
    del_matched=st.booleans(),
    del_by_source=st.booleans(),
    insert=st.booleans(),
    update=st.sampled_from(["all", "partial", None]),
)
@_SETTINGS
def test_merge_into_matches_python_model(
    spark, tgt, src, del_matched, del_by_source, insert, update
):
    """merge_into ≡ a row-by-row Python model of SQL MERGE for arbitrary
    clause combinations, including NULL predicate inputs (3VL: NULL never
    fires a delete) and last-write-wins deduped inputs."""
    from weather_data_warehouse_aws_spark.operators.merge import merge_into

    tgt_d = {k: (a, m) for k, a, m in tgt}          # unique per key
    src_d = {k: (a, m) for k, a, m in src}
    schema = "k int, attr string, amt int"
    target = spark.createDataFrame(
        [(k, a, m) for k, (a, m) in tgt_d.items()] or [], schema
    )
    source = spark.createDataFrame(
        [(k, a, m) for k, (a, m) in src_d.items()] or [], schema
    )

    kwargs = {
        "when_matched_update": (
            {"amt": F.col("__src_amt") + F.col("amt")} if update == "partial"
            else update
        ),
        "when_not_matched_insert": insert,
    }
    if del_matched:
        kwargs["when_matched_delete"] = F.col("__src_attr") == "b"  # NULL-able
    if del_by_source:
        kwargs["when_not_matched_by_source_delete"] = F.col("attr") == "a"

    got = sorted(
        (r.k, r.attr, r.amt) for r in merge_into(target, source, ["k"], **kwargs).collect()
    )

    # ---- reference model ----
    out = {}
    for k, (a, m) in tgt_d.items():
        if k in src_d:
            sa, sm = src_d[k]
            if del_matched and sa == "b":        # NULL attr -> no fire
                continue
            if update == "all":
                out[k] = (sa, sm)
            elif update == "partial":
                out[k] = (a, sm + m)
            else:
                out[k] = (a, m)
        else:
            if del_by_source and a == "a":
                continue
            out[k] = (a, m)
    if insert:
        for k, (a, m) in src_d.items():
            if k not in tgt_d:
                out[k] = (a, m)
    want = sorted((k, a, m) for k, (a, m) in out.items())
    assert got == want


_erase_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),            # key (dups fine)
        st.sampled_from(["p0", "p1"]),                     # partition
        st.integers(min_value=-9, max_value=9),
    ),
    min_size=1,
    max_size=20,
)


@given(
    rows=_erase_rows,
    erase=st.sets(st.integers(min_value=0, max_value=18), max_size=5),
    with_nulls=st.booleans(),
)
@_SETTINGS
def test_erase_keys_fuzz_matches_filter(spark, tmp_path_factory, rows, erase, with_nulls):
    """tx_erase_keys over random partitioned log tables ≡ a plain filter
    of the same rows — including NULL keys (always kept), erase values
    absent from the table, and a batch that wipes EVERY row (the emptied
    table keeps its schema through the log)."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_append,
        tx_erase_keys,
        tx_read,
    )

    data = [(k, p, v) for k, p, v in rows]
    if with_nulls:
        data.append((None, "p0", 99))
    path = str(tmp_path_factory.mktemp("erase_fz")) + "/t"
    df = spark.createDataFrame(data, "k int, part string, v int")
    tx_append(df, path, partition_by=["part"])

    stats = tx_erase_keys(spark, path, "k", sorted(erase))
    got = sorted(
        ((r.k, r.part, r.v) for r in tx_read(spark, path).collect()),
        key=str,
    )
    want = sorted(
        ((k, p, v) for k, p, v in data if k is None or k not in erase),
        key=str,
    )
    assert got == want
    assert stats["rows_removed"] == len(data) - len(want)


def test_key_skew_and_partition_balance(spark):
    from weather_data_warehouse_aws_spark.operators.skew import (
        key_skew,
        partition_balance,
    )

    rows = [("hot",)] * 80 + [("a",)] * 15 + [(None,)] * 5
    df = spark.createDataFrame(rows, "k string")
    top = key_skew(df, "k", top_k=2).collect()
    assert top[0]["value"] == "hot" and abs(top[0]["share"] - 0.8) < 1e-9
    assert top[1]["value"] == "a"
    # NULL shows up as a countable value when heavy enough
    top3 = {r["value"] for r in key_skew(df, "k", top_k=3).collect()}
    assert None in top3

    skewed = df.repartition(4, "k")  # one value dominates -> imbalance
    bal = partition_balance(skewed).collect()
    assert sum(r["n"] for r in bal) == 100
    # empty partitions count in the denominator: 3 keys over 4 partitions
    # means the hot partition's imbalance is at least ~0.8/(1/4) * collision
    # slack — dominance must be clearly visible
    assert max(r["imbalance"] for r in bal) >= 2.5
    # degenerate case: ALL rows in one of 4 partitions -> imbalance 4
    one_key = spark.createDataFrame([("x",)] * 40, "k string").repartition(4, "k")
    worst = max(r["imbalance"] for r in partition_balance(one_key).collect())
    assert abs(worst - 4.0) < 1e-6


_tbl_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),            # key
        st.sampled_from(["p0", "p1", "p2"]),               # partition
        st.integers(min_value=-9, max_value=9),
    ),
    min_size=1,
    max_size=15,
)


@given(tgt=_tbl_rows, src=_tbl_rows, sync=st.booleans())
@_SETTINGS
def test_tx_merge_fuzz(spark, tmp_path_factory, tgt, src, sync):
    """Partitioned `tx_merge` ≡ a Python model of its table-wide
    semantics: update-all + insert always; by-source deletes (sync) apply
    to the WHOLE table; a matched key may move to another partition (the
    key scan retires its old copy). Keys are deduped last-write-wins to
    satisfy the unique-source precondition."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_merge,
        tx_overwrite,
        tx_read,
    )

    tgt_d = {k: (p, v) for k, p, v in tgt}
    src_d = {k: (p, v) for k, p, v in src}

    path = str(tmp_path_factory.mktemp("mfz")) + "/t"
    tx_overwrite(
        spark.createDataFrame(
            [(k, p, v) for k, (p, v) in tgt_d.items()],
            "k int, part string, v int",
        ),
        path,
        partition_by=["part"],
    )
    source = spark.createDataFrame(
        [(k, p, v) for k, (p, v) in src_d.items()], "k int, part string, v int"
    )
    tx_merge(
        spark, path, source, ["k"], partition_by=["part"],
        when_not_matched_by_source_delete=F.lit(True) if sync else None,
    )

    got = sorted((r.k, r.part, r.v) for r in tx_read(spark, path).collect())

    out = {} if sync else dict(tgt_d)  # sync: unmatched target rows go
    out.update(src_d)                  # matched update-all (may move) + insert
    want = sorted((k, p, v) for k, (p, v) in out.items())
    assert got == want


_tx_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),  # id
        st.integers(min_value=0, max_value=3),                           # g
    ),
    min_size=1,
    max_size=50,
)
_tx_pred = st.lists(
    st.tuples(
        st.sampled_from(["id", "g"]),
        st.sampled_from(["=", "<", "<=", ">", ">=", "in", "is_null", "not_null"]),
        st.integers(min_value=-6, max_value=6),
    ),
    min_size=1,
    max_size=2,
)


@given(rows=_tx_rows, preds=_tx_pred, partitioned=st.booleans())
@_SETTINGS
def test_tx_predicate_read_matches_python_model(
    spark, tmp_path_factory, rows, preds, partitioned
):
    """`tx_read(predicate=...)` ≡ a Python 3VL filter model, for the FULL
    predicate language {=,<,<=,>,>=,in,is_null,not_null} over random
    multi-file tables — hive-partitioned or stats-pruned layouts alike.
    Pruning is proof-based, so whatever files it skips must never change
    the answer; NULLs follow SQL comparison semantics (a NULL id matches
    nothing except is_null). This same proof machinery backs
    serializable-isolation append checks, so its soundness is
    load-bearing twice."""
    from weather_data_warehouse_aws_spark.operators.txlog import (
        tx_append,
        tx_read,
    )

    t = str(tmp_path_factory.mktemp("txprop")) + "/t"
    df = spark.createDataFrame(rows, "id int, g int")
    pby = ["g"] if partitioned else None
    half = max(1, len(rows) // 2)
    tx_append(
        spark.createDataFrame(rows[:half], "id int, g int"), t,
        partition_by=pby,
    )
    if rows[half:]:
        tx_append(
            spark.createDataFrame(rows[half:], "id int, g int"), t,
            partition_by=pby,
        )

    # normalize op → (op, value) the way a caller would pass it
    predicate = []
    for col, op, v in preds:
        if op == "in":
            predicate.append((col, op, [v, v + 1, None]))
        elif op in ("is_null", "not_null"):
            predicate.append((col, op, None))
        else:
            predicate.append((col, op, v))

    def keep(row):
        vals = {"id": row[0], "g": row[1]}
        for col, op, v in predicate:
            x = vals[col]
            if op == "is_null":
                ok = x is None
            elif op == "not_null":
                ok = x is not None
            elif op == "in":
                ok = x is not None and x in [m for m in v if m is not None]
            else:
                if x is None:
                    ok = False
                else:
                    ok = {"=": x == v, "<": x < v, "<=": x <= v,
                          ">": x > v, ">=": x >= v}[op]
            if not ok:
                return False
        return True

    got = sorted(
        ((r.id, r.g) for r in tx_read(spark, t, predicate=predicate).collect()),
        key=str,
    )
    want = sorted((r for r in rows if keep(r)), key=str)
    assert got == want
