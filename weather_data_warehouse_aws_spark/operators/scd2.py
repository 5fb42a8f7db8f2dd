"""SCD Type 2 dimension maintenance — SURVEY.md §2.9 X5.

The reference *documents* a full SCD2 dimension (`README.md:17,147,292`) and
carries the columns for it (`build_dimensions.py:70-91`: effective_from_date,
effective_to_date='9999-12-31', is_current, version, audit timestamps), but
only implements the initial load — on any later run it prints "Dimension
exists, no updates needed" (`build_dimensions.py:96-97`). This module
implements the real merge:

  for each natural key in the update snapshot
    - tracked attributes unchanged → keep the current row
    - changed → EXPIRE the current row (effective_to_date = effective_date,
      is_current=false, updated_timestamp=now) and INSERT version+1
    - unseen natural key → INSERT version 1
  historical (already-expired) rows pass through untouched; keys absent from
  the snapshot remain current (the reference domain has no deletes).

Scale: one pass — the existing rows and the snapshot go into one tagged
union, one window over the natural key pairs each row with its partner,
and each input row yields at most one output row; no join, no union of
filtered copies, no driver round-trip. Surrogate keys: `hash` strategy
(xxhash64 of natural key + version) partitions the merge on the natural
key, so nothing breaks past broadcast size — the 100 TB default. `dense`
reproduces the reference's row_number-style compact keys; it needs a
global order and the global max key, so the whole merge runs in one
partition (the max folds into the plan as a window, and the union is
coalesced so no window shuffles) — dimension-sized by contract.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

HIGH_DATE = "9999-12-31"


def _qid(name: str) -> str:
    """Backtick-quote an identifier for interpolation into parsed SQL.
    Embedded backticks are escaped (`` is a literal ` inside quotes), so a
    caller-supplied column name can never break out of the identifier —
    the Column-API immunity the parsed-string spelling must preserve."""
    return f"`{name.replace('`', '``')}`"


def scd2_initial_load(
    updates: DataFrame,
    natural_key: Sequence[str],
    key_col: str = "location_key",
    *,
    effective_date: _dt.date | None = None,
    now: _dt.datetime | None = None,
    key_strategy: str = "dense",
) -> DataFrame:
    """First load of an SCD2 dim — parity with `build_dimensions.py:63-94`."""
    eff = F.lit(effective_date) if effective_date else F.current_date()
    now_ts = F.lit(now) if now else F.current_timestamp()

    if key_strategy == "dense":
        w = Window.orderBy(*natural_key)
        keyed = updates.withColumn(key_col, F.row_number().over(w))
    elif key_strategy == "hash":
        keyed = updates.withColumn(key_col, F.xxhash64(*natural_key, F.lit(1)))
    else:
        raise ValueError(f"unknown key_strategy: {key_strategy}")

    return (
        keyed.withColumn("effective_from_date", eff.cast("date"))
        .withColumn("effective_to_date", F.lit(HIGH_DATE).cast("date"))
        .withColumn("is_current", F.lit(True))
        .withColumn("version", F.lit(1))
        .withColumn("created_timestamp", now_ts.cast("timestamp"))
        .withColumn("updated_timestamp", now_ts.cast("timestamp"))
    )


def scd2_merge(
    existing: DataFrame,
    updates: DataFrame,
    natural_key: Sequence[str],
    tracked: Sequence[str],
    key_col: str = "location_key",
    *,
    effective_date: _dt.date | None = None,
    now: _dt.datetime | None = None,
    key_strategy: str = "dense",
) -> DataFrame:
    """Merge an attribute snapshot into an SCD2 dimension (see module doc).

    `updates` must carry the natural key plus every non-SCD attribute column
    of `existing`. Returns the full new dimension with `existing`'s column
    order.

    One pass: every existing row and every update row go into one tagged
    union; a window over the natural key hands each row its partner (an
    update row sees the key's current row, a current row sees the key's
    update), and each input row then yields at most one output row —
    history passes through, a current row is kept or expired, an update
    row is inserted when its key is new or changed and dropped otherwise.
    A NULL key component never matches (SQL join semantics): NULL-key
    update rows and NULL-key existing rows fall in separate windows.
    """
    if key_strategy not in ("dense", "hash"):
        raise ValueError(f"unknown key_strategy: {key_strategy}")
    scd_cols = {
        key_col,
        "effective_from_date",
        "effective_to_date",
        "is_current",
        "version",
        "created_timestamp",
        "updated_timestamp",
    }
    attr_cols = [c for c in existing.columns if c not in scd_cols and c not in natural_key]
    missing = [c for c in attr_cols if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing attribute columns: {missing}")
    untracked = [t for t in tracked if t not in attr_cols]
    if untracked:
        raise ValueError(f"tracked columns are not attribute columns: {untracked}")

    # SQL snippets for the effective/now stamps: the whole merge plan is
    # built from parsed selectExpr strings (ONE py4j round-trip per
    # select instead of several per COLUMN — ~1s of serial driver
    # latency per merge call at any cluster size, measured; identical
    # expressions, identical plans)
    eff_sql = (
        f"DATE'{effective_date.isoformat()}'"
        if effective_date
        else "CAST(current_date() AS DATE)"
    )
    now_sql = (
        f"CAST(TIMESTAMP'{now.isoformat(sep=' ')}' AS TIMESTAMP)"
        if now
        else "CAST(current_timestamp() AS TIMESTAMP)"
    )
    high = f"DATE'{HIGH_DATE}'"
    nk = [_qid(k) for k in natural_key]
    key = _qid(key_col)
    dense = key_strategy == "dense"

    tagged = existing.selectExpr("*", "FALSE AS __scd2_upd").unionByName(
        updates.selectExpr(*nk, *[_qid(c) for c in attr_cols], "TRUE AS __scd2_upd"),
        allowMissingColumns=True,
    )
    if dense:
        # compact keys need a global order and the global max key, so the
        # merge runs in ONE partition — dimension-sized by the strategy's
        # contract — and every window below is satisfied without a shuffle
        tagged = tagged.coalesce(1)

    # partner windows: one per natural key, NULL-key rows split by side
    null_key = " OR ".join(f"{k} IS NULL" for k in nk)
    w = f"PARTITION BY {', '.join(nk)}, CASE WHEN {null_key} THEN __scd2_upd END"
    attrs = "".join(f", 'a{i}', {_qid(c)}" for i, c in enumerate(attr_cols))
    idx = {c: i for i, c in enumerate(attr_cols)}

    def changed(partner: str) -> str:
        return " OR ".join(
            f"NOT ({_qid(t)} <=> {partner}.a{idx[t]})" for t in tracked
        ) or "FALSE"

    # snapshot-uniqueness guard, in the plan: a duplicate natural key in
    # `updates` would insert two current rows for one key. It rides the
    # filter below, so Catalyst cannot prune it away.
    nk_str = ", ".join(f"CAST({k} AS STRING)" for k in nk)
    guard = f"""CAST(raise_error(concat(
        'scd2_merge: updates snapshot has duplicate rows for natural key (',
        concat_ws(', ', {nk_str}),
        ') — dedup upstream (e.g. dedup_latest)')) AS BOOLEAN)"""
    paired = tagged.selectExpr(
        "*",
        f"first(CASE WHEN NOT __scd2_upd AND is_current "
        f"THEN named_struct('v', version{attrs}) END, TRUE) OVER ({w}) AS __scd2_c",
        f"first(CASE WHEN __scd2_upd THEN named_struct('x', TRUE{attrs}) END, TRUE) "
        f"OVER ({w}) AS __scd2_u",
        f"count(CASE WHEN __scd2_upd THEN 1 END) OVER ({w}) AS __scd2_n",
        *([f"coalesce(max({key}) OVER (), 0) AS __scd2_max"] if dense else []),
    ).filter(
        f"""CASE WHEN __scd2_n > 1 THEN {guard}
            WHEN __scd2_upd THEN __scd2_c IS NULL OR {changed('__scd2_c')}
            ELSE is_current IS NOT NULL END"""
    )

    # kept = unchanged matches PLUS current rows absent from the snapshot —
    # absent keys remain current (partial snapshots must not drop dimension
    # rows; the reference domain has no deletes). Compact keys continue
    # from the existing max in natural-key order.
    expire = f"(__scd2_u IS NOT NULL AND ({changed('__scd2_u')}))"
    version = "coalesce(__scd2_c.v, 0) + 1"
    new_key = (
        f"row_number() OVER (PARTITION BY __scd2_upd ORDER BY {', '.join(nk)})"
        " + __scd2_max"
        if dense
        else f"xxhash64({', '.join(nk)}, {version})"
    )
    out = paired.selectExpr(
        f"CASE WHEN __scd2_upd THEN {new_key} ELSE {key} END AS {key}",
        *nk,
        *[_qid(c) for c in attr_cols],
        f"CASE WHEN __scd2_upd THEN {eff_sql} ELSE effective_from_date END"
        " AS effective_from_date",
        f"""CASE WHEN __scd2_upd THEN {high}
            WHEN NOT is_current THEN effective_to_date
            WHEN {expire} THEN {eff_sql} ELSE {high} END AS effective_to_date""",
        f"__scd2_upd OR (is_current AND NOT {expire}) AS is_current",
        f"CASE WHEN __scd2_upd THEN {version} ELSE version END AS version",
        f"CASE WHEN __scd2_upd THEN {now_sql} ELSE created_timestamp END"
        " AS created_timestamp",
        f"""CASE WHEN __scd2_upd THEN {now_sql}
            WHEN NOT is_current THEN updated_timestamp
            WHEN {expire} THEN {now_sql} ELSE created_timestamp END
            AS updated_timestamp""",
    )
    return out.select(existing.columns)


def inferred_members(
    facts: DataFrame,
    dim: DataFrame,
    natural_key: Sequence[str],
    key_col: str = "location_key",
    *,
    effective_date: _dt.date | None = None,
    now: _dt.datetime | None = None,
) -> DataFrame:
    """Late-arriving dimension handling (Kimball's "inferred members"):
    fact rows can reference natural keys the dimension hasn't loaded yet —
    dropping them loses facts, inner-joining delays the pipeline. The
    standard fix is to insert PLACEHOLDER current rows for the unknown keys
    (attributes null, `is_inferred` = true) so facts join immediately;
    the next real attribute snapshot expires the placeholder through the
    ordinary `scd2_merge` (null attrs ≠ real attrs ⇒ changed ⇒ expire +
    insert version 2), leaving full history.

    Plan: distinct fact keys (one shuffle of the key columns only) →
    left-anti join against current dim rows (dims broadcast) → placeholder
    rows unioned on. Surrogate keys are the map-side xxhash64 of
    (natural_key, version) — no window, no driver round-trip. Returns the
    dimension with placeholders appended and an `is_inferred` column
    (false for pre-existing rows if absent)."""
    eff = (F.lit(effective_date) if effective_date else F.current_date()).cast("date")
    now_ts = (F.lit(now) if now else F.current_timestamp()).cast("timestamp")

    base = (
        dim
        if "is_inferred" in dim.columns
        else dim.withColumn("is_inferred", F.lit(False))
    )
    current_keys = base.filter(F.col("is_current")).select(*natural_key)
    # a NULL natural-key component has no member identity — and the anti
    # join's NULL = NULL never matches, so a NULL-key placeholder would be
    # re-inserted on EVERY run (unbounded duplicate current rows). Such
    # fact rows belong in a DQ quarantine, not the dimension.
    key_known = None
    for k in natural_key:
        term = F.col(k).isNotNull()
        key_known = term if key_known is None else key_known & term
    unknown = (
        facts.select(*natural_key)
        .filter(key_known)
        .distinct()
        .join(F.broadcast(current_keys), list(natural_key), "left_anti")
    )
    attr_cols = [c for c in base.columns if c not in set(natural_key) | {
        key_col, "effective_from_date", "effective_to_date", "is_current",
        "version", "created_timestamp", "updated_timestamp", "is_inferred",
    }]
    placeholders = unknown.select(
        *natural_key,
        *[F.lit(None).cast(base.schema[c].dataType).alias(c) for c in attr_cols],
        F.xxhash64(*natural_key, F.lit(1)).alias(key_col),
        eff.alias("effective_from_date"),
        F.lit(HIGH_DATE).cast("date").alias("effective_to_date"),
        F.lit(True).alias("is_current"),
        F.lit(1).alias("version"),
        now_ts.alias("created_timestamp"),
        now_ts.alias("updated_timestamp"),
        F.lit(True).alias("is_inferred"),
    )
    return base.unionByName(placeholders.select(*base.columns))


def dim_as_of(dim: DataFrame, as_of: _dt.date | str) -> DataFrame:
    """Time-travel view of an SCD2 dimension: the attribute row that was
    current on `as_of` (effective_from ≤ as_of < effective_to under the
    half-open convention, with the HIGH_DATE sentinel closing the current
    row). Joining facts to `dim_as_of(dim, d)` reproduces any historical
    report exactly — the query-side payoff of maintaining SCD2 at all.
    Pure filter (map-side, partition-prunable on effective dates)."""
    d = F.lit(as_of).cast("date")
    return dim.filter(
        (F.col("effective_from_date") <= d) & (d < F.col("effective_to_date"))
    )
