"""Batch MERGE INTO: the lakehouse upsert as a pure DataFrame transform.

The reference documents SCD2 "expire + insert" merge logic it never wrote
(`build_dimensions.py:96-97`); `operators/scd2.py` implements that
history-keeping variant. This module is the OTHER merge users reach for —
the Delta-Lake/`MERGE INTO`-shaped current-state upsert: one keyed pass that
updates matched rows, deletes matched rows meeting a condition, inserts
unmatched source rows, and optionally deletes target rows absent from the
source (the full WHEN MATCHED / WHEN NOT MATCHED / WHEN NOT MATCHED BY
SOURCE clause matrix of ANSI SQL:2003 MERGE).

Plan shape (the 100 TB contract):
* ONE full-outer equi-join on the merge keys — a single shuffle of each
  side keyed exactly like the join; no per-clause passes, no driver loops.
  With a small source (the common CDC-batch case) Catalyst turns the probe
  into a broadcast under AQE thresholds.
* Clause arbitration is columnar CASE logic inside the join's project —
  whole-stage-codegen, zero Python.
* The ambiguity tripwire (multiple source rows for one key would make the
  merge nondeterministic — Delta raises here too) is folded into the plan
  as a window count over the source's join shuffle, surfacing via
  `raise_error` at action time; no extra eager scan.

Writing the merged state back to a table is `operators/txlog.py::tx_merge`:
it runs this transform over only the live files that can hold a matched
key and commits the rewrite atomically (the streaming upsert sink,
`streaming/jobs.py::run_upsert_foreachbatch`, and `tx merge` ride it).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["merge_into"]


def _guard_duplicate_keys(source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Tripwire riding the plan (no eager pre-scan): raises at action time
    if any merge key has >1 source row — MERGE would be nondeterministic."""
    if "__mrg_guard" in source.columns:
        # withColumn would silently REPLACE (then drop) a user column of
        # this name — refuse up front, mirroring merge_into's reserved-
        # name check, so the first-write path can't eat data either
        raise ValueError("merge_into: reserved column names in input: ['__mrg_guard']")
    w = Window.partitionBy(*list(keys))
    guard = F.when(
        F.count(F.lit(1)).over(w) > 1,
        F.raise_error(
            F.concat(
                F.lit("merge_into: multiple source rows for merge key ("),
                F.concat_ws(", ", *[F.col(k).cast("string") for k in keys]),
                F.lit(") — MERGE would be nondeterministic; dedupe the "
                      "source (dedup_latest) first."),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return source.withColumn("__mrg_guard", guard).filter("__mrg_guard").drop(
        "__mrg_guard"
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    *,
    when_matched_update: Mapping[str, Column] | str | None = "all",
    when_matched_delete: Column | None = None,
    when_not_matched_insert: bool | Column = True,
    when_not_matched_by_source_delete: Column | None = None,
    check_duplicate_source_keys: bool = True,
    null_safe_keys: bool = False,
) -> DataFrame:
    """Merge `source` into `target` on `keys`; returns the post-merge state
    with exactly `target`'s columns.

    `null_safe_keys=True` matches keys with SQL's `<=>` (NULL = NULL), the
    semantics a MERGE whose ON clause is written with null-safe equality
    has: a NULL-keyed target row and a NULL-keyed source row are ONE match
    (update/delete applies) instead of an unrelated keep + insert pair.
    Required whenever keys can be NULL and the merge must stay keyed —
    e.g. maintaining a grouped aggregate where a group key is NULL. The
    default (False) is ANSI MERGE `=`: NULL keys never match.

    Clause order follows SQL MERGE: for a matched key, the DELETE condition
    is tested first (over the source row's image), then UPDATE applies;
    `when_matched_update="all"` overwrites every shared non-key column,
    a mapping updates only those columns (expressions over the joined row:
    reference source columns as ``__src_<col>`` and target columns by name),
    None keeps matched rows unchanged. Unmatched source rows insert when
    `when_not_matched_insert` (source must then carry every target column);
    a Column makes the insert CONDITIONAL — SQL's `WHEN NOT MATCHED AND
    <cond> THEN INSERT` — evaluated over the joined row (source columns as
    ``__src_<col>``); unmatched rows failing it are dropped, NULL = no fire;
    target rows with no source match are kept unless
    `when_not_matched_by_source_delete` (a predicate over the target row)
    says otherwise — `F.lit(True)` makes the merge a full snapshot replace.

    Duplicate source keys make MERGE nondeterministic, so (like Delta) they
    raise — at action time, via a guard expression riding the join shuffle,
    not an eager pre-scan.
    """
    keys = list(keys)
    ins_cond: Column | None = None
    if isinstance(when_not_matched_insert, Column):
        ins_cond = when_not_matched_insert
        when_not_matched_insert = True
    t_cols = target.columns
    non_key = [c for c in t_cols if c not in keys]
    missing = [c for c in keys if c not in source.columns]
    if missing:
        raise ValueError(f"merge_into: source lacks key columns {missing}")
    if when_not_matched_insert:
        lacking = [c for c in t_cols if c not in source.columns]
        if lacking:
            raise ValueError(
                "merge_into: when_not_matched_insert needs every target "
                f"column in the source; missing {lacking}"
            )

    generated = {f"__src_{c}" for c in source.columns} | {
        "__src_present", "__tgt_present", "__mrg_guard",
    }
    clash = sorted(generated & (set(t_cols) | set(source.columns)))
    if clash:
        raise ValueError(f"merge_into: reserved column names in input: {clash}")

    src = source
    if check_duplicate_source_keys:
        src = _guard_duplicate_keys(src, keys)

    # prefix-rename source payload so the joined row is unambiguous
    tgt = target.withColumn("__tgt_present", F.lit(True))
    if null_safe_keys:
        # keys rename too: the join is an explicit <=> condition, not a
        # USING join, so both sides' key columns survive into the row
        src = src.select(
            *[F.col(k).alias(f"__src_{k}") for k in keys],
            *[
                F.col(c).alias(f"__src_{c}")
                for c in source.columns
                if c not in keys
            ],
            F.lit(True).alias("__src_present"),
        )
        cond = None
        for k in keys:
            term = F.col(k).eqNullSafe(F.col(f"__src_{k}"))
            cond = term if cond is None else cond & term
        joined = tgt.join(src, cond, "full_outer")
    else:
        src = src.select(
            *[F.col(k) for k in keys],
            *[
                F.col(c).alias(f"__src_{c}")
                for c in source.columns
                if c not in keys
            ],
            F.lit(True).alias("__src_present"),
        )
        joined = tgt.join(src, keys, "full_outer")

    matched = F.col("__tgt_present").isNotNull() & F.col("__src_present").isNotNull()
    src_only = F.col("__tgt_present").isNull()
    tgt_only = F.col("__src_present").isNull()

    # ---- row disposition -------------------------------------------------
    # SQL MERGE three-valued logic: a NULL clause predicate means the
    # clause does NOT fire — coalesce to false, or `filter(~NULL)` would
    # silently DROP the row instead of keeping it
    delete = F.lit(False)
    if when_matched_delete is not None:
        delete = delete | (matched & F.coalesce(when_matched_delete, F.lit(False)))
    if when_not_matched_by_source_delete is not None:
        delete = delete | (
            tgt_only & F.coalesce(when_not_matched_by_source_delete, F.lit(False))
        )
    if not when_not_matched_insert:
        delete = delete | src_only
    elif ins_cond is not None:
        delete = delete | (src_only & ~F.coalesce(ins_cond, F.lit(False)))
    kept = joined.filter(~delete)

    # ---- column assembly -------------------------------------------------
    if when_matched_update == "all":
        upd: Mapping[str, Column] = {
            c: F.col(f"__src_{c}") for c in non_key if f"__src_{c}" in kept.columns
        }
    elif when_matched_update is None:
        upd = {}
    else:
        upd = dict(when_matched_update)

    if null_safe_keys:
        # a src-only row's target-side key is NULL-from-the-join; take
        # the source image (coalesce would corrupt a genuine NULL key)
        out_cols: list[Column] = [
            F.when(src_only, F.col(f"__src_{k}")).otherwise(F.col(k)).alias(k)
            for k in keys
        ]
    else:
        out_cols = [F.col(k).alias(k) for k in keys]
    for c in non_key:
        src_img = (
            F.col(f"__src_{c}") if f"__src_{c}" in kept.columns else F.lit(None)
        )
        expr = F.col(c)
        if c in upd:
            expr = F.when(matched, upd[c]).otherwise(expr)
        expr = F.when(src_only, src_img).otherwise(expr)
        out_cols.append(expr.alias(c))
    return kept.select(*out_cols)

