"""End-to-end pipeline driver (replaces Lambda→Glue→Glue chaining, M3).

The reference chains jobs via a fire-and-forget Glue trigger
(`weather_extractor_lambda.py:82-90,132-133`); here one function runs the
stages in order against a local warehouse directory:

    bronze JSON  →  silver parquet (partitioned)  →  gold dims  →  fact views

Silver AND gold tables live on the TRANSACTION LOG
(`operators/txlog.py`): every refresh/ingest is one atomic commit,
concurrent readers keep their snapshot through a mid-write crash or
race, the pre-refresh state stays time-travelable
(`tx_read(..., version=v)`), and a bad load rolls back with `tx_restore`.
This makes the reference's M4 class of bug (non-idempotent re-runs,
`bronze_to_silver.py:114-117`) impossible by construction across the
whole warehouse: silver re-ingest is a `tx_replace_partitions` swap of
exactly the dates the batch wrote (hive layout and date pruning
unchanged — the log records `col=value/` relpaths), gold refresh is
`tx_overwrite`.

Cross-table consistency: the gold tables commit to SEPARATE logs, so a
reader arriving between commits could join the new `dim_location` to the
pre-refresh fact. `run_pipeline` therefore publishes a snapshot manifest
(atomic PUT through the table format's DataStore seam — rename on
POSIX, per-key atomic PUT on an object store) recording every table's
committed version AFTER the last commit, and `read_gold_snapshot` pins
all reads `as_of` those versions — one coherent generation, always, on
whatever storage the tables live on.

Generation reuse: `run_pipeline` reads each table back at the exact
version it committed and records those frames, per SparkSession and
warehouse, as the published generation. While the manifest still names
that generation, `read_gold_snapshot` hands out the recorded frames
instead of rebuilding five file-list relations per call — a dashboard's
panels all read one generation between loads.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txlog import (
    _partition_values,
    get_data_store,
    tx_exists,
    tx_overwrite,
    tx_read,
    tx_snapshot,
)
from ..session import ensure_session_conf
from .gold import build_dim_date, build_dim_location
from .silver import build_silver_current, build_silver_forecast, read_bronze, write_silver_tx
from .views import register_fact_views


def run_pipeline(
    spark: SparkSession,
    bronze_dir: str,
    warehouse_dir: str,
    *,
    effective_date: _dt.date | None = None,
    now: _dt.datetime | None = None,
    dim_date_range: tuple[str, str] = ("2024-01-01", "2026-12-31"),
) -> dict[str, DataFrame]:
    """Run bronze→silver→gold→views; returns all layer DataFrames."""
    ensure_session_conf(spark)

    batch_current = build_silver_current(read_bronze(spark, bronze_dir, "current"))
    batch_forecast = build_silver_forecast(read_bronze(spark, bronze_dir, "forecast"))

    cur_path = os.path.join(warehouse_dir, "silver", "current_weather")
    fc_path = os.path.join(warehouse_dir, "silver", "forecast_weather")
    # idempotent AND atomic by construction (M4 fix): re-running a day
    # swaps that day's rows in one commit; a crash mid-write leaves the
    # previous version live (see write_silver_tx)
    versions: dict[str, int] = {}
    cur = write_silver_tx(batch_current, cur_path, "observation_date")
    versions["silver_current"] = cur["version"]
    versions["silver_forecast"] = write_silver_tx(
        batch_forecast, fc_path, "forecast_created_date"
    )["version"]
    # read back at the versions THIS run committed, never "latest": the
    # frames become the published generation (see _record_generation)
    silver_current = tx_read(spark, cur_path, version=versions["silver_current"])
    silver_forecast = tx_read(spark, fc_path, version=versions["silver_forecast"])

    dim_location_path = os.path.join(warehouse_dir, "gold", "dim_location")
    # no-log-yet → first run → initial load (reference build_dimensions.py:
    # 52-58). The SCD2 merge READS the existing dim while tx_overwrite
    # WRITES its replacement — safe without any stage/swap dance because
    # data files are immutable: the new files land beside the old ones and
    # one commit swaps the live set (the old stage-then-double-write path
    # this replaces cost an extra full write per refresh)
    existing = (
        tx_read(spark, dim_location_path) if tx_exists(dim_location_path) else None
    )
    # the SCD2 updates are THIS batch's locations (latest observation per
    # key, see distinct_locations) — the whole silver history would carry
    # every past attribute value of a key and trip scd2_merge's
    # duplicate-key guard on the first tracked change. The batch's rows
    # are read back from the partitions the silver commit replaced: the
    # same rows as `batch_current`, without parsing the bronze JSON and
    # redoing its dedup shuffle a second time.
    dim_location = build_dim_location(
        silver_current.filter(_in_partitions("observation_date", cur["partitions"])),
        existing, effective_date=effective_date, now=now,
    )
    versions["dim_location"] = tx_overwrite(dim_location, dim_location_path)
    dim_location = tx_read(spark, dim_location_path, version=versions["dim_location"])

    # the spine covers the configured range AND every date the silver
    # tables hold: the facts inner-join dim_date, so a date outside the
    # spine would silently drop its fact rows. Committed on every load
    # (every manifest table advances one version per load).
    dim_date = build_dim_date(spark, *_date_span(dim_date_range, [
        (cur_path, versions["silver_current"], silver_current, "observation_date"),
        (fc_path, versions["silver_forecast"], silver_forecast, "forecast_created_date"),
        (fc_path, versions["silver_forecast"], silver_forecast, "forecast_for_date"),
    ]))
    dim_date_path = os.path.join(warehouse_dir, "gold", "dim_date")
    versions["dim_date"] = tx_overwrite(dim_date, dim_date_path)
    dim_date = tx_read(spark, dim_date_path, version=versions["dim_date"])

    facts = register_fact_views(spark, silver_current, silver_forecast, dim_location, dim_date)
    # materialize the accuracy fact — the reference recomputes its band join
    # inside every query (views inlined by Athena); we pay it once per load.
    # `forecast_for_date` rides along so incremental maintenance
    # (pipeline/incremental.py::rebuild_accuracy_tx) can replace affected
    # date ranges with tx_replace_where instead of full recomputes.
    acc_path = os.path.join(warehouse_dir, "gold", "fact_forecast_accuracy")
    # hive-partitioned ON the log: the log-relative paths carry the date,
    # so incremental range maintenance (tx_replace_where) and date-sliced
    # reads prune files EXACTLY — at 100 TB the difference between a
    # full-fact scan and opening the affected days
    versions["fact_forecast_accuracy"] = tx_overwrite(
        facts["fact_forecast_accuracy"].withColumn(
            "forecast_for_date", F.to_date("forecast_for_time")
        ),
        acc_path,
        partition_by=["forecast_for_date"],
    )
    facts["fact_forecast_accuracy"] = tx_read(
        spark, acc_path, version=versions["fact_forecast_accuracy"]
    )
    facts["fact_forecast_accuracy"].createOrReplaceTempView("fact_forecast_accuracy")

    # publish the generation: THIS run's committed versions (never
    # re-read from the logs — a concurrent run's later commit would leak
    # in as a mixed generation), swapped in atomically AFTER the last
    # commit — read_gold_snapshot pins to this
    published = _publish_snapshot_manifest(warehouse_dir, versions)
    layers = {
        "silver_current": silver_current,
        "silver_forecast": silver_forecast,
        "dim_location": dim_location,
        "dim_date": dim_date,
        **facts,
    }
    _record_generation(spark, warehouse_dir, published, layers)
    return layers


def _in_partitions(col: str, values: list[str | None]):
    """Filter selecting the raw hive partition values `values` of DATE
    column `col` (None is the NULL partition) — a partition filter, so
    the scan opens only those directories."""
    days = [_dt.date.fromisoformat(v) for v in values if v is not None]
    cond = F.col(col).isin(days) if days else F.lit(False)
    return cond | F.col(col).isNull() if None in values else cond


def _date_bounds(snap: dict, col: str) -> list[str] | None:
    """ISO dates bounding DATE column `col` over one snapshot's live
    files, read from metadata only: each file's own partition value when
    its path carries `col`, its footer min/max otherwise (an all-NULL
    file bounds nothing). None when some file proves neither."""
    phys = (snap.get("column_map") or {}).get(col, col)
    out: list[str] = []
    for rel in snap["files"]:
        pv = _partition_values(rel)
        if phys in pv:
            out += [pv[phys]] if pv[phys] is not None else []
            continue
        st = snap["stats"].get(rel) or {}
        cs = st.get("cols", {}).get(phys)
        if cs is not None and len(cs) > 3 and cs[0] is not None:
            out += [cs[0], cs[1]]
        elif cs is None or cs[2] is None or cs[2] != st.get("rows"):
            return None
    return out


def _date_span(
    default: tuple[str, str], sources: list[tuple[str, int | None, DataFrame, str]]
) -> tuple[str, str]:
    """`default` widened to every date of each (table path, version, frame,
    DATE column) source. Bounds come from the log's metadata; a source
    whose files lack them is aggregated instead (one Spark job)."""
    dates = list(default)
    for path, version, frame, col in sources:
        bounds = _date_bounds(tx_snapshot(path, version), col)
        if bounds is None:
            row = frame.agg(F.min(col).cast("string"), F.max(col).cast("string")).first()
            bounds = [d for d in row if d is not None]
        dates += bounds
    return min(dates), max(dates)


SNAPSHOT_TABLES = {
    "silver_current": ("silver", "current_weather"),
    "silver_forecast": ("silver", "forecast_weather"),
    "dim_location": ("gold", "dim_location"),
    "dim_date": ("gold", "dim_date"),
    "fact_forecast_accuracy": ("gold", "fact_forecast_accuracy"),
}


_SNAPSHOT_REL = "_snapshot.json"


def _manifest_root(warehouse_dir: str) -> str:
    """The manifest's storage root (the gold layer dir) — resolved through
    the same DataStore routing as the tables it points at, so on an
    object-store deployment the cross-table consistency point lives in
    the bucket alongside the gold tx tables, not on driver-local POSIX."""
    return os.path.join(warehouse_dir, "gold")


def _publish_snapshot_manifest(
    warehouse_dir: str, versions: dict[str, int]
) -> dict[str, int]:
    """Record {table: committed version} for one pipeline run and swap it
    in with one atomic PUT through the DataStore seam (`put_atomic` —
    rename on POSIX, per-key atomic PUT on an object store) — the
    cross-table read-consistency point. Published only after EVERY
    table's commit, and only with the versions THE CALLER committed
    (re-reading the logs here would race a concurrent run and publish a
    mixed generation)."""
    versions = {n: v for n, v in versions.items() if v is not None}
    root = _manifest_root(warehouse_dir)
    get_data_store(root).put_atomic(root, _SNAPSHOT_REL, json.dumps(versions))
    return versions


class _Generation(NamedTuple):
    versions: dict[str, int]
    files: dict[str, int]  # table -> hash of its live file list at that version
    frames: dict[str, DataFrame]


# Per-session record of the generation each warehouse last published
# from this process: {warehouse key: _Generation}, latest only. Same idiom
# as sources/tables.py::_PLAN_CACHE — the frames are immutable plans
# pinned to exact versions, and NO data is cached (every action still
# scans the files). WeakKey so a retired session's entries die with it.
_GENERATIONS: "weakref.WeakKeyDictionary[SparkSession, dict[str, _Generation]]" = (
    weakref.WeakKeyDictionary()
)


def _warehouse_key(warehouse_dir: str) -> str:
    return warehouse_dir if "://" in warehouse_dir else os.path.abspath(warehouse_dir)


def _table_path(warehouse_dir: str, name: str) -> str:
    return os.path.join(warehouse_dir, *SNAPSHOT_TABLES[name])


def _files_id(warehouse_dir: str, name: str, version: int) -> int:
    """Identity of one table version's live file set. Data file names are
    unique, so a warehouse deleted and rebuilt to the same version numbers
    reads as a different generation. Resolving the snapshot also applies
    the vacuum-horizon check: a vacuumed version raises here."""
    return hash(tuple(tx_snapshot(_table_path(warehouse_dir, name), version)["files"]))


def _record_generation(
    spark: SparkSession,
    warehouse_dir: str,
    versions: dict[str, int],
    layers: dict[str, DataFrame],
) -> None:
    _GENERATIONS.setdefault(spark, {})[_warehouse_key(warehouse_dir)] = _Generation(
        versions=dict(versions),
        files={n: _files_id(warehouse_dir, n, v) for n, v in versions.items()},
        frames={n: layers[n] for n in versions},
    )


def read_gold_snapshot(
    spark: SparkSession, warehouse_dir: str
) -> dict[str, DataFrame]:
    """Read ONE coherent warehouse generation: every table pinned `as_of`
    the version the last completed `run_pipeline` published in the
    snapshot manifest. A reader holding these DataFrames through a
    concurrent refresh can never join the new `dim_location` to the
    pre-refresh fact (or vice versa) — the mixed-generation anomaly that
    separate per-table logs (and the reference's separate Glue jobs)
    otherwise allow. Returns the tables plus a `"versions"` dict entry.

    The manifest is read on every call. While it names the generation
    this session's last `run_pipeline` on the warehouse recorded, the
    recorded frames are returned (after each table's snapshot is resolved
    again, so a vacuumed version still raises); any other generation, or
    another session, reads every table from its log."""
    root = _manifest_root(warehouse_dir)
    with get_data_store(root).open_input(root, _SNAPSHOT_REL) as fh:
        versions: dict[str, int] = json.load(fh)
    gen = _GENERATIONS.get(spark, {}).get(_warehouse_key(warehouse_dir))
    if gen is not None and gen.versions == versions and all(
        _files_id(warehouse_dir, n, v) == gen.files[n] for n, v in versions.items()
    ):
        out: dict = dict(gen.frames)
    else:
        out = {
            name: tx_read(spark, _table_path(warehouse_dir, name), version=v)
            for name, v in versions.items()
        }
    out["versions"] = versions
    return out
