"""CLI entry points — `python -m weather_data_warehouse_aws_spark <cmd>`.

A reference user drives their system with a Lambda trigger + two Glue jobs +
Athena console; the equivalent local surface:

    generate   --out DIR [--days N] [--seed N]      synthetic bronze feed
    pipeline   --bronze DIR --warehouse DIR          full batch load
    ingest     --bronze DIR --silver DIR --ckpt DIR  incremental (streaming)
    query      --sf-dir DIR NAME                     run a registry query
    list-queries                                     show the registry
    curate     --docs PATH --out DIR [--eval PATH]   corpus curation run
    index      --table DIR --column COL [--lookup V] per-file Bloom index
    doctor     --table DIR [--skew-col C]            table health report
    snapshot   --warehouse DIR                       pinned coherent read
    tx         {history,read,compact,erase,vacuum,cleanup-log,merge,
                restore,changes,delete,update,manifest,optimize,
                set-constraint,drop-constraint,rename-column,
                drop-column,clone,set-partition-spec,set-generated,
                drop-generated} --table DIR           txlog ops
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="weather_data_warehouse_aws_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a synthetic bronze landing zone")
    g.add_argument("--out", required=True)
    g.add_argument("--days", type=int, default=3)
    g.add_argument("--start", default="2024-01-01")
    g.add_argument("--seed", type=int, default=42)

    p = sub.add_parser("pipeline", help="bronze → silver → gold → facts")
    p.add_argument("--bronze", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument(
        "--source", choices=["files", "weatherfeed"], default="files",
        help="weatherfeed: land the pluggable feed source into --bronze "
        "first (checkpointed stream), then run the batch pipeline over it",
    )
    p.add_argument("--feed-batches", type=int, default=3,
                   help="micro-batches to land when --source weatherfeed")

    i = sub.add_parser("ingest", help="checkpointed incremental bronze→silver")
    i.add_argument("--bronze", required=True)
    i.add_argument("--silver", required=True)
    i.add_argument("--ckpt", required=True)

    q = sub.add_parser("query", help="run one registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list-queries", help="list the query registry")

    c = sub.add_parser(
        "curate", help="clean/gate/dedup/decontaminate/split/pack a corpus"
    )
    c.add_argument("--docs", required=True, help="parquet with doc_id + text")
    c.add_argument("--out", required=True, help="output warehouse dir")
    c.add_argument("--eval", default=None, help="eval-set parquet to decontaminate against")
    c.add_argument("--min-tokens", type=int, default=5)
    c.add_argument("--pack-budget", type=int, default=256)

    ln = sub.add_parser(
        "lint", help="lint a registry query's physical plan for scale hazards"
    )
    ln.add_argument("name")
    ln.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    x = sub.add_parser(
        "index", help="build a per-file Bloom skipping index / probe it"
    )
    x.add_argument("--table", required=True, help="parquet table directory")
    x.add_argument("--column", required=True)
    x.add_argument("--fpr", type=float, default=0.01)
    x.add_argument(
        "--lookup", default=None,
        help="probe instead of build: print candidate files + matching rows",
    )

    dr = sub.add_parser(
        "doctor",
        help="read-only table health report: partition balance and key "
        "skew, index sidecars; on transaction-log tables also "
        "deletion-vector debt + compaction recommendation",
    )
    dr.add_argument("--table", required=True)
    dr.add_argument("--skew-col", default=None, help="report top-5 heavy values")

    sn = sub.add_parser(
        "snapshot",
        help="read the warehouse at the last completed pipeline run's "
        "published generation (every table pinned as_of its manifest "
        "version — cross-table consistent under concurrent refreshes)",
    )
    sn.add_argument("--warehouse", required=True)

    tx = sub.add_parser(
        "tx",
        help="transaction-log table ops: history / read / compact / "
        "erase / vacuum (operators/txlog.py)",
    )
    tx.add_argument(
        "action",
        choices=["history", "read", "compact", "erase", "vacuum", "merge",
                 "restore", "changes", "delete", "update", "manifest",
                 "set-constraint", "drop-constraint", "optimize",
                 "cleanup-log", "rename-column", "drop-column", "clone",
                 "set-partition-spec", "set-generated", "drop-generated"],
    )
    tx.add_argument("--table", required=True, help="txlog table directory")
    tx.add_argument("--version", type=int, default=None, help="time-travel version (read)")
    tx.add_argument("--as-of-ts", dest="as_of_ts", default=None,
                    help="read: TIMESTAMP AS OF — ISO-8601 instant or epoch "
                    "seconds (naive = UTC); resolves to the newest commit at "
                    "or before it (mutually exclusive with --version)")
    tx.add_argument("--target-files", type=int, default=None,
                    help="compact/optimize target file count "
                    "(compact: default 1; optimize: default = cores)")
    tx.add_argument("--sort-by", default=None,
                    help="compact: re-cluster on these comma-separated columns")
    tx.add_argument("--zorder-by", default=None,
                    help="compact: Z-order re-cluster on these columns")
    tx.add_argument("--from-version", type=int, default=None,
                    help="changes: feed covers commits AFTER this version")
    tx.add_argument("--update-images", action="store_true",
                    help="changes: emit update_preimage/update_postimage "
                    "for UPDATE commits and key-resolve MERGE commits "
                    "(carried-over identical rows suppressed)")
    tx.add_argument("--set", dest="set_exprs", action="append", default=None,
                    metavar="COL=EXPR",
                    help="update: one col=SQL-expr assignment (repeatable — "
                    "the expression may contain commas: "
                    "--set \"status=concat(a, b)\" --set n=n+1)")
    tx.add_argument("--columns", default=None,
                    help="set-partition-spec: comma-separated columns for "
                    "FUTURE writes ('' = unpartition); existing files keep "
                    "their layout, reads span eras, compact normalizes")
    tx.add_argument("--name", default=None, help="constraint name")
    tx.add_argument("--expr", default=None,
                    help="set-constraint: SQL CHECK expression; "
                    "set-generated: the generation expression")
    tx.add_argument("--column", default=None, help="erase key column")
    tx.add_argument("--values", default=None, help="comma-separated erase keys")
    tx.add_argument("--retain-versions", type=int, default=1, help="vacuum retention")
    tx.add_argument("--retain-hours", type=float, default=None,
                    help="vacuum: never advance the horizon past commits "
                    "younger than this window (Delta RETAIN n HOURS)")
    tx.add_argument("--dry-run", action="store_true",
                    help="vacuum: report the would-be horizon + file list "
                    "without committing or deleting anything")
    tx.add_argument("--limit", type=int, default=20)
    tx.add_argument(
        "--where",
        default=None,
        help="read predicate 'col OP value' (stats-pruned scan), e.g. "
        "--where 'id >= 100'; value parsed as number when possible",
    )
    tx.add_argument("--source", default=None,
                    help="merge source parquet path / clone source tx table")
    tx.add_argument("--keys", default=None, help="merge keys, comma-separated")
    tx.add_argument("--sync-deletes", action="store_true",
                    help="merge: delete target rows whose key is absent "
                    "from the source (table-wide full sync)")

    mvp = sub.add_parser(
        "mv",
        help="incremental materialized views: create / refresh / read / "
        "status (operators/mv.py)",
    )
    mvp.add_argument("action", choices=["create", "refresh", "read", "status"])
    mvp.add_argument("--table", required=True, help="the view's directory")
    mvp.add_argument("--source", default=None,
                     help="create: the source txlog table")
    mvp.add_argument("--group-by", default=None,
                     help="create: comma-separated group keys")
    mvp.add_argument("--sum", dest="mv_sum", default=None,
                     help="create: comma-separated SUM columns")
    mvp.add_argument("--min", dest="mv_min", default=None,
                     help="create: comma-separated MIN columns")
    mvp.add_argument("--max", dest="mv_max", default=None,
                     help="create: comma-separated MAX columns")
    mvp.add_argument("--filter", default=None,
                     help="create: SQL WHERE predicate over source rows")
    mvp.add_argument("--avg", default=None,
                     help="read: comma-separated AVG columns (must be SUMs)")
    mvp.add_argument("--replace", action="store_true",
                     help="create: redefine an existing view")
    mvp.add_argument("--limit", type=int, default=20, help="read row cap")

    args = parser.parse_args(argv)

    if args.cmd == "generate":
        from .pipeline.generate import generate_bronze

        counts = generate_bronze(
            args.out,
            start=dt.date.fromisoformat(args.start),
            days=args.days,
            seed=args.seed,
        )
        print(f"wrote {counts} batches under {args.out}")
        return 0

    if args.cmd == "list-queries":
        from . import queries as registry

        qs, oracle = registry.collect()
        for name in sorted(qs):
            marker = "oracle" if name in oracle else "rows-only"
            print(f"{name:24s} [{marker}]")
        return 0

    if args.cmd == "mv" and args.action == "status":
        # pure log reads — no SparkSession needed
        from .operators.mv import mv_status

        st = mv_status(args.table)
        stale = st["stale_by"]
        state = ("ORPHANED spec (re-create with --replace)" if stale is None
                 else "current" if stale == 0
                 else f"stale by {stale} commit(s)")
        print(f"source       {st['src']}")
        print(f"watermark    v{st['watermark']}  (source at v{st['src_version']})")
        print(f"state        {state}")
        print(f"definition   {st['spec']}")
        return 0

    if args.cmd == "tx" and args.action in (
        "history", "vacuum", "cleanup-log", "rename-column", "drop-column",
    ):
        # pure log/filesystem actions — no SparkSession needed
        from .operators import txlog

        if args.action == "history":
            for rec in txlog.tx_history(args.table):
                extra = f" {rec['meta']}" if rec["meta"] else ""
                print(
                    f"v{rec['version']:>6} {rec['op']:<10} "
                    f"+{rec['n_added']} -{rec['n_removed']}{extra}"
                )
        elif args.action == "rename-column":
            if not args.name or "=" not in args.name:
                print("tx rename-column needs --name old=new",
                      file=sys.stderr)
                return 2
            old, _, new = args.name.partition("=")
            v = txlog.tx_rename_column(args.table, old, new)
            print(f"renamed {old} -> {new} at v{v} (metadata-only — "
                  "zero files rewritten)")
        elif args.action == "drop-column":
            if not args.name:
                print("tx drop-column needs --name", file=sys.stderr)
                return 2
            v = txlog.tx_drop_column(args.table, args.name)
            print(f"dropped {args.name} at v{v} (metadata-only — bytes "
                  "retire at the next rewrite)")
        elif args.action == "cleanup-log":
            res = txlog.tx_cleanup_log(args.table, dry_run=args.dry_run)
            verb = "would delete" if args.dry_run else "deleted"
            if res["floor"] is None:
                print(
                    "nothing safely deletable: the log retention floor "
                    "needs a committed vacuum horizon with a checkpoint "
                    "at-or-below it (run `tx vacuum` first)"
                )
            else:
                print(
                    f"floor v{res['floor']} (horizon v{res['horizon']}); "
                    f"{verb} {res['deleted_commits']} commit(s), "
                    f"{res['deleted_checkpoints']} checkpoint(s) and "
                    f"{res.get('deleted_sidecars', 0)} sidecar part(s)"
                )
        else:
            res = txlog.tx_vacuum(
                args.table, retain_versions=args.retain_versions,
                dry_run=args.dry_run, retain_hours=args.retain_hours,
            )
            verb = "would delete" if args.dry_run else "deleted"
            print(
                f"horizon v{res['horizon']}; {verb} "
                f"{len(res['deleted'])} file(s)"
            )
            if args.dry_run:
                for f in res["deleted"]:
                    print(f"  {f}")
        return 0

    from .session import get_spark

    spark = get_spark("wdwa-cli")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "pipeline":
        from .pipeline.run import run_pipeline

        if args.source == "weatherfeed":
            import os

            from .pipeline.feed_ingest import feed_stream_to_bronze

            n = feed_stream_to_bronze(
                spark, args.bronze,
                os.path.join(args.warehouse, "_feed_ckpt"),
                n_triggers=args.feed_batches,
            )
            print(f"weatherfeed: landed {n} extraction batch(es)")
        layers = run_pipeline(spark, args.bronze, args.warehouse)
        for name, df in layers.items():
            print(f"{name}: {df.count()} rows")
        return 0

    if args.cmd == "ingest":
        from .streaming.ingest import run_silver_ingest

        run_silver_ingest(spark, args.bronze, args.silver, args.ckpt)
        from .operators.txlog import tx_read

        print(f"silver rows: {tx_read(spark, args.silver).count()}")
        return 0

    if args.cmd == "curate":
        import os

        from .pipeline.curate import (
            CurationConfig,
            curate_corpus,
            curation_audit,
            release_curation,
        )

        docs = spark.read.parquet(args.docs)
        ev = spark.read.parquet(args.eval) if args.eval else None
        cfg = CurationConfig(min_tokens=args.min_tokens, pack_budget=args.pack_budget)
        stages = curate_corpus(docs, eval_docs=ev, config=cfg)
        # materialize the user-facing boundaries; intermediate stages stay
        # virtual (their persisted intermediates back these writes)
        for name in ("quarantined", "split", "packed"):
            stages[name].write.mode("overwrite").parquet(os.path.join(args.out, name))
        curation_audit(stages).show(truncate=False)
        release_curation(stages)
        return 0

    if args.cmd == "lint":
        from . import queries as registry
        from .plans.lint import lint_report

        qs, _ = registry.collect()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
            return 2
        print(lint_report(qs[args.name](spark, args.sf_dir)))
        return 0

    if args.cmd == "index":
        from .operators.file_index import (
            _table_df,
            build_bloom_index,
            prune_files,
            read_with_index,
        )

        if args.lookup is None:
            idx = build_bloom_index(spark, args.table, args.column, fpr=args.fpr)
            print(f"indexed {idx.count()} files on {args.column}")
            return 0
        # parse the lookup literal with the column's own type (the logged
        # schema on a tx table: physical footers may carry a mapped name)
        dtype = _table_df(spark, args.table).schema[args.column].dataType
        value: object = args.lookup
        if dtype.simpleString() in ("bigint", "int", "smallint", "tinyint"):
            value = int(args.lookup)
        elif dtype.simpleString() in ("double", "float"):
            value = float(args.lookup)
        files = prune_files(spark, args.table, args.column, value)
        print(f"candidate files: {len(files)}")
        read_with_index(
            spark, args.table, args.column, value, files=files
        ).show(20, truncate=False)
        return 0

    if args.cmd == "doctor":
        import os

        from .operators.skew import key_skew, partition_balance

        sidecars = [
            d for d in os.listdir(args.table) if d.startswith("_bloom_idx_")
        ]
        print(f"index sidecars: {sidecars or 'none'}")
        from .operators.txlog import tx_cleanup_log, tx_dv_stats, tx_exists, tx_read

        if tx_exists(args.table):
            from .operators.txlog import _EXT_RE, tx_snapshot

            # governance + layout surface: spec, generation rules, and
            # how much of the table is still borrowed from a clone base
            snap0 = tx_snapshot(args.table)
            if snap0.get("features"):
                print(f"table features: {snap0['features']} "
                      "(readers/writers without them refuse)")
            if snap0.get("partition_by"):
                print(f"partition spec: {snap0['partition_by']}")
            for col_, gexpr_ in sorted(
                (snap0.get("generated") or {}).items()
            ):
                print(f"generated: {col_} AS ({gexpr_})")
            n_ext = sum(1 for f in snap0["files"] if _EXT_RE.match(f))
            if n_ext:
                print(
                    f"shallow clone: {n_ext}/{len(snap0['files'])} live "
                    f"file(s) referenced from {snap0.get('bases')} — "
                    "source vacuum breaks them; tx compact copies them "
                    "home"
                )
            # pruning surface: which columns carry usable bounds (string
            # bounds included since the truncation-safe stats landed),
            # and whether planning should move off the driver loop
            n_files = len(snap0["files"])
            col_cov: dict[str, int] = {}
            for st_ in snap0["stats"].values():
                for c_, b_ in (st_ or {}).get("cols", {}).items():
                    if b_[0] is not None:
                        col_cov[c_] = col_cov.get(c_, 0) + 1
            if col_cov:
                print(
                    "prunable bounds: "
                    + ", ".join(f"{c}:{n}/{n_files}"
                                for c, n in sorted(col_cov.items()))
                )
            # file-size profile from the commit-recorded add-file sizes
            # (bytes land in stats since r10; older commits show unknown)
            sizes = sorted(
                s["bytes"] for s in snap0["stats"].values()
                if (s or {}).get("bytes")
            )
            if sizes:
                def _mb(x):
                    return (f"{x / 1e6:.1f}MB" if x >= 1e6
                            else f"{x / 1e3:.1f}KB")
                med = sizes[len(sizes) // 2]
                line = (
                    f"file sizes: {len(sizes)}/{n_files} known — "
                    f"min {_mb(sizes[0])}, median {_mb(med)}, "
                    f"max {_mb(sizes[-1])}, total {_mb(sum(sizes))}"
                )
                if med < 16 * 1024 * 1024 and len(sizes) > 8:
                    line += (
                        " — RECOMMEND: tx optimize (median is "
                        "small-file territory; pass small_file_bytes "
                        "to make the signal byte-exact)"
                    )
                print(line)
            if n_files >= 1_000_000:
                print(
                    f"planning: {n_files} live files — RECOMMEND "
                    "tx_prune(spark=...) / tx_files_df (distributed "
                    "metadata plane; the driver loop crosses over ~1e6)"
                )
            from .operators.txlog import (
                _CHECKPOINT_RE,
                _log_dir,
                get_log_store,
            )

            cp_names = [
                n for n in get_log_store(args.table).list(
                    _log_dir(args.table))
                if _CHECKPOINT_RE.match(n)
            ]
            if cp_names:
                newest = max(cp_names)
                fmt = newest.rsplit(".", 1)[1]
                line = f"checkpoint: {newest}"
                if fmt == "json":
                    line += (" — json-era (pre-parquet); the next "
                             "interval commit writes columnar")
                else:
                    from .operators.txlog import _checkpoint_state

                    cp_v = int(newest.split(".", 1)[0])
                    sidecars = _checkpoint_state(
                        args.table, cp_v).get("sidecars")
                    if sidecars is not None:
                        n_delta = sum(1 for n in sidecars if "delta" in n)
                        line += (
                            f" — multi-part ({len(sidecars)} part(s), "
                            f"{n_delta} delta; writes track the commit "
                            "delta, not the table)"
                        )
                print(line)
            # metadata-plane health: every snapshot resolution LISTs the
            # log dir, so report retention debt (dry run — doctor never
            # mutates)
            plan = tx_cleanup_log(args.table, dry_run=True)
            dead = (plan["deleted_commits"] + plan["deleted_checkpoints"]
                    + plan.get("deleted_sidecars", 0))
            if dead:
                print(
                    f"txn log: {dead} entrie(s) below the retention floor "
                    f"(v{plan['floor']}) — RECOMMEND: tx cleanup-log "
                    "(bounds the per-read log LIST)"
                )
            dv = tx_dv_stats(args.table)
            print(
                f"deletion vectors: {dv['rows_deleted']} logically-deleted "
                f"row(s) ({dv['deleted_pct']:.1%} of {dv['rows_physical']}) "
                f"behind {dv['dv_files']} DV file(s) covering "
                f"{dv['files_with_dvs']}/{dv['files_total']} data file(s)"
            )
            for rel, ndel, nrows in dv["worst_files"]:
                print(f"  {rel}: {ndel}/{nrows} rows deleted")
            if dv["recommend_compact"]:
                print(
                    "  RECOMMEND: tx compact — every scan pays the DV "
                    "anti-join for these rows; compaction materializes "
                    "the deletes and zeroes the debt"
                )
            from .sources.tx_source import tx_source_cast_report

            # bounded: the probe is sequential driver IO per file — on a
            # huge table doctor samples rather than crawling everything
            cast = tx_source_cast_report(args.table, max_files=256)
            print(
                f"txtable source: {cast['arrow_ready']}/"
                f"{cast['files_probed']} probed file(s) take the Arrow "
                f"fast path"
                + (
                    f" ({cast['files_skipped']} of {cast['files_total']} "
                    "not probed — evenly-spaced sample)"
                    if cast["files_skipped"]
                    else ""
                )
            )
            for rel, reason in cast["fallback_files"][:5]:
                print(f"  FALLBACK {rel}: {reason}")
            if cast["fallback_files"]:
                print(
                    "  RECOMMEND: tx compact — a rewrite normalizes the "
                    "physical types to the logged schema, restoring the "
                    "Arrow (vectorized) change-feed path"
                )
            df = tx_read(spark, args.table)
        else:
            df = spark.read.parquet(args.table)
        print("partition balance (worst 5 by imbalance):")
        partition_balance(df).orderBy("imbalance", ascending=False).show(5)
        if args.skew_col:
            print(f"heaviest values of {args.skew_col}:")
            key_skew(df, args.skew_col).show(5, truncate=False)
        return 0

    if args.cmd == "snapshot":
        from .pipeline.run import read_gold_snapshot

        snap = read_gold_snapshot(spark, args.warehouse)
        versions = snap.pop("versions")
        for name in sorted(snap):
            print(f"{name}: v{versions[name]}, {snap[name].count()} rows")
        return 0

    if args.cmd == "mv":
        from .operators.mv import mv_create, mv_read, mv_refresh

        def _cols(s):
            return [c.strip() for c in s.split(",") if c.strip()] if s else []

        if args.action == "create":
            if not args.source or not args.group_by:
                print("mv create needs --source and --group-by",
                      file=sys.stderr)
                return 2
            r = mv_create(
                spark, args.source, args.table,
                group_by=_cols(args.group_by),
                sum_cols=_cols(args.mv_sum),
                min_cols=_cols(args.mv_min),
                max_cols=_cols(args.mv_max),
                filter=args.filter,
                replace=args.replace,
            )
            print(f"materialized at source v{r['version']}: {r['spec']}")
        elif args.action == "refresh":
            r = mv_refresh(spark, args.table)
            if r["refreshed"]:
                print(f"folded source v{r['from_version']}→v{r['to_version']} "
                      f"(view commit v{r['version']})")
            else:
                print(f"already current at source v{r['to_version']}")
        elif args.action == "read":
            mv_read(spark, args.table, avg_cols=_cols(args.avg) or None) \
                .show(args.limit, truncate=False)
        return 0

    if args.cmd == "tx":
        from .operators import txlog

        if args.action == "read":
            if args.as_of_ts is not None:
                if args.version is not None:
                    print("pass --version OR --as-of-ts, not both",
                          file=sys.stderr)
                    return 2
                try:
                    ts_arg: object = float(args.as_of_ts)
                except ValueError:
                    ts_arg = args.as_of_ts  # ISO string
                args.version = txlog.tx_version_at(args.table, ts_arg)
                print(f"# as-of {args.as_of_ts} -> version {args.version}")
            predicate = None
            if args.where:
                import re as _re

                m_ = _re.fullmatch(
                    r"\s*(\w+)\s*(>=|<=|=|<|>)\s*(.+?)\s*", args.where
                )
                if not m_:
                    print("--where must look like 'col >= 100'", file=sys.stderr)
                    return 2
                col_, op_, raw = m_.groups()
                try:
                    val: object = int(raw)
                except ValueError:
                    try:
                        val = float(raw)
                    except ValueError:
                        val = raw.strip("'\"")
                predicate = [(col_, op_, val)]
                kept, skipped = txlog.tx_prune(
                    args.table, predicate, args.version
                )
                print(f"# stats pruning: scanning {len(kept)} file(s), "
                      f"skipped {len(skipped)}")
            df = txlog.tx_read(
                spark, args.table, version=args.version, predicate=predicate
            )
            df.show(args.limit, truncate=False)
            print(f"{df.count()} rows at version "
                  f"{txlog.tx_snapshot(args.table, args.version)['version']}")
        elif args.action == "merge":
            if not args.source or not args.keys:
                print("tx merge needs --source and --keys", file=sys.stderr)
                return 2
            from pyspark.sql import functions as F

            res = txlog.tx_merge(
                spark,
                args.table,
                spark.read.parquet(args.source),
                [k.strip() for k in args.keys.split(",")],
                when_not_matched_by_source_delete=(
                    F.lit(True) if args.sync_deletes else None
                ),
            )
            print(
                f"merged at v{res['version']}: rewrote {res['files_rewritten']} "
                f"file(s), skipped {res['files_skipped']} untouched"
            )
        elif args.action == "compact":
            v = txlog.tx_compact(
                spark, args.table,
                target_files=(1 if args.target_files is None
                              else args.target_files),
                sort_by=args.sort_by.split(",") if args.sort_by else None,
                zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            )
            print("already compact" if v is None else f"compacted at v{v}")
        elif args.action == "delete":
            if not args.where:
                print("tx delete needs --where", file=sys.stderr)
                return 2
            res = txlog.tx_delete_where(spark, args.table, args.where)
            if res["version"] is None:
                print("no rows matched — nothing committed")
            else:
                print(
                    f"deleted {res['rows_deleted']} row(s) across "
                    f"{res['files_touched']} file(s) at v{res['version']} "
                    "(deletion vectors — no data files rewritten)"
                )
        elif args.action == "update":
            if not args.where or not args.set_exprs:
                print("tx update needs --where and --set", file=sys.stderr)
                return 2
            bad = [kv for kv in args.set_exprs if "=" not in kv]
            if bad:
                print(f"--set must look like col=expr, got {bad!r}",
                      file=sys.stderr)
                return 2
            assigns = dict(kv.split("=", 1) for kv in args.set_exprs)
            res = txlog.tx_update_where(spark, args.table, args.where, assigns)
            if res["version"] is None:
                print("no rows matched — nothing committed")
            else:
                print(
                    f"updated {res['rows_updated']} row(s) across "
                    f"{res['files_touched']} file(s) at v{res['version']} "
                    "(merge-on-read — untouched rows not rewritten)"
                )
        elif args.action == "optimize":
            res = txlog.tx_optimize(
                spark, args.table,
                target_files=args.target_files,
                sort_by=args.sort_by.split(",") if args.sort_by else None,
                zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            )
            did = ("no-op" if res["compacted"] is None
                   else f"compacted at v{res['compacted']}")
            print(f"optimize: {did} ({res['reason']})")
            if res["manifest"]:
                print(f"manifest refreshed: {res['manifest']}")
        elif args.action == "set-constraint":
            if not args.name or not args.expr:
                print("tx set-constraint needs --name and --expr",
                      file=sys.stderr)
                return 2
            v = txlog.tx_set_constraint(spark, args.table, args.name, args.expr)
            print(f"constraint {args.name} set at v{v}: CHECK ({args.expr})")
        elif args.action == "drop-constraint":
            if not args.name:
                print("tx drop-constraint needs --name", file=sys.stderr)
                return 2
            v = txlog.tx_drop_constraint(args.table, args.name)
            print(f"constraint {args.name} dropped at v{v}")
        elif args.action == "manifest":
            dst = txlog.tx_write_manifest(args.table, version=args.version)
            n = sum(1 for ln in open(dst) if ln.strip())
            print(f"manifest: {n} live file(s) at {dst} — point external "
                  "readers (DuckDB read_parquet, Trino) at this list")
        elif args.action == "restore":
            if args.version is None:
                print("tx restore needs --version", file=sys.stderr)
                return 2
            v = txlog.tx_restore(args.table, args.version)
            print("already at that state" if v is None
                  else f"restored to v{args.version} as commit v{v}")
        elif args.action == "set-generated":
            if not args.column or not args.expr:
                print("tx set-generated needs --column and --expr",
                      file=sys.stderr)
                return 2
            v = txlog.tx_set_generated_column(
                spark, args.table, args.column, args.expr
            )
            print(f"{args.column} GENERATED AS ({args.expr}) at v{v} — "
                  "writes derive it when absent, enforce it when provided")
        elif args.action == "drop-generated":
            if not args.column:
                print("tx drop-generated needs --column", file=sys.stderr)
                return 2
            v = txlog.tx_drop_generated_column(args.table, args.column)
            print(f"generation rule for {args.column} dropped at v{v}")
        elif args.action == "set-partition-spec":
            if args.columns is None:
                print("tx set-partition-spec needs --columns (may be '')",
                      file=sys.stderr)
                return 2
            cols = [c.strip() for c in args.columns.split(",") if c.strip()]
            v = txlog.tx_set_partition_spec(args.table, cols)
            print("spec already current" if v is None else
                  f"partition spec -> {cols or '(unpartitioned)'} at v{v} "
                  "(future writes only; tx compact normalizes old eras)")
        elif args.action == "clone":
            if not args.source:
                print("tx clone needs --source (the table to clone) and "
                      "--table (the new clone)", file=sys.stderr)
                return 2
            try:
                ts_arg: object | None = None
                if args.as_of_ts is not None:
                    try:
                        ts_arg = float(args.as_of_ts)
                    except ValueError:
                        ts_arg = args.as_of_ts
                v = txlog.tx_clone(
                    args.source, args.table,
                    version=args.version, as_of_ts=ts_arg,
                )
            except ValueError as e:
                print(f"clone refused: {e}", file=sys.stderr)
                return 2
            n = len(txlog.tx_snapshot(args.table)["files"])
            print(f"shallow clone at {args.table} v{v}: {n} referenced "
                  "file(s), zero bytes copied (tx compact materializes)")
        elif args.action == "changes":
            if args.from_version is None:
                print("tx changes needs --from-version", file=sys.stderr)
                return 2
            df = txlog.tx_changes(
                spark, args.table, args.from_version, args.version,
                update_images=args.update_images,
            )
            df.show(args.limit, truncate=False)
            print(f"{df.count()} change rows after v{args.from_version}")
        elif args.action == "erase":
            if not args.column or args.values is None:
                print("erase needs --column and --values", file=sys.stderr)
                return 2
            dtype = txlog.tx_read(spark, args.table).schema[args.column].dataType
            vals: list = [v.strip() for v in args.values.split(",")]
            if dtype.simpleString() in ("bigint", "int", "smallint", "tinyint"):
                vals = [int(v) for v in vals]
            res = txlog.tx_erase_keys(spark, args.table, args.column, vals)
            print(f"removed {res['rows_removed']} row(s), rewrote "
                  f"{res['files_rewritten']} file(s) at v{res['version']}")
        return 0

    if args.cmd == "query":
        from . import queries as registry

        qs, _ = registry.collect()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
            return 2
        df = qs[args.name](spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
