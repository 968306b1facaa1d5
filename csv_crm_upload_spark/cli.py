"""CLI — the reference's two services as subcommands.

  csvReader  (reference cmd/main.go)  → `ingest`: CSV file/dir → store
  crmIntegrator (reference crm/main.go) → `upload`: pending → CRM → mark
  plus `pending` (the recurring query) and `watch` (streaming ingest).

Every store subcommand takes `--store <dir>` (the versioned-parquet
table) or `--jdbc-url <url>` / $DATABASE_URL (any JDBC database — the
reference's actual Postgres story, database/database.go). `merge`,
`clone`, `history` and `serve --auto-compact/--vacuum-keep` need the
versioned-parquet store and exit with an error on JDBC.

Flags mirror the reference CLI/env surface: -noheader (cmd/main.go:29),
buffer size (cmd/main.go:30 — Spark manages batching; kept for interface
parity), CRM_SERVER_ADDR (crm/main.go:12), concurrency cap 25
(uploader.go:17-18).

Usage:
  python -m csv_crm_upload_spark.cli ingest --csv data.csv --store /tmp/store
  python -m csv_crm_upload_spark.cli pending --store /tmp/store
  python -m csv_crm_upload_spark.cli upload --store /tmp/store --crm http://localhost:8089
  python -m csv_crm_upload_spark.cli watch --dir incoming/ --store /tmp/store --checkpoint /tmp/ckpt
"""

from __future__ import annotations

import argparse
import os
import sys


def _add_store_args(sp) -> None:
    sp.add_argument("--store", default=None, help="versioned-parquet store directory")
    sp.add_argument(
        "--jdbc-url",
        default=os.environ.get("DATABASE_URL"),
        help="JDBC store URL (reference DATABASE_URL conn string); "
        "alternative to --store",
    )


def _open_store(spark, args):
    if getattr(args, "store", None):
        from csv_crm_upload_spark.operators.store import CustomerStore

        return CustomerStore(spark, args.store)
    if getattr(args, "jdbc_url", None):
        from csv_crm_upload_spark.sinks.jdbc_store import JdbcCustomerStore

        store = JdbcCustomerStore(spark, args.jdbc_url)
        store.ensure_table()
        return store
    raise SystemExit("one of --store or --jdbc-url (or $DATABASE_URL) is required")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="csv_crm_upload_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser(
        "ingest", help="batch-ingest a CSV, JSONL, or ORC file into the store"
    )
    pi.add_argument("--csv", default=None)
    pi.add_argument("--jsonl", default=None, help="ingest a JSON-lines file instead of CSV")
    pi.add_argument("--orc", default=None, help="ingest an ORC file instead of CSV")
    _add_store_args(pi)
    pi.add_argument("--noheader", action="store_true", help="CSV has no header row")
    pi.add_argument("--quarantine", default=None, help="directory for rejected rows (with reasons)")

    pm = sub.add_parser("merge", help="upsert a CSV into the store (MERGE keyed on email)")
    pm.add_argument("--csv", required=True)
    _add_store_args(pm)
    pm.add_argument("--noheader", action="store_true", help="CSV has no header row")

    pd = sub.add_parser("delete", help="delete rows matching a SQL predicate")
    pd.add_argument("--where", required=True, help="SQL predicate, e.g. \"email LIKE '%@old.com'\"")
    _add_store_args(pd)

    ph = sub.add_parser("history", help="show the store's commit history (DESCRIBE HISTORY)")
    _add_store_args(ph)

    pf = sub.add_parser(
        "forget",
        help="GDPR erasure: remove an email from EVERY retained snapshot "
        "(rewrites history; delete only affects new versions)",
    )
    pf.add_argument("--email", required=True)
    _add_store_args(pf)

    pc = sub.add_parser("clone", help="shallow-clone the store (hard links, zero copy)")
    pc.add_argument("--dest", required=True, help="destination store root")
    _add_store_args(pc)

    pp = sub.add_parser("pending", help="show customers pending upload")
    _add_store_args(pp)
    pp.add_argument("--limit", type=int, default=20)

    pu = sub.add_parser("upload", help="upload pending customers to the CRM")
    _add_store_args(pu)
    pu.add_argument("--crm", default=os.environ.get("CRM_SERVER_ADDR", "http://localhost:8089"))
    pu.add_argument("--concurrency", type=int, default=25)
    pu.add_argument("--max-tries", type=int, default=5)

    ps = sub.add_parser("serve", help="run the upload service loop (crmIntegrator)")
    _add_store_args(ps)
    ps.add_argument("--crm", default=os.environ.get("CRM_SERVER_ADDR", "http://localhost:8089"))
    ps.add_argument("--interval", type=float, default=30.0, help="seconds between upload cycles")
    ps.add_argument("--cycles", type=int, default=None, help="stop after N cycles (default: run forever)")
    ps.add_argument("--concurrency", type=int, default=25)
    ps.add_argument("--max-tries", type=int, default=5)
    ps.add_argument(
        "--auto-compact",
        type=int,
        default=None,
        metavar="FILES",
        help="compact when a bucket exceeds FILES files (metadata check each tick)",
    )
    ps.add_argument(
        "--vacuum-keep",
        type=int,
        default=None,
        metavar="N",
        help="after each tick keep only the newest N snapshots",
    )

    pw = sub.add_parser("watch", help="stream-ingest CSVs arriving in a directory")
    pw.add_argument("--dir", required=True)
    _add_store_args(pw)
    pw.add_argument("--checkpoint", required=True)
    pw.add_argument("--noheader", action="store_true")
    pw.add_argument("--continuous", action="store_true", help="keep watching (default: drain and stop)")
    pw.add_argument(
        "--buffer",
        type=int,
        default=None,
        help="micro-batch size cap, as files per trigger (the reference's "
        "-buffer row count maps to Spark's file-granularity trigger)",
    )

    px = sub.add_parser(
        "index", help="build a persisted BM25 inverted index over a documents table"
    )
    px.add_argument("--docs", required=True, help="parquet path of the documents table")
    px.add_argument("--out", required=True, help="index output directory")
    px.add_argument("--buckets", type=int, default=64, help="token-hash partition count")

    pq = sub.add_parser("search", help="BM25 top-k search over documents")
    pq.add_argument("--terms", required=True, help="space-separated query terms")
    pq.add_argument("--docs", default=None, help="documents parquet (inline corpus pass)")
    pq.add_argument("--index", default=None, help="persisted index dir (partition-pruned probe)")
    pq.add_argument("-k", type=int, default=5)

    pp = sub.add_parser(
        "prep",
        help="run the corpus-prep pipeline (dedup → quality → split → pack) "
        "and write the packing manifest",
    )
    pp.add_argument("--docs", required=True, help="parquet path of the documents table")
    pp.add_argument("--out", required=True, help="manifest output parquet directory")
    pp.add_argument(
        "--pairs-index",
        default=None,
        help="persisted near-dup pair index (dedup.save_dedup_index); "
        "derived inline when omitted",
    )
    pp.add_argument("--budget", type=int, default=512, help="tokens per training bin")
    pp.add_argument("--shards", type=int, default=None, help="sub-streams per source")
    pp.add_argument(
        "--materialize",
        action="store_true",
        help="also land the packed corpus WITH text under <out>/corpus, "
        "hive-partitioned by (split, source) — the trainer-readable artifact",
    )

    pn = sub.add_parser(
        "nb-train",
        help="train (or incrementally update) the persisted Naive Bayes "
        "langid model over a documents table",
    )
    pn.add_argument("--docs", required=True, help="parquet path of the documents table")
    pn.add_argument("--out", required=True, help="model directory")
    pn.add_argument(
        "--buckets",
        type=int,
        default=None,
        help="token-hash partition count (build only, default 64; an "
        "append keeps the existing model's layout)",
    )
    pn.add_argument(
        "--append",
        action="store_true",
        help="fold --docs into an EXISTING model (O(vocab) merge) instead of rebuilding",
    )

    pcl = sub.add_parser(
        "nb-classify", help="classify documents against a persisted NB model"
    )
    pcl.add_argument("--docs", required=True, help="parquet path of documents to classify")
    pcl.add_argument("--model", required=True, help="model directory (nb-train output)")
    pcl.add_argument("--limit", type=int, default=20, help="rows to print")

    pwb = sub.add_parser(
        "winnow-build",
        help="build (or incrementally update) the persisted winnowing "
        "fingerprint index over a documents table",
    )
    pwb.add_argument("--docs", required=True, help="parquet path of the documents table")
    pwb.add_argument("--out", required=True, help="index directory")
    pwb.add_argument(
        "--append",
        action="store_true",
        help="fold --docs into an EXISTING index (O(new docs)) instead of rebuilding",
    )

    pbt = sub.add_parser(
        "bpe-train",
        help="train (or incrementally update) the persisted BPE "
        "tokenizer model over a documents table",
    )
    pbt.add_argument("--docs", required=True, help="parquet path of the documents table")
    pbt.add_argument("--out", required=True, help="model directory")
    pbt.add_argument(
        "--steps",
        type=int,
        default=None,
        help="merge steps to learn (build only, default 3; an append "
        "keeps the existing model's step count)",
    )
    pbt.add_argument(
        "--append",
        action="store_true",
        help="fold --docs into an EXISTING model (vocab-sized merge + "
        "vocab-only relearn) instead of rebuilding",
    )

    pba = sub.add_parser(
        "bpe-apply",
        help="tokenize documents with a persisted BPE model and print "
        "per-doc segmentation stats",
    )
    pba.add_argument("--docs", required=True, help="parquet path of documents to tokenize")
    pba.add_argument("--model", required=True, help="model directory (bpe-train output)")
    pba.add_argument("--limit", type=int, default=20, help="rows to print")

    psb = sub.add_parser(
        "substr-build",
        help="build (or incrementally update) the persisted ExactSubstr "
        "gram-count index over a documents table",
    )
    psb.add_argument("--docs", required=True, help="parquet path of the documents table")
    psb.add_argument("--out", required=True, help="index directory")
    psb.add_argument(
        "--append",
        action="store_true",
        help="fold --docs into an EXISTING index (O(new docs), additive) "
        "instead of rebuilding",
    )

    psp = sub.add_parser(
        "substr-spans",
        help="duplicated-span report for documents against a persisted "
        "gram-count index (ExactSubstr readout)",
    )
    psp.add_argument("--docs", required=True, help="parquet path of probe documents")
    psp.add_argument("--index", required=True, help="index directory (substr-build output)")
    psp.add_argument("--limit", type=int, default=20, help="rows to print")

    pwm = sub.add_parser(
        "winnow-match",
        help="MOSS probe: rank indexed documents by shared winnowing "
        "fingerprints with each probe document",
    )
    pwm.add_argument("--docs", required=True, help="parquet path of probe documents")
    pwm.add_argument("--index", required=True, help="index directory (winnow-build output)")
    pwm.add_argument("--limit", type=int, default=20, help="rows to print")

    pe = sub.add_parser(
        "export", help="export the store's customers table to a file format"
    )
    _add_store_args(pe)
    pe.add_argument("--out", required=True, help="output directory")
    pe.add_argument(
        "--format",
        choices=["csv", "jsonl", "orc", "parquet"],
        default="csv",
        help="output format (default csv, with header)",
    )

    args = p.parse_args(argv)

    from csv_crm_upload_spark.session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "index":
        from csv_crm_upload_spark.analytics.retrieval import save_text_index

        save_text_index(spark.read.parquet(args.docs), args.out, n_buckets=args.buckets)
        print(f"indexed={args.out}")
        return 0
    if args.cmd == "prep":
        from csv_crm_upload_spark.analytics.dedup import load_dedup_index
        from csv_crm_upload_spark.plans.corpus_prep import prepare_training_corpus

        from pyspark.sql import functions as F

        pairs = load_dedup_index(spark, args.pairs_index) if args.pairs_index else None
        docs = spark.read.parquet(args.docs)
        if args.materialize:
            from csv_crm_upload_spark.plans.corpus_prep import write_training_corpus

            write_training_corpus(
                docs, args.out, pairs=pairs,
                pack_budget=args.budget, n_shards=args.shards,
            )
            manifest_path = f"{args.out}/manifest"
        else:
            manifest = prepare_training_corpus(
                docs, pairs=pairs, pack_budget=args.budget, n_shards=args.shards
            )
            manifest.write.mode("overwrite").parquet(args.out)
            manifest_path = args.out
        counts = {
            r["split"]: r["n"]
            for r in spark.read.parquet(manifest_path)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        tag = " corpus=written" if args.materialize else ""
        print(f"manifest={manifest_path} splits={counts}{tag}")
        return 0
    if args.cmd == "winnow-build":
        from csv_crm_upload_spark.analytics.winnow import (
            save_winnow_index,
            update_winnow_index,
        )

        docs = spark.read.parquet(args.docs)
        if args.append:
            update_winnow_index(docs, args.out)
        else:
            save_winnow_index(docs, args.out)
        print(f"winnow_index={args.out}")
        return 0
    if args.cmd == "substr-build":
        from csv_crm_upload_spark.analytics.substr import (
            save_substr_index,
            update_substr_index,
        )

        docs = spark.read.parquet(args.docs)
        if args.append:
            update_substr_index(docs, args.out)
        else:
            save_substr_index(docs, args.out)
        print(f"substr_index={args.out}")
        return 0
    if args.cmd == "substr-spans":
        from csv_crm_upload_spark.analytics.substr import xsd_indexed_dup_spans

        spans = xsd_indexed_dup_spans(spark.read.parquet(args.docs), args.index)
        for r in spans.limit(args.limit).collect():
            print(
                f"{r['doc_id']}\t{r['n_dup_spans']}\t{r['n_dup_tokens']}"
                f"\t{r['dup_fraction']}"
            )
        return 0
    if args.cmd == "winnow-match":
        from csv_crm_upload_spark.analytics.winnow import match_documents

        hits = match_documents(spark, args.index, spark.read.parquet(args.docs))
        for r in hits.limit(args.limit).collect():
            print(f"{r['probe_doc_id']}\t{r['indexed_doc_id']}\t{r['n_shared']}")
        return 0
    if args.cmd == "bpe-train":
        from csv_crm_upload_spark.analytics.bpe import save_bpe_model, update_bpe_model

        docs = spark.read.parquet(args.docs)
        if args.append:
            if args.steps is not None:
                raise SystemExit(
                    "bpe-train: --steps conflicts with --append (the model's "
                    "step count is fixed at build; rebuild without --append "
                    "to change it)"
                )
            update_bpe_model(docs, args.out)
        else:
            if args.steps is not None and args.steps <= 0:
                raise SystemExit("bpe-train: --steps must be positive")
            save_bpe_model(
                docs, args.out, steps=args.steps if args.steps is not None else 3
            )
        print(f"model={args.out}")
        return 0
    if args.cmd == "bpe-apply":
        from csv_crm_upload_spark.analytics.bpe import segment_with_bpe_model

        stats = segment_with_bpe_model(spark.read.parquet(args.docs), args.model)
        for r in stats.limit(args.limit).collect():
            print(
                f"{r['doc_id']}\t{r['n_words']}\t{r['n_chars_tokenized']}\t{r['n_tokens']}"
            )
        return 0
    if args.cmd == "nb-train":
        from csv_crm_upload_spark.analytics.nbayes import save_nb_model, update_nb_model

        docs = spark.read.parquet(args.docs)
        if args.append:
            if args.buckets is not None:
                raise SystemExit(
                    "nb-train: --buckets conflicts with --append (the model's "
                    "bucket layout is fixed at build; rebuild without --append "
                    "to change it)"
                )
            update_nb_model(docs, args.out)
        else:
            if args.buckets is not None and args.buckets <= 0:
                raise SystemExit("nb-train: --buckets must be positive")
            save_nb_model(
                docs, args.out,
                n_buckets=args.buckets if args.buckets is not None else 64,
            )
        print(f"model={args.out}")
        return 0
    if args.cmd == "nb-classify":
        from csv_crm_upload_spark.analytics.nbayes import classify_with_nb_model

        preds = classify_with_nb_model(spark.read.parquet(args.docs), args.model)
        for r in preds.limit(args.limit).collect():
            print(f"{r['doc_id']}\t{r['pred_lang']}\t{r['score']}")
        return 0
    if args.cmd == "search":
        from csv_crm_upload_spark.analytics import retrieval as rtr

        terms = {0: args.terms.split()}
        if args.index:
            hits = rtr.bm25_search_indexed(spark, args.index, terms, k=args.k)
        elif args.docs:
            hits = rtr.bm25_search(spark.read.parquet(args.docs), terms, k=args.k)
        else:
            raise SystemExit("one of --docs or --index is required")
        for r in hits.orderBy("rank").collect():
            print(f"{r['rank']}\t{r['doc_id']}\t{r['bm25']}")
        return 0

    store = _open_store(spark, args)

    if args.cmd == "export":
        # partitioned write — no coalesce(1): a single-file funnel would
        # serialize the export at scale; consumers read the directory
        df = store.read().orderBy("id")
        writer = df.write.mode("overwrite")
        if args.format == "csv":
            writer.option("header", "true").csv(args.out)
        elif args.format == "jsonl":
            writer.json(args.out)
        elif args.format == "orc":
            writer.orc(args.out)
        else:
            writer.parquet(args.out)
        print(f"exported={args.out} format={args.format} rows={df.count()}")
        return 0

    if args.cmd == "ingest":
        from csv_crm_upload_spark.plans.ingest import ingest_batch, ingest_csv
        from csv_crm_upload_spark.sources.jsonl_source import read_customers_jsonl
        from csv_crm_upload_spark.sources.orc_source import read_customers_orc

        if sum(map(bool, (args.csv, args.jsonl, args.orc))) != 1:
            raise SystemExit("ingest: exactly one of --csv, --jsonl, or --orc is required")
        if args.csv:
            res = ingest_csv(
                spark, args.csv, store, header=not args.noheader, quarantine_dir=args.quarantine
            )
        else:
            batch = (
                read_customers_jsonl(spark, args.jsonl)
                if args.jsonl
                else read_customers_orc(spark, args.orc)
            )
            res = ingest_batch(batch, store, quarantine_dir=args.quarantine)
        print(f"inserted={res.inserted} quarantined={res.quarantined} duplicates={res.duplicates}")
    elif args.cmd == "merge":
        from csv_crm_upload_spark.operators.validate import validate_split
        from csv_crm_upload_spark.sources.csv_source import read_customers_csv

        if not hasattr(store, "merge"):
            raise SystemExit("merge requires the versioned parquet store (--store)")
        clean, _quarantine = validate_split(
            read_customers_csv(spark, args.csv, header=not args.noheader)
        )
        res = store.merge(clean)
        print(f"updated={res['updated']} inserted={res['inserted']} skipped={res['skipped']}")
    elif args.cmd == "delete":
        n = store.delete(args.where)
        print(f"deleted={n}")
    elif args.cmd == "forget":
        n = store.forget(args.email)
        print(f"forgotten={n}")
    elif args.cmd == "clone":
        if not hasattr(store, "clone"):
            raise SystemExit("clone requires the versioned parquet store (--store)")
        cloned = store.clone(args.dest)
        print(f"cloned={args.dest} rows={cloned.read().count()}")
    elif args.cmd == "history":
        import json as _json

        if not hasattr(store, "history"):
            raise SystemExit("history requires the versioned parquet store (--store)")
        for entry in store.history():
            print(_json.dumps(entry))
    elif args.cmd == "pending":
        pending = store.pending()
        n = pending.count()
        pending.orderBy("id").show(args.limit, truncate=False)
        print(f"pending={n}")
    elif args.cmd == "upload":
        from csv_crm_upload_spark.streaming.pipeline import run_upload_cycle

        marked = run_upload_cycle(
            store, args.crm, concurrency=args.concurrency, max_tries=args.max_tries
        )
        print(f"marked_uploaded={marked}")
    elif args.cmd == "serve":
        from csv_crm_upload_spark.streaming.pipeline import run_upload_service

        maintenance = (("--auto-compact", args.auto_compact), ("--vacuum-keep", args.vacuum_keep))
        for flag, value in maintenance:
            if value is not None and not hasattr(store, "vacuum"):
                raise SystemExit(f"{flag} requires the versioned parquet store (--store)")
        marked = run_upload_service(
            store,
            args.crm,
            interval_s=args.interval,
            max_cycles=args.cycles,
            concurrency=args.concurrency,
            max_tries=args.max_tries,
            auto_compact_files=args.auto_compact,
            vacuum_keep=args.vacuum_keep,
        )
        print(f"cycles={len(marked)} marked_total={sum(marked)}")
    elif args.cmd == "watch":
        from csv_crm_upload_spark.streaming.pipeline import run_ingest_stream

        q = run_ingest_stream(
            spark,
            args.dir,
            store,
            args.checkpoint,
            header=not args.noheader,
            available_now=not args.continuous,
            max_files_per_trigger=args.buffer,
        )
        q.awaitTermination()
        print(f"store_rows={store.read().count()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
