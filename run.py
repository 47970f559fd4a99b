#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine (SURVEY.md §7 M8).

Cluster:
    zip -r cr.zip spacetime_crawler_spark
    spark-submit --master <cluster> --py-files cr.zip \\
        [--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
         --conf spark.sql.catalog.cr=org.apache.iceberg.spark.SparkCatalog ...] \\
        run.py --pages <table-or-path> --state-dir <path> --rounds 10

Sandbox (local mode):
    python run.py --synth small --rounds 4 --state-dir /tmp/crawl_state

The same engine code runs in both; only master + table IO backend differ
(sources/io_tables.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description="distributed URL-frontier crawl")
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--warc", help="read pages from WARC file(s) or glob"
                    " (Common-Crawl layout: plain or per-record gzip)")
    ap.add_argument("--synth", choices=["tiny", "small", "bench"],
                    help="generate a synthetic pages world instead")
    ap.add_argument("--synth-pages", type=int, default=None,
                    help="override synthetic world page count")
    ap.add_argument("--seeds", nargs="*", default=None,
                    help="seed URLs (default: synthetic world seeds)")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--budget", type=float, default=30.0,
                    help="per-round politeness budget in seconds")
    ap.add_argument("--parts", type=int, default=32,
                    help="state partitioning buckets P")
    ap.add_argument("--master", default=None, help="override spark master")
    ap.add_argument("--resume", action="store_true",
                    help="resume from last committed round")
    ap.add_argument("--revisit", metavar="DIR", default=None,
                    help="after the crawl, write per-URL revisit stats and"
                         " the change-rate recrawl schedule over the INPUT"
                         " pages archive to DIR (plans/cdx.py)")
    ap.add_argument("--ingest", metavar="DIR", default=None,
                    help="also run the web-ingest curation composite"
                         " (boilerplate removal → PII redaction → C4 line"
                         " cleaning → langid) over the pages input and write"
                         " training docs parquet under DIR/training_docs")
    ap.add_argument("--lm-buckets", metavar="DIR", default=None,
                    help="with --ingest: train the char-trigram LM on the "
                         "ingested docs' md5 seed stratum, score every doc, "
                         "and write per-language head/middle/tail buckets "
                         "(the CCNet quality gate) to DIR")
    ap.add_argument("--cdx", metavar="DIR", default=None,
                    help="after the crawl, write a SURT-sorted CDX capture"
                         " index of the fetch_log to DIR (plans/cdx.py)")
    ap.add_argument("--iceberg", metavar="CATALOG.NAMESPACE", default=None,
                    help="store state in Iceberg tables (requires"
                         " iceberg-spark-runtime on the classpath) instead"
                         " of parquet+manifest under --state-dir")
    args = ap.parse_args()
    if args.lm_buckets and not args.ingest:
        ap.error("--lm-buckets requires --ingest (it scores the ingested docs)")
    if args.iceberg and "." not in args.iceberg:
        ap.error("--iceberg must be CATALOG.NAMESPACE")

    from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from spacetime_crawler_spark.session import get_spark
    from spacetime_crawler_spark.sources import synth

    spark = get_spark(master=args.master, app_name="spacetime-crawler-spark")

    if args.synth:
        p = synth.world(args.synth, n_pages=args.synth_pages)
        pages = synth.generate_pages_df(spark, p)
        seeds = args.seeds or synth.seed_urls(p)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
        if not args.seeds:
            ap.error("--seeds required with --pages")
        seeds = args.seeds
    elif args.warc:
        from spacetime_crawler_spark.sources.warc import read_warc_pages

        pages = read_warc_pages(spark, args.warc)
        if not args.seeds:
            ap.error("--seeds required with --warc")
        seeds = args.seeds
    else:
        ap.error("one of --pages / --synth / --warc is required")
        return

    cfg = CrawlConfig(
        state_dir=args.state_dir,
        rounds=args.rounds,
        round_budget_s=args.budget,
        n_parts=args.parts,
    )
    io = None
    if args.iceberg:
        from spacetime_crawler_spark.sources.io_tables import (
            IcebergIO,
            SparkIcebergStore,
        )

        catalog, namespace = args.iceberg.split(".", 1)
        # the bucket(P, url_hash) DDL modulus must equal the engine's
        # pmod(url_hash, P) repartitioning — thread --parts through, or the
        # storage-partitioned join the layout exists for never engages
        # (run_crawl also validates this and fails loudly on mismatch)
        io = IcebergIO(
            SparkIcebergStore(spark, catalog, namespace, n_buckets=args.parts)
        )
    t0 = time.monotonic()
    run = run_crawl(spark, pages, seeds, cfg, resume=args.resume, io=io)
    wall = time.monotonic() - t0

    if args.cdx:
        from spacetime_crawler_spark.plans import cdx as cdx_mod
        from spacetime_crawler_spark.plans.crawl import read_fetch_log

        cdx_mod.write_cdx_index(
            cdx_mod.cdx_records(
                read_fetch_log(spark, run.io, run.rounds_run)
            ),
            args.cdx,
        )

    if args.revisit:
        from spacetime_crawler_spark.plans import cdx as cdx_mod

        stats_path = f"{args.revisit}/revisit_stats"
        cdx_mod.revisit_stats(cdx_mod.capture_records(pages)).write.mode(
            "overwrite"
        ).parquet(stats_path)
        # schedule reads the materialized stats — no recompute of the aggs
        cdx_mod.recrawl_schedule(spark.read.parquet(stats_path)).write.mode(
            "overwrite"
        ).parquet(f"{args.revisit}/recrawl_schedule")

    ingest_docs = None
    if args.ingest:
        from spacetime_crawler_spark.operators.pipeline import (
            pipeline_web_ingest,
        )

        out_path = f"{args.ingest}/training_docs"
        pipeline_web_ingest(pages).write.mode("overwrite").parquet(out_path)
        docs = spark.read.parquet(out_path)  # (url, lang, text, ...)
        ingest_docs = docs.count()

        if args.lm_buckets:
            from spacetime_crawler_spark.operators import lm_quality as lm

            try:
                model = lm.train_char_lm(
                    spark, lm.seed_stratum(docs, id_col="url")
                )
            except ValueError as e:
                # tiny/synthetic corpora can leave the md5 seed stratum with
                # no trigrams (the C4 stage drops synth word-soup wholesale);
                # skip the gate rather than abort the whole run post-crawl
                print(f"lm-buckets skipped: {e}", file=sys.stderr)
            else:
                # scored feeds both the bucket window and the final join
                scored = lm.lm_quality_score(
                    docs, model, id_col="url"
                ).persist()
                lm.lm_ppl_buckets(scored, docs, id_col="url").write.mode(
                    "overwrite"
                ).parquet(f"{args.lm_buckets}/lm_buckets")
                scored.unpersist(blocking=False)

    fetched = sum(m.urls_selected for m in run.metrics)
    candidates = sum(m.candidates for m in run.metrics)
    summary = {
        "rounds_run": run.rounds_run,
        "urls_fetched": fetched,
        "candidates_deduped": candidates,
        "urls_new": sum(m.urls_new for m in run.metrics),
        "wall_s": round(wall, 2),
        "urls_per_sec": round((fetched + candidates) / wall, 1) if wall else 0,
        "per_round": [vars(m) for m in run.metrics],
    }
    if ingest_docs is not None:
        summary["ingest_docs"] = ingest_docs
    json.dump(summary, sys.stdout, indent=2)
    print()
    spark.stop()


if __name__ == "__main__":
    main()
