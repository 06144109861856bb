"""Evidence harness for the seen anti-join scale fix (VERDICT r01 #1).

Runs a synthetic-corpus crawl and prints a per-iteration table from its
metrics:

    iter  path  frontier  maybe  buckets  seen_scanned  seen_total  wall_ms

``path`` is the iteration's ``seen_path`` metric (broadcast, bloom_semi or
bloom_shuffle; "-" on the bootstrap row); ``seen_scanned`` is the exact
parquet-footer row count of the seen-side dirs the anti-join read that
iteration (bucket-pruned, compacted);
``seen_total`` is the cumulative seen-table size. The r01 design re-scanned
and re-shuffled seen_total every iteration; the fix's seen side is scanned
only for the touched buckets and never shuffled (broadcast semi-join).

Usage: python tools/seen_scale_bench.py [--pages 60000] [--cores 16]
           [--bloom-min-seen 5000] [--compact-every 8] [--seen-buckets 1024]

--seen-buckets N overrides the physical seen/bloom bucket count (the
documented 10^10-URL design point is 2048-4096) to demonstrate that
tail-wave pruning reads a vanishing fraction of the snapshot at high
bucket counts, not just at the sandbox default of 64.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=60_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--bloom-min-seen", type=int, default=5_000)
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--seed-hosts", type=int, default=2)
    ap.add_argument("--seen-buckets", type=int, default=None)
    args = ap.parse_args()
    if args.seen_buckets:
        # must be set before crawley_spark.sources.state is imported
        os.environ["CRAWLEY_SEEN_BUCKETS"] = str(args.seen_buckets)
        # hold TOTAL bloom bits at the 64-bucket default (2^27) — FP rate
        # is total-bits/keys, so more shards means smaller shards
        os.environ.setdefault(
            "CRAWLEY_BLOOM_BITS_PER_BUCKET",
            str(max(1 << 14, (1 << 27) // args.seen_buckets)),
        )

    from crawley_spark.config import CrawlConfig
    from crawley_spark.corpus import synth_corpus
    from crawley_spark.engine import crawl
    from crawley_spark.session import get_spark
    from crawley_spark.sources.pages import prepare_pages

    spark = get_spark("seen-scale-bench", cores=args.cores, shuffle_partitions=min(16, args.cores))
    spark.sparkContext.setLogLevel("ERROR")
    pages = prepare_pages(synth_corpus(spark, n_pages=args.pages, n_hosts=20))
    pages.count()
    seeds = {f"h{i}": f"http://h{i}.test" for i in range(args.seed_hosts)}
    report = crawl(
        spark,
        pages,
        seeds,
        CrawlConfig(depth=-1, no_head=True),
        bloom_min_seen=args.bloom_min_seen,
        compact_every=args.compact_every,
        driver_wave_rows=0,  # this harness measures the Spark seen path
    )
    m = {}
    for r in report.metrics().collect():
        m.setdefault(r["iter"], {})[r["metric"]] = (r["key"], r["value"])
    # seen_total comes from the committed delta dirs' parquet footers
    cum = 0
    print(f"{'iter':>4} {'path':>13} {'frontier':>9} {'maybe':>8} {'bks':>4} {'scanned':>10} {'seen_total':>10} {'wall_ms':>8}")
    out = []
    for it in sorted(m):
        row = m[it]
        delta = report.state.count_parquet_rows(
            report.state._leaf_dirs(report.state._dir("seen", it))
        )
        path = row.get("seen_path", ("-", 0))[0]
        frontier = row.get("frontier_in", ("", 0))[1]
        maybe = row.get("bloom_maybe", ("", -1))[1]
        bks = row.get("seen_buckets_read", ("", -1))[1]
        scanned = row.get("seen_rows_scanned", ("", -1))[1]
        wall = row.get("wall_ms", ("", 0))[1]
        print(f"{it:>4} {path:>13} {frontier:>9} {maybe:>8} {bks:>4} {scanned:>10} {cum:>10} {wall:>8}")
        out.append(
            {
                "iter": it,
                "path": path,
                "frontier": frontier,
                "maybe": maybe,
                "buckets_read": bks,
                "seen_rows_scanned": scanned,
                "seen_total_before": cum,
                "wall_ms": wall,
            }
        )
        cum += delta
    from crawley_spark.sources.state import SEEN_BUCKETS

    print(
        json.dumps(
            {
                "pages": args.pages,
                "seen_buckets": SEEN_BUCKETS,
                "iterations": report.iterations,
                "rows": out,
            }
        )
    )
    report.state.cleanup()


if __name__ == "__main__":
    main()
