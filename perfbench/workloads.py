"""Workload definitions, the reference oracle, output checks and guards.

Every workload is a deterministic ``corpus.synth_corpus(seed=...)`` corpus
plus the engine arguments it is crawled with. The oracle is the pure-Python
reference interpreter (``crawley_spark.interp``) run on the same pages, read
back from the corpus parquet the engine also reads.

Guards check the input property a workload exists for, measured on its
inputs and outputs (corpus, state tables, results), never on which engine
path ran: a change that removes a path must not break the benchmark.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class GuardError(RuntimeError):
    """The workload's inputs no longer have the property it was built for."""


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    links_per_page: int = 8
    config: dict = field(default_factory=dict)  # CrawlConfig kwargs
    kwargs: dict = field(default_factory=dict)  # engine.crawl kwargs
    ordered: bool = True  # emitted sequence must match, not just the set
    stream_batches: int = 0  # traced run also drives streaming.run_discovery


# One crawl run, seeded on the hot host. A run seeded on a small host (h1)
# adds a tail of near-empty iterations whose length varies with the corpus
# seed, and with it the crawl wall time.
SEEDS = {"h0": "http://h0.test"}
STREAM_SEED = "http://h0.test/"

WORKLOADS = {
    w.name: w
    for w in [
        # Default crawl kwargs except the driver-seen and Bloom thresholds
        # (and the compaction period), lowered with the corpus so that seen
        # outgrows them: driver-local head waves, handoff to Spark, a
        # broadcast seen anti-join wave, then Bloom prefilter + bucket-pruned
        # semi-join waves and seen compaction, all pipelined. Its traced run
        # also drives streaming.run_discovery over the same pages.
        Workload(
            "crawl_soak",
            n_pages=1500,
            links_per_page=32,
            kwargs={"driver_seen_cap": 800, "bloom_min_seen": 800, "compact_every": 2},
            stream_batches=8,
        ),
        # per-host quotas: the hot host h0 (about half the pages) is deferred
        # over several iterations; no driver-local waves, no pipelining, every
        # iteration writes, commits and re-reads its state
        Workload(
            "crawl_polite",
            n_pages=1000,
            links_per_page=32,
            config={"delay_ms": 100},
            kwargs={"politeness_budget_ms": 15_000},
            ordered=False,
        ),
    ]
}


def crawl_config(w: Workload):
    from crawley_spark.config import CrawlConfig

    return CrawlConfig(depth=-1, no_head=True, **w.config)


def quota(w: Workload) -> int | None:
    budget = w.kwargs.get("politeness_budget_ms")
    delay = crawl_config(w).delay_ms
    return max(1, budget // delay) if budget is not None and delay > 0 else None


def load_pages(path: str) -> dict:
    """Corpus parquet -> {url: interp.Page}, decoded the way the engine's
    extraction decodes html."""
    import pyarrow.parquet as pq

    from crawley_spark.interp import Page

    t = pq.read_table(path, columns=["url", "html"])
    return {
        u: Page(body=h.decode("utf-8", "surrogateescape") if h is not None else None)
        for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
    }


def oracle(w: Workload, pages: dict) -> dict:
    """Reference crawl outputs: {run_id: interp.CrawlOutput}."""
    from crawley_spark import interp

    cfg = crawl_config(w).validated()
    return {run: interp.crawl(pages, seed, cfg) for run, seed in SEEDS.items()}


def stream_oracle(w: Workload, pages: dict) -> set:
    """Distinct emit-eligible url keys of the corpus, as seen from
    STREAM_SEED with allow-all robots (what run_discovery must discover)."""
    from crawley_spark.functions.tags import prepare_filter
    from crawley_spark.kernels import gourl, robotsx
    from crawley_spark.kernels.extract import (
        classify_candidate,
        effective_content_type,
        fetch_gate,
        page_candidates,
    )

    cfg = crawl_config(w).validated()
    base = gourl.parse(STREAM_SEED)
    rules = robotsx.allow_all()
    tag_filter = prepare_filter(cfg.tags)
    keys = set()
    for url, page in pages.items():
        try:
            u = gourl.parse(url)
        except gourl.URLError:
            continue
        ct = effective_content_type(url, None)
        if page.body is None or not fetch_gate(u, url, ct, cfg):
            continue
        for tag, uri in page_candidates(url, u, page.body, ct, cfg, tag_filter):
            c = classify_candidate(cfg, rules, base, tag, uri)
            if c.emit_ok:
                keys.add(c.url_key)
    return keys


def check_crawl(w: Workload, report, want: dict) -> list:
    """Mismatches between one crawl's outputs and the oracle (empty = ok)."""
    bad = []
    for run, out in want.items():
        got = report.result_urls(run)
        if w.ordered and got != out.results:
            bad.append(f"{run}: emitted sequence differs ({len(got)} vs {len(out.results)} urls)")
        elif not w.ordered and (len(got) != len(set(got)) or set(got) != set(out.results)):
            bad.append(f"{run}: emitted set differs ({len(got)} vs {len(out.results)} urls)")
        seen = {r["url_key"] for r in report.seen(run).select("url_key").collect()}
        if seen != set(out.seen):
            bad.append(f"{run}: seen set differs ({len(seen)} vs {len(out.seen)} keys)")
    return bad


def check_stream(discovered: list, want: set) -> list:
    """discovered: [(url_key, batch_id)] read back from the discovery sink."""
    keys = [k for k, _ in discovered]
    bad = []
    if len(keys) != len(set(keys)):
        bad.append(f"{len(keys) - len(set(keys))} keys discovered in more than one batch")
    if set(keys) != want:
        bad.append(f"discovered {len(set(keys))} keys, reference has {len(want)}")
    return bad


def guard_crawl(w: Workload, report, want: dict) -> dict:
    """The input property of a crawl workload; raises GuardError if absent.
    Returns the measured figures for the report."""
    from pyspark.sql import functions as F

    state = report.state
    sizes, h0_peak = [], 0
    for i in range(report.iterations):
        fr = state.frontier(i)
        rows = fr.groupBy("run_id").agg(
            F.count("*").alias("n"), F.sum((F.col("host") == "h0.test").cast("int")).alias("h0")
        ).collect()
        sizes.append(sum(r["n"] for r in rows))
        h0_peak = max([h0_peak] + [r["h0"] or 0 for r in rows])
    seen_keys = sum(len(o.seen) for o in want.values())
    figures = {"frontier_rows": sizes, "seen_keys": seen_keys, "h0_frontier_peak": h0_peak}
    if w.name == "crawl_soak":
        # the default driver-wave cut-off (256 rows) must fall inside the
        # frontier sizes, and seen must outgrow both lowered thresholds
        small = [n for n in sizes if 0 < n <= 256]
        big = [n for n in sizes if n > 256]
        if not (small and big):
            raise GuardError(f"crawl_soak needs frontiers of <=256 and >256 rows, got {sizes}")
        need = max(w.kwargs["bloom_min_seen"], w.kwargs["driver_seen_cap"])
        if seen_keys <= need:
            raise GuardError(f"crawl_soak needs more than {need} seen keys, got {seen_keys}")
    elif w.name == "crawl_polite":
        q = quota(w)
        if h0_peak <= q:
            raise GuardError(f"crawl_polite needs an h0 frontier above the quota {q}, got {h0_peak}")
    return figures


def guard_stream(w: Workload, batches: int) -> None:
    if batches < w.stream_batches:
        raise GuardError(f"streaming needs >= {w.stream_batches} micro-batches, got {batches}")
