"""The iterative crawl engine — crawley's BFS loop as per-iteration DataFrame
dataflow (SURVEY.md §3.4 lifecycle):

    gate → schedule → fetch-join → extract (Arrow UDF) → dedup → emit →
    enqueue → checkpoint

Spark waves keep only O(#runs + #partitions) state on the driver (offsets,
quotas) and run all per-URL work executor-side; driver-local small waves
hold at most ``driver_seen_cap`` seen keys. Every iteration commits
frontier / seen / results / metrics snapshots through CrawlState, so a
killed job resumes exactly (north_rule).

Crawl-order parity: emission seq and frontier ranks are materialized with an
explicit rank-bucketed order index (plans/ordering.py) following
(parent_rank, in-page ord) — the canonical workers=1 FIFO order of the
reference driver loop (crawler.go:119-135). Never rely on partition order.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import CrawlConfig
from .functions.extract_udf import CANDIDATES_SCHEMA, build_extract_candidates
from .interp import Page, seed_robots
from .kernels import gourl, robotsx
from .kernels.extract import classify_candidate
from .kernels.paths import can_parse, url_seen_key
from .kernels.xxh import spark_xxhash64
from .operators import bloom as bloomf
from .operators.local_wave import process_wave
from .operators.politeness import schedule, schedule_rows
from .operators.seen import anti_join_seen, first_occurrence
from .plans.ordering import advance_offsets, assign_flagged_indexes_bucketed, sql_str
from .sources.pages import normalize_pages
from .sources.state import (
    BLOOM_STATE_SCHEMA,
    FRONTIER_SCHEMA,
    METRICS_SCHEMA,
    RESULTS_SCHEMA,
    SEEN_BUCKETS,
    SEEN_SCHEMA,
    CrawlState,
    with_bucket,
)

# Frontier rows up to which the fetch join broadcasts the frontier side (and
# the schedule skips its salted pre-cap). 500k rows × ~150 B/row ≈ 75 MB —
# sized to stay well inside a default 1 GiB driver/executor headroom rather
# than Spark's 10 MB auto threshold (the frontier is the *hot* dimension;
# ADVICE r01 gated this on bytes, not a 2M-row cliff).
BROADCAST_FRONTIER_ROWS = 500_000
# Largest post-Bloom "maybe" key set, and largest carried seen delta, that
# the seen check broadcasts; bigger maybe sets shuffle against the
# bucket-pruned seen shards, a bigger carried delta is drained first.
SEMI_BROADCAST_ROWS = 250_000
# Largest seen table broadcast whole into the anti-join: the Bloom prefilter
# engages at min(bloom_min_seen, BROADCAST_SEEN_ROWS), so the full seen table
# is never shuffled.
BROADCAST_SEEN_ROWS = 500_000


@dataclass
class CrawlReport:
    state: CrawlState
    runs: dict
    iterations: int

    def results(self, run_id: str | None = None) -> DataFrame:
        df = self.state.results()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df.orderBy("run_id", "seq")

    def result_urls(self, run_id: str) -> list:
        return [r["url"] for r in self.results(run_id).collect()]

    def seen(self, run_id: str | None = None) -> DataFrame:
        df = self.state.seen()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df

    def metrics(self) -> DataFrame:
        return self.state.metrics()


def _normalize_runs(seeds, config) -> dict:
    """→ {run_id: (seed, validated_config)}"""
    if isinstance(seeds, str):
        seeds = {"run0": seeds}
    elif isinstance(seeds, (list, tuple)):
        seeds = {f"run{i}": s for i, s in enumerate(seeds)}
    config = config or CrawlConfig()
    runs = {}
    for run_id, seed in seeds.items():
        cfg = config[run_id] if isinstance(config, dict) else config
        runs[run_id] = (seed, cfg.validated())
    return runs


def _collect_robots(spark, pages_n, runs) -> dict:
    """Fetch + parse robots.txt for every robots-enabled run (F3). One tiny
    filtered collect over the corpus — #runs rows."""
    targets = {}
    for run_id, (seed, cfg) in runs.items():
        base = gourl.parse(seed)
        if cfg.robots_policy != "ignore":
            targets.setdefault(robotsx.robots_url(base.scheme, base.host), []).append(run_id)
    robots_pages = {}
    if targets:
        rows = pages_n.filter(F.col("url").isin(list(targets))).collect()
        for r in rows:
            body = bytes(r["html"]).decode("utf-8", "surrogateescape") if r["html"] is not None else None
            robots_pages[r["url"]] = Page(
                body=body, status=r["status"] if r["status"] is not None else 200,
                content_type=r["content_type"],
            )
    out = {}
    for run_id, (seed, cfg) in runs.items():
        base = gourl.parse(seed)
        rules, injections = seed_robots(robots_pages, base, cfg)
        out[run_id] = (rules, injections)
    return out


def _start_python_worker_prewarm(spark: SparkSession) -> None:
    """Fire-and-forget background job that spawns one Arrow python worker
    per core and imports the extraction kernels in each. The first
    Spark-path wave otherwise pays this cold start — worker daemon spawn +
    per-worker kernel imports, measured ~1.5-2 s at local[32] — inside its
    own wall. Launched at crawl() entry so it overlaps robots collection,
    bootstrap, and the driver-local head-of-crawl iterations (executors are
    idle through all of those). Failure is ignored: purely a warm-up."""

    def warm_fn(batches):
        import numpy  # noqa: F401
        import pandas as pd  # noqa: F401

        from .functions import extract_udf  # noqa: F401
        from .kernels import clean, extract, gourl, htmlx  # noqa: F401

        for pdf in batches:
            yield pdf

    def run():
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            spark.range(0, n, 1, n).mapInPandas(warm_fn, "id long").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass

    import threading

    threading.Thread(target=run, daemon=True, name="crawley-prewarm").start()


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds,
    config: CrawlConfig | dict | None = None,
    *,
    checkpoint_dir: str | None = None,
    politeness_budget_ms: int | None = None,
    max_iterations: int = 10_000,
    resume: bool = False,
    bloom_min_seen: int = 200_000,
    compact_every: int = 8,
    frontier_cap: int | None = None,
    driver_wave_rows: int = 256,
    driver_seen_cap: int = 200_000,
) -> CrawlReport:
    """Run a depth-bounded BFS crawl of ``pages`` from ``seeds``.

    politeness_budget_ms: per-iteration per-host time budget; with a run's
    delay_ms > 0 this caps fetches per host per iteration at
    budget/delay (reference Q2 semantics, batch-shaped). None = no deferral
    (the reference never defers; parity runs use None).

    Seen check (VERDICT r01 #1 — the full seen table is never shuffled).
    Each Spark iteration takes one of three paths:

    * ``broadcast`` — seen below ``min(bloom_min_seen,
      BROADCAST_SEEN_ROWS)`` keys: the whole seen table (plus the pending
      iteration's delta) is broadcast into the anti-join.
    * ``bloom_semi`` — from that size on, the Bloom prefilter runs and its
      post-Bloom "maybe" rows are checked with a *bucket-pruned broadcast
      semi-join*: seen is read only for the buckets present in maybe
      (Hive-partition pruning on the seen layout), the maybe key set is
      broadcast, and the matching seen keys (≤ |maybe|) are broadcast back
      for the anti-join — one column-pruned scan of the touched shards.
    * ``bloom_shuffle`` — maybe above ``SEMI_BROADCAST_ROWS`` (transitional
      huge waves): maybe takes a shuffle anti-join against the same
      bucket-pruned shards.

    A ``bloom_min_seen`` no crawl reaches keeps the prefilter off up to
    ``BROADCAST_SEEN_ROWS`` keys.

    Every iteration's metrics rows record its ``seen_path`` (one of the
    three above, or ``driver`` for driver-local waves); Spark iterations
    also record the seen check's figures (``bloom_maybe``,
    ``bloom_false_positives``, ``seen_buckets_read``, and
    ``seen_rows_scanned`` — parquet-footer rows of the seen shards the
    bucket-pruned join scanned, -1 on waves where it did not run) plus the
    phase times ``index_ms`` (plan + index pass) and ``drain_ms`` (joining
    the previous iteration's writes and committing its manifest). Driver
    waves record ``fetch_ms`` (the page-fetch collect) and ``extract_ms``
    (``process_wave``). Every iteration records ``wall_ms``.

    compact_every: seen deltas are merged into one bucket-partitioned
    snapshot every this many iterations, bounding the per-read dir count.
    The wave that ends the crawl (empty next frontier) does not compact:
    nothing reads that snapshot. A crawl stopped by ``max_iterations``
    still compacts on schedule, since it may be resumed.

    frontier_cap: opt-in deterministic analogue of the reference's bounded
    queues (Q3, crawler.go:29-33/184-193: producers drop silently when the
    (workers+1)*256 channel stays full for 100ms). The reference's drop set
    depends on goroutine timing and cannot be matched exactly (SURVEY
    §2.6), so the default remains lossless; with a cap, each iteration
    keeps only the first ``frontier_cap`` fresh enqueues per run in
    canonical (parent_rank, ord) order and drops the tail, recording a
    ``dropped_overflow`` metric. Ordering matches the reference's
    seen-then-maybe-dropped sequence: dropped URLs were already inserted
    into seen (crawler.go linkHandler runs tryEnqueue after the dedup
    insert), so they are never revisited; emission is unaffected (the
    reference drops emit on a different channel).

    driver_wave_rows / driver_seen_cap: hybrid small-wave fast path
    (operators/local_wave.py). Real BFS crawls spend most *iterations* on
    tiny waves (the seed head, the convergence tail) where the per-iteration
    Spark scheduling floor (~1 s at local[32]) dwarfs the work; a wave of
    ≤ ``driver_wave_rows`` frontier rows runs on the driver instead — one
    pushed-down ``url IN (...)`` scan (one SQL expression), then the exact same
    extract/dedup/order dataflow in plain Python over a driver-resident
    seen set. Engages only while that set is exact and ≤ ``driver_seen_cap``
    keys: fresh crawls start with it (bootstrap is driver-side already),
    each Spark wave's keys merge back asynchronously while small, and the
    first wave overflowing the cap disables it permanently (pure Spark from
    then on). Politeness quotas are driver-eligible: the gate counts the
    rows the wave will fetch (``schedule_rows``' ``now`` split), and the
    deferred rest stays in the driver frontier, bounded by the cap like
    every frontier row (all of them are in seen). ``frontier_cap`` and
    resume runs keep the pure-Spark loop. ``driver_wave_rows=0`` disables
    the hybrid entirely (tests pinning the distributed machinery do this).
    """
    runs = _normalize_runs(seeds, config)
    pages_n = normalize_pages(pages)
    state = CrawlState(spark, checkpoint_dir)
    _start_python_worker_prewarm(spark)

    quotas = {}
    for run_id, (seed, cfg) in runs.items():
        if politeness_budget_ms is not None and cfg.delay_ms > 0:
            quotas[run_id] = max(1, politeness_budget_ms // cfg.delay_ms)
        else:
            quotas[run_id] = None

    if resume and state.load_manifest():
        start_iter = state.manifest["iteration"] + 1
        rank_offsets = dict(state.manifest["rank_offsets"])
        seq_offsets = dict(state.manifest["seq_offsets"])
        if state.manifest["done"]:
            return CrawlReport(state, runs, state.manifest["iteration"])
        boot_frontier, boot_seen = None, None
        # robots rules are static after init; recompute from the corpus
        # (cheap, deterministic) rather than serializing them into the manifest
        robots_rules = {r: v[0] for r, v in _collect_robots(spark, pages_n, runs).items()}
        # the resumed state is on disk only: read back the Bloom shards and
        # count seen and the frontier (a fresh crawl holds all three)
        last = start_iter - 1
        bloom_merged = bloomf.merge_bitmaps(
            [
                (r["bucket"], bytes(r["bitmap"]))
                for r in state._read_upto("blooms", BLOOM_STATE_SCHEMA, last).collect()
            ]
        )
        seen_total = state.seen(upto=last).count()
        frontier_rows = state.frontier(last).count()
    else:
        (
            rank_offsets, seq_offsets, boot_frontier, boot_seen, boot_shards, robots_rules,
        ) = _bootstrap(spark, state, pages_n, runs)
        start_iter = 1
        bloom_merged = bloomf.merge_bitmaps(boot_shards)
        seen_total = len(boot_seen)
        frontier_rows = len(boot_frontier)

    cfgs = {r: cfg for r, (seed, cfg) in runs.items()}
    seeds_map = {r: seed for r, (seed, cfg) in runs.items()}
    extract_fn = build_extract_candidates(cfgs, seeds_map, robots_rules)

    # low edge of the current frontier's rank span per run (exact after
    # driver waves and after Spark waves that defer nothing; resume starts at
    # 0 and a deferring Spark wave keeps the old edge, which only widens the
    # index-pass bucket range, never changes results)
    rank_lo = {run: 0 for run in runs}
    carry_frontier = None
    iteration = start_iter - 1

    # adaptive partition sizing: AQE cannot coalesce user repartitions or
    # post-checkpoint writes, so the driver sizes them from the wave counts
    # it already knows (previous iteration's enqueue counts + link fan-out)
    max_parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    rows_per_task = 50_000
    avg_links = 10.0  # refined each iteration

    def parts_for(rows: int) -> int:
        return max(1, min(max_parts, int(rows // rows_per_task) + 1))

    # localCheckpoint blocks are non-reliable: an executor lost between
    # iterations (cluster mode / dynamic allocation) would lose them with a
    # truncated lineage — carry the in-memory frontier plan only where that
    # cannot happen (static local mode); elsewhere re-read committed parquet
    can_carry = spark.sparkContext.master.startswith("local") and (
        str(spark.conf.get("spark.dynamicAllocation.enabled", "false")).lower() != "true"
    )

    # Bloom shards (north_rule): definitely-new candidates skip the exact
    # anti-join. Invariant when the prefilter is ACTIVE: blooms cover every
    # seen delta ≤ bloom_upto and bloom_upto == previous iteration. Shards
    # are built LAZILY: below min(bloom_min_seen, BROADCAST_SEEN_ROWS) no
    # per-iteration shard job runs at all (the exact anti-join alone is
    # cheaper); at activation a one-off catch-up folds the uncovered seen
    # deltas (retained on disk regardless of compaction) into the shards, and
    # from then on each iteration appends its wave's shard delta before the
    # manifest commit — so the invariant also survives resume at any point.
    bloom_bc = None
    bloom_upto = state.manifest.get("bloom_upto", iteration if resume else 0)

    # One commit protocol for Spark waves: a wave's table writes / lineage
    # collect / compaction / bloom-shard job stay in flight ("pending") and
    # are drained — and its manifest committed — by the next wave. A wave
    # that runs on the carried in-memory frontier drains after its own
    # (driver-bound) plan+index pass, so the manifest commits one iteration
    # behind; a wave that reads the committed frontier snapshot drains
    # first (write → commit → read). Correctness never depends on the
    # in-flight writes: the seen check unions the pending wave's in-memory
    # (checkpoint-backed) delta over the durable parquet state, and a crash
    # replays the uncommitted iteration from the last manifest (writes are
    # idempotent overwrites).
    pending: dict | None = None
    carry_seen_delta = None
    carry_seen_rows = 0
    candidates = None
    pool = ThreadPoolExecutor(max_workers=7)

    # Hybrid small-wave fast path state (operators/local_wave.py). Exactness
    # gate: the driver path runs only while `driver_seen` holds the EXACT
    # (run_id, url_key) set — fresh crawls start with it (bootstrap is
    # driver-side); it is None (permanently) once any wave would push it past
    # driver_seen_cap, and never exists on resume (rebuild would cost the
    # Spark job the path is meant to avoid). Quotas are driver-eligible
    # (schedule_rows is the driver twin of schedule); frontier_cap keeps the
    # pure-Spark loop — its semantics live in the Spark index pass.
    hybrid_ok = driver_wave_rows > 0 and frontier_cap is None
    driver_seen: set | None = boot_seen if hybrid_ok else None
    driver_frontier: list | None = boot_frontier if hybrid_ok else None
    driver_seen_n = len(driver_seen) if driver_seen is not None else 0
    driver_seen_futs: list = []
    driver_frontier_fut = None

    def _drain_pending() -> None:
        """Join the pending iteration's futures, write its metrics, commit
        its manifest. Whether it commits or raises, the iteration's wave is
        released: unjoined futures are cancelled, its candidates unpersisted."""
        nonlocal pending, bloom_merged, bloom_bc, bloom_upto, avg_links, carry_seen_delta
        if pending is None:
            return
        p, pending = pending, None
        carry_seen_delta = None
        try:
            for f in p["write_futs"]:
                f.result()
            lineage_rows = p["lineage_fut"].result()
            new_compact = p["compact_fut"].result() if p["compact_fut"] is not None else None
            if p["bloom_fut"] is not None:
                new_shards = [
                    (r["bucket"], bytes(r["bitmap"])) for r in p["bloom_fut"].result()
                ]
                state.write_local_binary("blooms", p["iteration"], new_shards)
                bloom_merged = bloomf.merge_bitmaps(
                    [(b, bm.tobytes()) for b, bm in bloom_merged.items()] + new_shards
                )
                bloom_upto = p["iteration"]
                if bloom_bc is not None:
                    bloom_bc.destroy()
                    bloom_bc = None
            lineage = [
                (p["iteration"], "lineage_partition_candidates", str(r["src_pid"]), r["count"])
                for r in lineage_rows
            ]
            cand_n = sum(c for _, _, _, c in lineage)
            cand_rows = sum(r["rows"] for r in lineage_rows)
            metric_rows = (
                lineage
                + p["metric_rows"]
                + [
                    (p["iteration"], "candidates", "", cand_n),
                    (p["iteration"], "deferred", "", p["deferred_n"]),
                ]
            )
            state.write_local("metrics", p["iteration"], metric_rows, METRICS_SCHEMA)
            if p["frontier_rows"] > 0 and cand_rows > 0:
                # estimate for the index pass sizes the POST-combine stream
                avg_links = max(1.0, cand_rows / p["frontier_rows"])
            state.commit(
                p["iteration"],
                p["rank_offsets"],
                p["seq_offsets"],
                done=p["done"],
                seen_compact=new_compact,
                bloom_upto=bloom_upto,
            )
        finally:
            for f in p["write_futs"] + [p["lineage_fut"], p["compact_fut"], p["bloom_fut"]]:
                if f is not None:
                    f.cancel()  # no-op on futures already joined
            p["candidates"].unpersist()

    try:
        while frontier_rows > 0 and iteration < max_iterations:
            if driver_frontier is None and driver_frontier_fut is not None:
                driver_frontier = driver_frontier_fut.result() if driver_seen is not None else None
                driver_frontier_fut = None
            now_rows = None
            if driver_seen is not None and driver_frontier is not None:
                # gate on the rows this wave fetches, not the whole frontier
                now_rows, deferred_rows = schedule_rows(driver_frontier, quotas)
            if now_rows is not None and len(now_rows) <= driver_wave_rows:
                # -- driver-local iteration (operators/local_wave.py) --
                # one Spark job total: the pushed-down url IN (...) page
                # fetch; extraction/dedup/ordering run in-process against the
                # exact driver seen set, state lands via pyarrow writes.
                iteration += 1
                t0 = time.monotonic()
                _drain_pending()  # manifest commits must stay ordered
                for f in driver_seen_futs:
                    driver_seen.update(f.result())
                driver_seen_futs = []
                urls = sorted({r[2] for r in now_rows if r[4]})
                by_url: dict = {}
                t_fetch0 = time.monotonic()
                if urls:
                    # one parsed SQL expression: isin() costs a py4j call per
                    # literal (~0.6 ms per URL), F.expr one call per wave
                    in_list = ", ".join(map(sql_str, urls))
                    for r in pages_n.filter(F.expr(f"url IN ({in_list})")).collect():
                        by_url.setdefault(r["url"], []).append(
                            (r["html"], r["content_type"])
                        )
                t_extract0 = time.monotonic()
                page_rows = [
                    (r[0], r[1], r[2], html, ct)
                    for r in now_rows
                    if r[4]
                    for html, ct in by_url.get(r[2], ())
                ]
                out = process_wave(
                    page_rows, driver_seen, iteration, seq_offsets,
                    rank_offsets, cfgs, seeds_map, robots_rules, SEEN_BUCKETS,
                )
                t_extract1 = time.monotonic()
                seq_offsets, rank_offsets = out["seq_offsets"], out["rank_offsets"]
                driver_seen_n = len(driver_seen)
                if driver_seen_n > driver_seen_cap:
                    # a small frontier can still fan out past the cap; the set
                    # was exact through this wave (state already durable), so
                    # hand off to pure Spark permanently
                    driver_seen = None
                # deferred rows carry over with their old ranks, as in the
                # Spark path's fresh ∪ deferred snapshot
                next_frontier_rows = out["frontier"] + deferred_rows
                state.write_local("results", iteration, out["results"], RESULTS_SCHEMA)
                state.write_local("frontier", iteration, next_frontier_rows, FRONTIER_SCHEMA)
                state.write_local("seen", iteration, out["seen"], SEEN_SCHEMA)
                seen_total += out["wave_rows"]
                if frontier_rows > 0 and out["cand_rows"] > 0:
                    avg_links = max(1.0, out["cand_rows"] / frontier_rows)
                state.write_local(
                    "metrics",
                    iteration,
                    [
                        (iteration, "lineage_partition_candidates", "-1", out["cand_total"]),
                        (iteration, "candidates", "", out["cand_total"]),
                        (iteration, "deferred", "", len(deferred_rows)),
                        (iteration, "frontier_in", "", frontier_rows),
                        (iteration, "emitted", "", out["emit_n"]),
                        (iteration, "enqueued", "", out["enq_n"]),
                        (iteration, "dropped_overflow", "", 0),
                        (iteration, "driver_path", "", 1),
                        (iteration, "seen_path", "driver", 1),
                        (iteration, "fetch_ms", "", int((t_extract0 - t_fetch0) * 1000)),
                        (iteration, "extract_ms", "", int((t_extract1 - t_extract0) * 1000)),
                        (iteration, "wall_ms", "", int((time.monotonic() - t0) * 1000)),
                    ],
                    METRICS_SCHEMA,
                )
                state.commit(
                    iteration, rank_offsets, seq_offsets, done=not next_frontier_rows
                )
                # exact low edge of the next frontier's rank span per run
                rank_lo = dict(rank_offsets)
                for r in next_frontier_rows:
                    rank_lo[r[0]] = min(rank_lo[r[0]], r[1])
                driver_frontier = next_frontier_rows
                frontier_rows = len(next_frontier_rows)
                carry_frontier = None
                continue
            driver_frontier = None  # consumed: the Spark path re-collects a small tail
            iteration += 1
            t0 = time.monotonic()
            # reuse the in-memory (checkpoint-backed) frontier plan instead of
            # a parquet round-trip; without one, drain first so the committed
            # snapshot is read after its write and commit
            t_drain = 0.0
            if carry_frontier is not None:
                frontier = carry_frontier
            else:
                _drain_pending()
                t_drain = time.monotonic() - t0
                frontier = state.frontier(iteration - 1)

            # 1. politeness schedule (Q2) — waves too big to broadcast get the
            # salted pre-cap (a mega-host must not pin a single slot-window
            # task)
            now, deferred = schedule(
                frontier,
                quotas,
                salt_buckets=64 if frontier_rows > BROADCAST_FRONTIER_ROWS else None,
            )

            # 2. fetch join (F1) — canParse-gated rows only reach the corpus scan.
            # Inner join: a frontier URL with no page row produces no candidates
            # either way (extraction skips null html), but inner lets Spark
            # broadcast the frontier side. Small waves broadcast explicitly (no
            # shuffle, no sort, host skew moot); huge frontiers take the
            # sort-merge path against the bucketed corpus.
            fetchable = now.filter(F.col("can_fetch"))
            if frontier_rows <= BROADCAST_FRONTIER_ROWS:
                fetched = F.broadcast(fetchable).join(pages_n, on="url", how="inner")
            else:
                fetched = fetchable.join(pages_n, on="url", how="inner")

            # 3. extract + classify (X1-X6, N1-N3, P1-P10) — one Arrow stage
            # (mapInArrow: RecordBatches in/out, no pandas assembly; warm
            # A/B vs the r04 mapInPandas path in BENCH.md — the pandas
            # marshalling was NOT the in-Spark overhead, the switch is
            # neutral-to-slightly-faster and drops the pandas dependency)
            candidates = fetched.select(
                "run_id", "rank", "url", "html", "content_type"
            ).mapInArrow(extract_fn, CANDIDATES_SCHEMA)
            candidates = candidates.persist()

            # 4. dedup (D2 in-wave, D1 vs seen): in-wave first occurrence, then
            # Bloom prefilter — definitely-new rows skip the exact anti-join.
            # The prefilter engages once seen reaches min(bloom_min_seen,
            # BROADCAST_SEEN_ROWS) — past the latter seen is too big to
            # broadcast whole; shards are built lazily (a one-off catch-up
            # from the retained seen deltas at activation), so below the
            # threshold no per-iteration shard job runs at all.
            # ADVICE r02 (medium): the pending iteration's seen delta rides along
            # in memory and is broadcast into the anti-join below; its row count
            # is known exactly (it was that wave's index-pass count). Above
            # SEMI_BROADCAST_ROWS, drain first — the delta becomes durable
            # bucket-partitioned parquet (and bloom-covered), and the oversized
            # broadcast never happens.
            if carry_seen_delta is not None and carry_seen_rows > SEMI_BROADCAST_ROWS:
                _drain_pending()
            bloom_active = seen_total >= min(bloom_min_seen, BROADCAST_SEEN_ROWS)
            firsts = first_occurrence(candidates)
            flags = ["emit_ok", "enqueue_ok"]
            offs = {"emit_ok": seq_offsets, "enqueue_ok": rank_offsets}
            keys = ["run_id", "url_key"]
            maybe_rows, seen_buckets_read, seen_rows_scanned = 0, None, -1
            firsts = bloomf.with_bloom_hashes(with_bucket(firsts))
            # durable parquet coverage: ≤ iteration-2 while an iteration is
            # pending (its delta rides along in memory), else ≤ iteration-1
            seen_upto = iteration - 2 if pending is not None else iteration - 1
            if bloom_active and bloom_upto < seen_upto:
                # lazy activation catch-up: fold the uncovered seen deltas,
                # the pending wave's included, into the shards in one job. It
                # reads deltas only: join the pending wave's table writes, not
                # its compaction, and drop its shard job, whose drain would
                # overwrite these shards. From here on each iteration's shard
                # delta keeps coverage current (one behind while a wave is
                # pending — the gap is exactly the carried delta, handled below)
                if pending is not None:
                    for f in pending["write_futs"]:
                        f.result()
                    pending["bloom_fut"] = None
                catch = bloomf.with_bloom_hashes(
                    state.seen_between(bloom_upto, iteration - 1)
                )
                rows = bloomf.build_shards(catch).collect()
                new_shards = [(r["bucket"], bytes(r["bitmap"])) for r in rows]
                state.write_local_binary("blooms", iteration - 1, new_shards)
                bloom_merged = bloomf.merge_bitmaps(
                    [(b, bm.tobytes()) for b, bm in bloom_merged.items()] + new_shards
                )
                if bloom_bc is not None:
                    bloom_bc.destroy()
                    bloom_bc = None
                bloom_upto = iteration - 1
            if bloom_active:
                seen_path = "bloom_semi"
                if bloom_bc is None:
                    bloom_bc = spark.sparkContext.broadcast(bloom_merged)
                # materialize the deduped+prefiltered wave once; one light agg
                # job gives the driver the maybe count + the touched buckets so
                # the seen read below can be partition-pruned to those shards
                staged = bloomf.prefilter(firsts, bloom_bc).localCheckpoint(eager=False)
                if carry_seen_delta is not None:
                    # the pending delta is not in the blooms yet (its shard job
                    # is in flight): one broadcast anti-join over the whole wave
                    # closes the gap for fresh and maybe rows alike
                    staged = staged.join(
                        F.broadcast(carry_seen_delta.select(*keys)), on=keys, how="left_anti"
                    )
                mb = (
                    staged.groupBy("_maybe_seen")
                    .agg(F.count("*").alias("n"), F.collect_set("bucket").alias("bks"))
                    .collect()
                )
                maybe_rows = sum(r["n"] for r in mb if r["_maybe_seen"])
                seen_buckets_read = sorted(
                    {int(b) for r in mb if r["_maybe_seen"] for b in r["bks"]}
                )
                if maybe_rows == 0:
                    new_cands = staged
                else:
                    maybe = staged.filter(F.col("_maybe_seen"))
                    fresh = staged.filter(~F.col("_maybe_seen"))
                    # count the seen-side rows the join actually scans NOW — the
                    # metric must not re-resolve dirs against the post-drain
                    # manifest, whose compact pointer may differ and whose
                    # superseded snapshot dirs get deleted (ADVICE r02)
                    seen_rows_scanned = state.count_parquet_rows(
                        state.seen_dirs(seen_upto, seen_buckets_read)
                    )
                    seen_side = state.seen(
                        upto=seen_upto, buckets=seen_buckets_read
                    ).select(*keys)
                    if maybe_rows <= SEMI_BROADCAST_ROWS:
                        # seen is scanned (pruned shards, two columns) but never
                        # shuffled: maybe's keys broadcast in, the ≤|maybe| hits
                        # broadcast back out
                        hits = seen_side.join(
                            F.broadcast(maybe.select(*keys)), on=keys, how="left_semi"
                        )
                        new_cands = fresh.unionByName(
                            maybe.join(F.broadcast(hits), on=keys, how="left_anti")
                        )
                    else:
                        seen_path = "bloom_shuffle"
                        new_cands = fresh.unionByName(anti_join_seen(maybe, seen_side))
                flags = flags + ["_maybe_seen"]  # free per-run counts via the index pass
                offs = dict(offs, _maybe_seen={})
            else:
                # seen < BROADCAST_SEEN_ROWS here: broadcast it whole
                seen_path = "broadcast"
                seen_side = state.seen(upto=seen_upto).select(*keys)
                if carry_seen_delta is not None:
                    seen_side = seen_side.unionByName(carry_seen_delta.select(*keys))
                new_cands = firsts.join(F.broadcast(seen_side), on=keys, how="left_anti")

            # 5+6. one canonical-order pass assigns BOTH the emission seq and the
            # next-frontier rank (dense per flag); the localCheckpoint inside
            # materializes the deduped wave exactly once. Buckets come from the
            # driver-known rank span — no range-sampling pass (the ranks were
            # assigned by this loop, their bounds are exact driver state).
            est_cands = int(frontier_rows * avg_links) + 1
            spans = {run: (rank_lo.get(run, 0), rank_offsets.get(run, 0)) for run in runs}
            indexed, idx_counts, wave_rows = assign_flagged_indexes_bucketed(
                new_cands,
                ["parent_rank", "ord"],
                flags,
                offs,
                spans,
                num_buckets=max(64, 4 * parts_for(est_cands)),
            )
            prev_rank_hi = dict(rank_offsets)
            t_index = time.monotonic() - t0 - t_drain
            emit_counts = idx_counts["emit_ok"]
            enq_counts = idx_counts["enqueue_ok"]
            # Q3 opt-in: keep the first frontier_cap fresh enqueues per run
            # (canonical order — ranks are dense from prev_rank_hi, so the
            # kept set is the contiguous prefix and offsets stay dense);
            # dropped rows remain in seen, matching the reference's
            # insert-then-maybe-drop sequence
            dropped_overflow = 0
            if frontier_cap is not None:
                kept_counts = {r: min(c, frontier_cap) for r, c in enq_counts.items()}
                dropped_overflow = sum(enq_counts.values()) - sum(kept_counts.values())
                enq_counts = kept_counts
            seq_offsets = advance_offsets(seq_offsets, emit_counts)
            rank_offsets = advance_offsets(rank_offsets, enq_counts)
            emit_n = sum(emit_counts.values())
            enq_n = sum(enq_counts.values())

            results_df = indexed.filter(F.col("emit_ok")).select(
                "run_id",
                F.col("idx_emit_ok").alias("seq"),
                F.col("uri").alias("url"),
                F.lit(iteration).alias("iter"),
            ).coalesce(parts_for(emit_n))
            fresh_frontier = indexed.filter(F.col("enqueue_ok")).select(
                "run_id",
                F.col("idx_enqueue_ok").alias("rank"),
                F.col("uri").alias("url"),
                "host",
                "can_fetch",
            )
            if frontier_cap is not None and dropped_overflow > 0:
                keep = None
                for run, off in prev_rank_hi.items():
                    c = (F.col("run_id") == run) & (F.col("rank") < off + frontier_cap)
                    keep = c if keep is None else (keep | c)
                fresh_frontier = fresh_frontier.filter(keep)
            next_frontier = fresh_frontier.unionByName(
                deferred.select("run_id", "rank", "url", "host", "can_fetch")
            ).coalesce(parts_for(enq_n))
            seen_df = indexed.select(
                "run_id", "url_key", F.col("uri").alias("url"), "bucket"
            ).coalesce(parts_for(emit_n + enq_n))

            # 7+8. drain the PREVIOUS iteration's futures (they had a whole
            # index pass to finish in the background — normally a no-wait join),
            # then submit this iteration's independent actions: three table
            # writes + lineage collect (+ compaction / bloom shards). The wave
            # is already materialized by the index pass, so these only re-read
            # checkpoint blocks. Every compact_every iterations the seen deltas
            # merge into one bucket-partitioned snapshot (covers ≤ iteration-1:
            # durable after the drain above) — amortized O(seen/K) per
            # iteration, and the read path stays O(K) dirs. The wave that ends
            # the crawl (empty next frontier) skips it: nothing reads that
            # snapshot, and CrawlReport.seen() reads the same rows from the
            # last snapshot plus the deltas after it. A crawl cut by
            # max_iterations still compacts — it may be resumed.
            t_drain0 = time.monotonic()
            _drain_pending()  # no-op when the wave drained first
            t_drain += time.monotonic() - t_drain0
            write_futs = [
                pool.submit(state.write, "results", iteration, results_df),
                pool.submit(state.write, "frontier", iteration, next_frontier),
                pool.submit(state.write_seen, iteration, seen_df),
            ]
            lineage_fut = pool.submit(
                lambda: candidates.groupBy("src_pid")
                .agg(F.sum("dup_count").alias("count"), F.count("*").alias("rows"))
                .collect()
            )
            bloom_fut = (
                pool.submit(lambda: bloomf.build_shards(indexed).collect())
                if bloom_active
                else None
            )
            # quotas: count the deferred rows now so the compaction rule, the
            # committed done flag and the frontier carry below are exact
            deferred_n = 0 if all(q is None for q in quotas.values()) else deferred.count()
            last_compact = state.manifest.get("seen_compact", -1)
            do_compact = (
                enq_n + deferred_n > 0
                and iteration - 1 - max(last_compact, 0) >= compact_every
            )
            compact_fut = (
                pool.submit(state.compact_seen, iteration - 1) if do_compact else None
            )
            seen_total += wave_rows
            enq_total = sum(enq_counts.values())
            metric_rows = [
                (iteration, "frontier_in", "", frontier_rows),
                (iteration, "seen_path", seen_path, 1),
                (iteration, "bloom_false_positives", "", sum(idx_counts.get("_maybe_seen", {}).values())),
                (iteration, "bloom_maybe", "", maybe_rows),
                (iteration, "seen_rows_scanned", "", seen_rows_scanned),
                (
                    iteration,
                    "seen_buckets_read",
                    ",".join(map(str, seen_buckets_read)) if seen_buckets_read is not None else "all",
                    len(seen_buckets_read) if seen_buckets_read is not None else SEEN_BUCKETS,
                ),
                (iteration, "emitted", "", sum(emit_counts.values())),
                (iteration, "enqueued", "", enq_total),
                (iteration, "dropped_overflow", "", dropped_overflow),
                (iteration, "index_ms", "", int(t_index * 1000)),
                (iteration, "drain_ms", "", int(t_drain * 1000)),
                (iteration, "wall_ms", "", int((time.monotonic() - t0) * 1000)),
            ]
            pending = {
                "iteration": iteration,
                "write_futs": write_futs,
                "compact_fut": compact_fut,
                "lineage_fut": lineage_fut,
                "deferred_n": deferred_n,
                "bloom_fut": bloom_fut,
                "metric_rows": metric_rows,
                "frontier_rows": frontier_rows,
                "rank_offsets": dict(rank_offsets),
                "seq_offsets": dict(seq_offsets),
                "candidates": candidates,
                "done": enq_n + deferred_n == 0,
            }
            # next frontier's rank span: fresh enqueues start at the old high
            # water; carried-over deferred rows keep their old (lower) ranks.
            # The in-memory carry is only safe where localCheckpoint blocks are
            # (a) reliable — not on a cluster that can lose executors — and
            # (b) plan-bounded: a wave that deferred nothing has exactly the
            # fresh rows as its next frontier, whose plan starts at this
            # wave's checkpointed index pass; carrying deferred rows would
            # chain the old frontier's plan (ADVICE r01), so such a wave
            # leaves the next one to drain and re-read the committed snapshot.
            if deferred_n == 0:
                rank_lo = prev_rank_hi
            carry_frontier = (
                fresh_frontier.coalesce(parts_for(enq_n))
                if deferred_n == 0 and can_carry
                else None
            )
            frontier_rows = enq_n + deferred_n
            carry_seen_delta = seen_df
            carry_seen_rows = wave_rows
            if driver_seen is not None:
                # hybrid merge-back: fold this Spark wave's keys into the
                # driver seen set (async — seen_df re-reads checkpoint
                # blocks) while it stays under the cap; overflowing waves
                # disable the driver path for the rest of the crawl
                if driver_seen_n + wave_rows > driver_seen_cap:
                    driver_seen = None
                    driver_seen_futs = []
                    driver_frontier_fut = None
                else:
                    driver_seen_n += wave_rows
                    driver_seen_futs.append(
                        pool.submit(
                            lambda df=seen_df: {
                                (r[0], r[1])
                                for r in df.select("run_id", "url_key").collect()
                            }
                        )
                    )
                    # a frontier this small fetches at most this many rows
                    # (deferred rows included: the driver wave re-splits it)
                    if 0 < frontier_rows <= driver_wave_rows:
                        driver_frontier_fut = pool.submit(
                            lambda df=next_frontier: [tuple(r) for r in df.collect()]
                        )

        _drain_pending()
    finally:
        # a mid-crawl exception (failed Spark job) must not leak the thread
        # pool, in-flight background writes, or the persisted wave (VERDICT
        # r02 "what's wrong" #3 / ADVICE r02). Draining commits the pending
        # iteration (it completed before the failure); a drain that fails
        # releases the wave itself, and its error must not mask the first.
        try:
            _drain_pending()
        except Exception:
            pass
        if candidates is not None:
            candidates.unpersist()  # no-op when a drain already released it
        pool.shutdown(wait=True)
    return CrawlReport(state, runs, iteration)


def _bootstrap(spark, state: CrawlState, pages_n, runs):
    """Iteration 0, driver-side (tiny, O(#runs + robots rules)): pre-seed the
    seen set with the raw seed strings (crawler.go:97-98), fetch + parse
    robots, process the robots link/sitemap injections through the canonical
    candidate pipeline (crawler.go:246-263), and lay down frontier₀.

    Returns (rank_offsets, seq_offsets, frontier rows, {(run_id, url_key)}
    seen set, Bloom shards, {run_id: robots rules}) — everything crawl()
    would otherwise read back from the tables just written."""
    robots_by_run = _collect_robots(spark, pages_n, runs)

    results_rows, seen_rows, frontier_rows = [], [], []
    rank_offsets, seq_offsets = {}, {}
    for run_id, (seed, cfg) in runs.items():
        base = gourl.parse(seed)  # raises on bad seed like Run()
        seen_keys = {url_seen_key(seed)}
        seen_rows.append((run_id, url_seen_key(seed), seed))
        rules, injections = robots_by_run[run_id]
        rank = 0
        seed_can_fetch = can_parse(base.path) if cfg.no_head else True
        frontier_rows.append((run_id, rank, seed, base.host, seed_can_fetch))
        rank += 1
        seq = 0
        for tag, uri in injections:
            key = url_seen_key(uri)
            if key in seen_keys:
                continue
            seen_keys.add(key)
            seen_rows.append((run_id, key, uri))
            c = classify_candidate(cfg, rules, base, tag, uri)
            if c.enqueue_ok:
                frontier_rows.append((run_id, rank, uri, c.host, c.can_fetch))
                rank += 1
            if c.emit_ok:
                results_rows.append((run_id, seq, uri, 0))
                seq += 1
        rank_offsets[run_id] = rank
        seq_offsets[run_id] = seq

    # all iteration-0 tables are driver-local → pyarrow writes, no Spark jobs
    state.write_local("results", 0, results_rows, RESULTS_SCHEMA)
    state.write_local(
        "seen",
        0,
        [
            (run_id, key, url, spark_xxhash64(key) % SEEN_BUCKETS)
            for run_id, key, url in seen_rows
        ],
        SEEN_SCHEMA,
    )
    state.write_local("frontier", 0, frontier_rows, FRONTIER_SCHEMA)
    shards = bloomf.build_shards_local([(r, k) for r, k, _ in seen_rows])
    state.write_local_binary("blooms", 0, shards)
    state.write_local(
        "metrics", 0, [(0, "bootstrap_frontier", "", len(frontier_rows))], METRICS_SCHEMA
    )
    state.commit(0, rank_offsets, seq_offsets, done=len(frontier_rows) == 0, bloom_upto=0)
    return (
        rank_offsets,
        seq_offsets,
        frontier_rows,
        {(run_id, key) for run_id, key, _ in seen_rows},
        shards,
        {run_id: rules for run_id, (rules, _) in robots_by_run.items()},
    )
