"""Driver-local small-wave fast path.

Real BFS crawls spend most *iterations* (not most rows) on tiny waves: the
head of every crawl (seed → a handful of URLs) and the convergence tail.
Each Spark iteration pays a fixed scheduling floor (~1 s at local[32]:
broadcast exchanges, an Arrow stage, a window shuffle, a counts job) that
dwarfs the actual work when the wave is a few hundred rows. This module
runs such an iteration *on the driver* — one Spark job to fetch the wave's
pages (a pushed-down ``url IN (...)`` filter over the corpus scan, the same
bytes the broadcast fetch join would read), then pure-Python extraction /
dedup / ordering over driver-resident state, and pyarrow state writes.
~0.15 s instead of ~1 s per tiny iteration; big waves stay on the Spark
path, which amortizes its floor.

Exactness contract: this is the SAME dataflow as the Spark path —
``process_wave`` mirrors functions/extract_udf.build_extract_candidates
(candidate extraction + in-wave first-occurrence combine), operators/
seen.first_occurrence (min-(parent_rank, ord) winner), the exact seen-set
anti-join, and plans/ordering's canonical (parent_rank, ord) dense index
assignment, byte for byte (tests/test_driver_wave.py pins hybrid ≡
pure-Spark ≡ interpreter on results, seen, frontier and offsets).

Scale gate (engine.crawl): engages only while the driver holds the exact
seen set — fresh crawls start with it (bootstrap is driver-side already);
each Spark wave's keys are merged back asynchronously while small; the
first wave past ``driver_seen_cap`` invalidates it permanently and the
crawl is pure-Spark from then on. A 100-TB crawl therefore uses it for
exactly the iterations where the cluster would otherwise idle behind the
driver, and never holds more than ``driver_seen_cap`` keys in driver
memory. Politeness quotas are driver-eligible: the engine splits the
frontier with operators/politeness.schedule_rows (the driver twin of
``schedule``), gates on the ``now`` rows and carries the deferred rest in
the driver frontier — every frontier row is in seen, so that backlog is
bounded by the same cap. ``frontier_cap`` and resume keep the pure-Spark
loop.
"""

from __future__ import annotations

from ..kernels import gourl
from ..kernels.extract import (
    classify_candidate,
    effective_content_type,
    fetch_gate,
    page_candidates,
)
from ..kernels.gourl import URLError
from ..kernels.xxh import spark_xxhash64


def extract_wave(page_rows, cfgs, seeds, robots):
    """Extract + classify + in-wave first-occurrence combine, mirroring the
    Arrow UDF (functions/extract_udf.py) row for row.

    page_rows: iterable of (run_id, rank, url, html, content_type) — the
    fetch join's output rows (one per frontier×page match).

    Returns (best, cand_total) where best maps (run_id, url_key) ->
    [parent_rank, ord, row] with row = [run_id, parent_rank, ord, uri,
    url_key, host, enqueue_ok, can_fetch, emit_ok, src_pid(-1), dup_count]
    (the UDF's output schema), and cand_total is the raw extracted-link
    count (sum of dup_count — the lineage metric).
    """
    from ..functions.tags import prepare_filter

    bases: dict = {}
    filters: dict = {}

    def run_ctx(run_id):
        if run_id not in bases:
            bases[run_id] = gourl.parse(seeds[run_id])
            filters[run_id] = prepare_filter(cfgs[run_id].tags)
        return cfgs[run_id], bases[run_id], filters[run_id]

    memo: dict = {}
    best: dict = {}
    for run_id, rank, url, html, ctype in page_rows:
        cfg, base, tag_filter = run_ctx(run_id)
        try:
            u = gourl.parse(url)
        except URLError:
            continue
        ct = effective_content_type(url, ctype)
        if html is None or not fetch_gate(u, url, ct, cfg):
            continue
        body = bytes(html).decode("utf-8", "surrogateescape")
        rb = robots[run_id]
        rank = int(rank)
        scan_js, scan_css = cfg.scan_js, cfg.scan_css
        for ordi, (tag, uri) in enumerate(
            page_candidates(url, u, body, ct, cfg, tag_filter)
        ):
            fetch_cls = (
                tag in ("a", "iframe")
                or (scan_js and tag == "script")
                or (scan_css and tag == "link")
            )
            mkey = (run_id, fetch_cls, uri)
            c = memo.get(mkey)
            if c is None:
                c = classify_candidate(cfg, rb, base, "a" if fetch_cls else "style", uri)
                memo[mkey] = c
            bkey = (run_id, c.url_key)
            prev = best.get(bkey)
            if prev is None:
                best[bkey] = [
                    rank,
                    ordi,
                    [run_id, rank, ordi, c.uri, c.url_key, c.host,
                     c.enqueue_ok, c.can_fetch, c.emit_ok, -1, 1],
                ]
            else:
                row = prev[2]
                row[10] += 1
                if rank < prev[0] or (rank == prev[0] and ordi < prev[1]):
                    best[bkey] = [
                        rank,
                        ordi,
                        [run_id, rank, ordi, c.uri, c.url_key, c.host,
                         c.enqueue_ok, c.can_fetch, c.emit_ok, -1, row[10]],
                    ]
    cand_total = sum(e[2][10] for e in best.values())
    return best, cand_total


def process_wave(
    page_rows,
    driver_seen: set,
    iteration: int,
    seq_offsets: dict,
    rank_offsets: dict,
    cfgs: dict,
    seeds: dict,
    robots: dict,
    seen_buckets: int,
):
    """One full driver-side iteration over the fetched page rows.

    Mutates ``driver_seen`` (adds this wave's new keys) and returns a dict
    with the four state tables' rows (schemas of sources/state.py), the
    advanced offsets, and the iteration counts — everything the engine
    needs to write_local + commit. Ordering is the canonical per-run
    (parent_rank, ord) sequence, identical to the Spark index pass.
    """
    best, cand_total = extract_wave(page_rows, cfgs, seeds, robots)
    fresh = [
        e[2] for key, e in best.items() if key not in driver_seen
    ]
    # canonical order: per-run (parent_rank, ord); a plain sort over
    # (run_id, parent_rank, ord) gives every run its contiguous ordered span
    fresh.sort(key=lambda r: (r[0], r[1], r[2]))

    results_rows, frontier_rows, seen_rows = [], [], []
    seq_off = dict(seq_offsets)
    rank_off = dict(rank_offsets)
    emit_counts: dict = {}
    enq_counts: dict = {}
    for r in fresh:
        run_id, _rank, _ord, uri, url_key, host, enqueue_ok, can_fetch, emit_ok = r[:9]
        driver_seen.add((run_id, url_key))
        seen_rows.append(
            (run_id, url_key, uri, spark_xxhash64(url_key) % seen_buckets)
        )
        if emit_ok:
            seq = seq_off.get(run_id, 0)
            results_rows.append((run_id, seq, uri, iteration))
            seq_off[run_id] = seq + 1
            emit_counts[run_id] = emit_counts.get(run_id, 0) + 1
        if enqueue_ok:
            rank = rank_off.get(run_id, 0)
            frontier_rows.append((run_id, rank, uri, host, can_fetch))
            rank_off[run_id] = rank + 1
            enq_counts[run_id] = enq_counts.get(run_id, 0) + 1
    return {
        "results": results_rows,
        "frontier": frontier_rows,
        "seen": seen_rows,
        "seq_offsets": seq_off,
        "rank_offsets": rank_off,
        "emit_n": len(results_rows),
        "enq_n": len(frontier_rows),
        "wave_rows": len(fresh),
        "cand_total": cand_total,
        "cand_rows": len(best),
    }
