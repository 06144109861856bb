"""Hybrid driver-local small-wave fast path (operators/local_wave.py).

The engine runs tiny BFS waves on the driver (one pushed-down corpus scan,
pure-Python extract/dedup/order over the exact driver-resident seen set)
and big waves on Spark. These tests pin that hybrid ≡ pure-Spark ≡
interpreter byte-for-byte — emission order, seen set, and state tables —
across all-driver runs, mixed driver↔Spark transitions in both directions,
the seen-cap overflow handoff, politeness quotas (the driver splits each
wave with schedule_rows), and resume (which never uses the driver path but
must read driver-written state).
"""

import pytest

from crawley_spark import interp
from crawley_spark.config import CrawlConfig
from crawley_spark.engine import crawl as spark_crawl

from .conftest import pages_to_df
from .scenarios import SCENARIOS
from .test_engine_parity import _deferred, synth_site


def _driver_iters(report):
    return {
        r["iter"]
        for r in report.metrics().collect()
        if r["metric"] == "driver_path"
    }


def _assert_driver_phase_rows(report, driver_iters):
    """Every driver wave records its fetch and extract phase times."""
    phases = {
        (r["iter"], r["metric"]): r["value"]
        for r in report.metrics().collect()
        if r["metric"] in ("fetch_ms", "extract_ms")
    }
    for i in driver_iters:
        for m in ("fetch_ms", "extract_ms"):
            assert phases.get((i, m), -1) >= 0, f"iteration {i} has no {m} row"


def _run(spark, pages, seed, cfg, **kw):
    report = spark_crawl(spark, pages_to_df(spark, pages), seed, cfg, **kw)
    results = report.result_urls("run0")
    seen = {r["url_key"]: r["url"] for r in report.seen("run0").collect()}
    driver_iters = _driver_iters(report)
    _assert_driver_phase_rows(report, driver_iters)
    n_iters = report.iterations
    report.state.cleanup()
    return results, seen, driver_iters, n_iters


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scenario_parity_hybrid(spark, name):
    pages, seed, cfg = SCENARIOS[name]
    want = interp.crawl(pages, seed, cfg)
    results, seen, driver_iters, _ = _run(spark, pages, seed, cfg)
    assert results == want.results, f"{name}: emission order mismatch"
    assert seen == want.seen, f"{name}: seen set mismatch"


def test_synth_all_driver_parity(spark):
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    results, seen, driver_iters, n_iters = _run(
        spark, pages, "http://h0.example", cfg
    )
    assert results == want.results
    assert seen == want.seen
    # the whole site is tiny: every iteration should have taken the fast path
    assert driver_iters, "hybrid never engaged on a tiny site"
    assert len(driver_iters) == n_iters


def test_fetch_filter_quotes_urls(spark):
    """The driver wave's ``url IN (...)`` fetch filter is one SQL string, so
    page URLs holding a quote, a backslash, a percent escape or non-ASCII
    text must still match their corpus rows exactly: each such page links
    to a leaf only its own fetch can discover."""
    seed = "http://w.example"
    odd = [
        "/it's",
        "/a%20b",
        "/q?b=\\x",
        "/q?d=\\'e",
        "/q?e=\\\\n",
        "/q?c=café",
        "/r?g=日本&h=' OR '1'='1",
    ]
    pages = {seed: interp.Page(
        body="".join(f'<a href="{h}">o</a>' for h in odd), content_type="text/html"
    )}
    for i, h in enumerate(odd):
        pages[seed + h] = interp.Page(
            body=f'<a href="/leaf{i}">l</a>', content_type="text/html"
        )
        pages[f"{seed}/leaf{i}"] = interp.Page(body="<html></html>", content_type="text/html")
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, seed, cfg)
    # the corpus keys are the resolved URLs: every odd page and its leaf
    # is reached, so a fetch that misses a row changes the results
    assert set(want.results) == set(pages) - {seed}
    for kw in ({}, {"driver_wave_rows": 0}):
        results, seen, driver_iters, n_iters = _run(spark, pages, seed, cfg, **kw)
        assert results == want.results, kw
        assert seen == want.seen, kw
        if not kw:
            assert len(driver_iters) == n_iters, "expected all-driver waves"


def test_mixed_transitions_parity(spark):
    """driver → Spark (wave outgrows the threshold) → driver (tail shrinks
    back under it): both handoffs preserve exact order + seen state."""
    # broad middle (root fans out to 8, each fans to 8 more) so mid waves
    # exceed the threshold, then a 1-wide chain tail so late waves shrink
    # back under it
    pages = {"http://t.example": interp.Page(
        body="".join(f'<a href="/p{i}">p</a>' for i in range(8)),
        content_type="text/html",
    )}
    for i in range(8):
        pages[f"http://t.example/p{i}"] = interp.Page(
            body="".join(f'<a href="/q{i}_{j}">q</a>' for j in range(8))
            + ('<a href="/c0">c</a>' if i == 0 else ""),
            content_type="text/html",
        )
        for j in range(8):
            pages[f"http://t.example/q{i}_{j}"] = interp.Page(
                body="<html>leaf</html>", content_type="text/html"
            )
    for k in range(5):
        pages[f"http://t.example/c{k}"] = interp.Page(
            body=f'<a href="/c{k + 1}">n</a>', content_type="text/html"
        )
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://t.example", cfg)
    results, seen, driver_iters, n_iters = _run(
        spark, pages, "http://t.example", cfg, driver_wave_rows=2
    )
    assert results == want.results
    assert seen == want.seen
    spark_iters = set(range(1, n_iters + 1)) - driver_iters
    assert driver_iters and spark_iters, (
        f"expected a mix of driver and Spark iterations, got driver={driver_iters}"
        f" of {n_iters}"
    )
    # the head wave (1 seed URL) is driver-side; at least one later driver
    # iteration follows a Spark one (the shrink-back handoff)
    assert 1 in driver_iters
    assert any(i - 1 in spark_iters for i in driver_iters if i > 1), (
        "no Spark→driver handoff exercised"
    )


def test_seen_cap_overflow_hands_off(spark):
    """A wave that pushes the driver seen set past driver_seen_cap disables
    the fast path permanently; the crawl finishes pure-Spark, still exact."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    results, seen, driver_iters, n_iters = _run(
        spark, pages, "http://h0.example", cfg, driver_seen_cap=10
    )
    assert results == want.results
    assert seen == want.seen
    # once disabled it must never come back, even for tiny tail waves
    if driver_iters:
        assert max(driver_iters) < n_iters or len(driver_iters) == n_iters


def test_hybrid_matches_pure_spark_state(spark):
    """Beyond interpreter parity: the hybrid run's full state tables
    (results incl. seq + iteration, seen incl. bucket) match pure-Spark."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True)
    df = pages_to_df(spark, pages)
    hy = spark_crawl(spark, df, "http://h0.example", cfg)
    ps = spark_crawl(spark, df, "http://h0.example", cfg, driver_wave_rows=0)
    for table in ("results", "seen"):
        a = sorted(tuple(r) for r in getattr(hy, table)("run0").collect())
        b = sorted(tuple(r) for r in getattr(ps, table)("run0").collect())
        assert a == b, f"{table} table diverged"
    assert hy.iterations == ps.iterations
    hy.state.cleanup()
    ps.state.cleanup()


def test_multi_run_hybrid(spark):
    pages = synth_site()
    seeds = {"a": "http://h0.example", "b": "http://h1.example/p3"}
    cfg = CrawlConfig(depth=2, no_head=True)
    report = spark_crawl(spark, pages_to_df(spark, pages), seeds, cfg)
    for run_id, seed in seeds.items():
        want = interp.crawl(pages, seed, cfg)
        assert report.result_urls(run_id) == want.results, run_id
        got_seen = {r["url_key"]: r["url"] for r in report.seen(run_id).collect()}
        assert got_seen == want.seen, run_id
    report.state.cleanup()


@pytest.mark.parametrize("driver_wave_rows", [256, 2], ids=["all_driver", "spark_handback"])
def test_quotas_hybrid_matches_pure_spark_state(spark, driver_wave_rows):
    """Politeness quotas run driver-local waves (schedule_rows gates on the
    rows fetched now, the deferred rest stays in the driver frontier) with
    the pure-Spark loop's exact state: results, seen, every frontier
    snapshot, the per-iteration deferred metric and the manifest offsets.
    ``driver_wave_rows=2`` sits below the quota's now size (3 per host), so
    Spark waves that deferred rows hand back to driver waves."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True, delay_ms=100)
    df = pages_to_df(spark, pages)
    kw = {"politeness_budget_ms": 300}
    hy = spark_crawl(
        spark, df, "http://h0.example", cfg, driver_wave_rows=driver_wave_rows, **kw
    )
    ps = spark_crawl(spark, df, "http://h0.example", cfg, driver_wave_rows=0, **kw)
    rows = lambda d: sorted(tuple(r) for r in d.collect())
    for table in ("results", "seen"):
        assert rows(getattr(hy, table)("run0")) == rows(getattr(ps, table)("run0")), table
    assert hy.iterations == ps.iterations
    for i in range(hy.iterations + 1):
        assert rows(hy.state.frontier(i)) == rows(ps.state.frontier(i)), f"frontier {i}"
    deferred = _deferred(hy)
    assert deferred == _deferred(ps)
    assert any(v > 0 for v in deferred.values()), "no deferral exercised"
    for k in ("rank_offsets", "seq_offsets"):
        assert hy.state.manifest[k] == ps.state.manifest[k], k
    driver_iters = _driver_iters(hy)
    assert driver_iters, "quota crawl never took the driver path"
    if driver_wave_rows == 2:
        spark_iters = set(range(1, hy.iterations + 1)) - driver_iters
        assert any(
            deferred[i] > 0 and i + 1 in driver_iters for i in spark_iters
        ), (f"no deferring Spark wave handed back to the driver: driver={driver_iters}"
            f" deferred={deferred}")
    hy.state.cleanup()
    ps.state.cleanup()


def test_quotas_resume_after_driver_deferral(spark, tmp_path):
    """A polite crawl killed after driver waves that wrote deferred rows
    resumes (pure-Spark by design) from the driver-written snapshot and
    reaches the interpreter's emitted and seen sets."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, delay_ms=100)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    kw = {"checkpoint_dir": ck, "politeness_budget_ms": 300}
    partial = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        max_iterations=3, **kw,
    )
    assert partial.iterations == 3
    deferred = _deferred(partial)
    assert any(deferred[i] > 0 for i in _driver_iters(partial)), (
        f"no driver wave deferred rows before the kill: {deferred}"
    )
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg, resume=True, **kw
    )
    assert not _driver_iters(resumed) - _driver_iters(partial)
    assert set(resumed.result_urls("run0")) == set(want.results)
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


def test_resume_reads_driver_written_state(spark, tmp_path):
    """A crawl whose early iterations ran driver-side checkpoints the same
    tables; a resumed run (pure-Spark by design) finishes it exactly."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    partial = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, max_iterations=2,
    )
    assert partial.iterations == 2
    assert _driver_iters(partial), "head waves should have run driver-side"
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, resume=True,
    )
    assert not _driver_iters(resumed) - _driver_iters(partial)
    assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen
