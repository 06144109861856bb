"""Spark engine ≡ pure-Python reference interpreter, byte-exact.

For every ported scenario (tests/scenarios.py) and a larger synthetic site,
the engine's emitted-URL *sequence* (ordered by seq) and final URL-seen *set*
must equal the interpreter's (SURVEY.md §3.4 canonical workers=1 FIFO order).
"""

import pytest

from crawley_spark import interp
from crawley_spark.engine import crawl as spark_crawl
from crawley_spark.config import CrawlConfig
from crawley_spark.interp import Page

from .conftest import pages_to_df
from .scenarios import SCENARIOS


def run_both(spark, pages, seed, cfg, **kw):
    # pin the pure-Spark path: these tests validate the distributed
    # machinery; the hybrid driver path has its own suite (test_driver_wave)
    kw.setdefault("driver_wave_rows", 0)
    want = interp.crawl(pages, seed, cfg)
    report = spark_crawl(spark, pages_to_df(spark, pages), seed, cfg, **kw)
    got_results = report.result_urls("run0")
    got_seen = {r["url_key"]: r["url"] for r in report.seen("run0").collect()}
    report.state.cleanup()
    return want, got_results, got_seen


def _deferred(report):
    return {
        r["iter"]: r["value"]
        for r in report.metrics().filter("metric = 'deferred'").collect()
    }


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scenario_parity(spark, name):
    pages, seed, cfg = SCENARIOS[name]
    want, got_results, got_seen = run_both(spark, pages, seed, cfg)
    assert got_results == want.results, f"{name}: emission order mismatch"
    assert got_seen == want.seen, f"{name}: seen set mismatch"


def synth_site(n_hosts=3, pages_per_host=12, links_per_page=5):
    """Deterministic multi-host site with cross links, resources, js/css."""
    pages = {}
    hosts = [f"http://h{i}.example" for i in range(n_hosts)]
    for hi, h in enumerate(hosts):
        for p in range(pages_per_host):
            links = []
            for k in range(links_per_page):
                tgt = (p * 7 + k * 3 + hi) % pages_per_host
                href = f"/p{tgt}" if k % 2 == 0 else f"{hosts[(hi + k) % n_hosts]}/p{tgt}"
                links.append(f'<a href="{href}">l{k}</a>')
            links.append(f'<img src="/img{p}.png"/>')
            links.append(f'<script src="/s{p % 3}.js"></script>')
            body = f"<html><body>page {h}/p{p} {' '.join(links)}</body></html>"
            pages[f"{h}/p{p}"] = Page(body=body, content_type="text/html")
        pages[h] = Page(
            body=f'<html><a href="/p0">root</a><a href="/p1">n</a></html>',
            content_type="text/html",
        )
        for j in range(3):
            pages[f"{h}/s{j}.js"] = Page(
                body=f'var a = "/api/{j}"; var b = "http://h{j}.example/deep";',
                content_type="application/javascript",
            )
    return pages


@pytest.mark.parametrize(
    "cfg",
    [
        CrawlConfig(depth=2, no_head=True),
        CrawlConfig(depth=-1, no_head=True, scan_js=True),
        CrawlConfig(depth=3, no_head=True, dirs_policy="hide"),
    ],
    ids=["depth2", "unlimited_js", "hide"],
)
def test_synth_site_parity(spark, cfg):
    pages = synth_site()
    want, got_results, got_seen = run_both(spark, pages, "http://h0.example", cfg)
    assert got_results == want.results
    assert got_seen == want.seen


def test_multi_run(spark):
    pages = synth_site()
    seeds = {"a": "http://h0.example", "b": "http://h1.example/p3"}
    cfg = CrawlConfig(depth=2, no_head=True)
    report = spark_crawl(spark, pages_to_df(spark, pages), seeds, cfg, driver_wave_rows=0)
    for run_id, seed in seeds.items():
        want = interp.crawl(pages, seed, cfg)
        assert report.result_urls(run_id) == want.results, run_id
        got_seen = {r["url_key"]: r["url"] for r in report.seen(run_id).collect()}
        assert got_seen == want.seen, run_id
    report.state.cleanup()


@pytest.mark.parametrize("driver_wave_rows", [256, 0], ids=["hybrid", "pure_spark"])
def test_politeness_deferral_preserves_sets(spark, driver_wave_rows):
    """Quota-based deferral must not change the URL-seen set or the emitted
    URL *set* (order may shift — documented divergence, operators/politeness).
    Both the driver-local waves (schedule_rows) and the Spark schedule path."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, delay_ms=100)
    want = interp.crawl(pages, "http://h0.example", cfg)
    report = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        politeness_budget_ms=300, driver_wave_rows=driver_wave_rows,
    )
    assert set(report.result_urls("run0")) == set(want.results)
    got_seen = {r["url_key"] for r in report.seen("run0").collect()}
    assert got_seen == set(want.seen)
    # deferral actually happened (some iteration deferred > 0)
    deferred = {
        r["iter"]: r["value"]
        for r in report.metrics().filter("metric = 'deferred'").collect()
    }
    assert any(v > 0 for v in deferred.values())
    report.state.cleanup()


_POLITE_ROWS = (
    [("run0", "mega", f"http://mega/{i:04d}", i) for i in range(300)]
    + [("run0", "b", f"http://b/{i}", i) for i in range(7)]
    + [("run1", "mega", f"http://mega/r1/{i:03d}", i) for i in range(40)]
    + [("run1", "c", f"http://c/{i}", i) for i in range(3)]
)


def test_politeness_salted_precap_equals_unsalted(spark):
    """The big-wave salted pre-cap (schedule(salt_buckets=...)) must produce
    EXACTLY the unsalted (now, deferred) split — structural argument in the
    docstring: a bucket-rank > quota row has true slot > quota, and every
    true top-quota row survives its own bucket's top-quota."""
    from crawley_spark.operators.politeness import schedule

    f = spark.createDataFrame(_POLITE_ROWS, "run_id string, host string, url string, rank long")
    for quotas in ({"run0": 5, "run1": 2}, {"run0": 5, "run1": None}):
        for buckets in (8, 64, 1024):  # incl. buckets >> rows-per-host
            now_p, def_p = schedule(f, quotas)
            now_s, def_s = schedule(f, quotas, salt_buckets=buckets)
            key = lambda df: sorted(tuple(r) for r in df.collect())
            assert key(now_s) == key(now_p), (quotas, buckets)
            assert key(def_s) == key(def_p), (quotas, buckets)


def test_schedule_rows_equals_schedule(spark):
    """The driver twin schedule_rows (driver-local polite waves) gives
    EXACTLY schedule's (now, deferred) split, unsalted and salted, on the
    same multi-run / mega-host / None-quota rows."""
    import random

    from crawley_spark.operators.politeness import schedule, schedule_rows

    f = spark.createDataFrame(_POLITE_ROWS, "run_id string, host string, url string, rank long")
    # frontier tuples (run_id, rank, url, host, can_fetch), shuffled: the
    # twin must order by rank itself, as the Spark window does
    tuples = [(run, rank, url, host, True) for run, host, url, rank in _POLITE_ROWS]
    random.Random(7).shuffle(tuples)
    url_keys = lambda rows: sorted((r[0], r[2]) for r in rows)
    df_keys = lambda df: sorted((r["run_id"], r["url"]) for r in df.collect())
    for quotas in ({"run0": 5, "run1": 2}, {"run0": 5, "run1": None}):
        now_r, def_r = schedule_rows(tuples, quotas)
        assert len(now_r) + len(def_r) == len(tuples)
        for buckets in (None, 64):
            now_s, def_s = schedule(f, quotas, salt_buckets=buckets)
            assert url_keys(now_r) == df_keys(now_s), (quotas, buckets)
            assert url_keys(def_r) == df_keys(def_s), (quotas, buckets)
    # no quotas: the frontier comes back unchanged, nothing deferred
    assert schedule_rows(tuples, {"run0": None, "run1": None}) == (tuples, [])


def test_resume_mid_crawl(spark, tmp_path):
    """Kill after iteration k, resume from checkpoint → identical output."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    partial = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, max_iterations=2, driver_wave_rows=0,
    )
    assert partial.iterations == 2
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, resume=True, driver_wave_rows=0,
    )
    assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


@pytest.mark.parametrize(
    "kw, consts",
    [
        (dict(bloom_min_seen=0), {}),  # bucket-pruned broadcast semi-join path
        # pruned shuffle fallback; also drains the carried delta first
        (dict(bloom_min_seen=0), {"SEMI_BROADCAST_ROWS": 0}),
        # bloom_min_seen never reached, but seen is past the broadcast limit
        (dict(bloom_min_seen=10**9), {"BROADCAST_SEEN_ROWS": 0}),
        (dict(bloom_min_seen=10**9), {}),  # broadcast-seen anti-join (small seen)
    ],
    ids=["semi_join", "pruned_shuffle", "broadcast_limit", "broadcast_seen"],
)
def test_seen_join_strategies_parity(spark, monkeypatch, kw, consts):
    """Every seen-check path (engine.py step 4) must produce the
    byte-identical emission order + seen set of the reference interpreter.
    ``consts`` monkeypatches the engine's size limits to force a path."""
    from crawley_spark import engine

    for name, value in consts.items():
        monkeypatch.setattr(engine, name, value)
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    report = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        driver_wave_rows=0, **kw,
    )
    assert report.result_urls("run0") == want.results, kw
    got_seen = {r["url_key"]: r["url"] for r in report.seen("run0").collect()}
    assert got_seen == want.seen, kw
    paths = {
        r["iter"]: r["key"]
        for r in report.metrics().filter("metric = 'seen_path'").collect()
    }
    report.state.cleanup()
    assert sorted(paths) == list(range(1, report.iterations + 1)), paths
    if "BROADCAST_SEEN_ROWS" in consts:
        # a seen table past the broadcast limit is never broadcast whole,
        # whatever bloom_min_seen says
        assert set(paths.values()) <= {"bloom_semi", "bloom_shuffle"}, paths
    if "SEMI_BROADCAST_ROWS" in consts:
        assert "bloom_shuffle" in paths.values(), paths


def test_seen_partitioned_layout_and_compaction(spark, tmp_path):
    """Seen deltas land bucket-partitioned (pb= dirs), compaction folds them
    into one committed snapshot, pruned reads return exactly the requested
    buckets, and the final state still matches the interpreter."""
    import os

    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    report = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, compact_every=2, driver_wave_rows=0,
    )
    assert report.iterations >= 3, "site too small to exercise compaction"
    # compaction committed + bucket-partitioned snapshot exists
    c = report.state.manifest["seen_compact"]
    assert c >= 0
    snap = os.path.join(ck, "seen_compact", f"upto={c}")
    pb_dirs = [d for d in os.listdir(snap) if d.startswith("pb=")]
    assert pb_dirs, "expected pb= partition dirs in the compacted snapshot"
    # full read (compact + deltas) equals the interpreter's seen set
    got_seen = {r["url_key"]: r["url"] for r in report.seen("run0").collect()}
    assert got_seen == want.seen
    assert report.result_urls("run0") == want.results
    # pruned read: a correct superset of the requested buckets' rows (the
    # snapshot prunes to pb= dirs; unpartitioned recent deltas are read
    # whole by design) and strictly smaller than the full table
    all_rows = report.state.seen().collect()
    buckets = sorted({r["bucket"] for r in all_rows})[:2]
    pruned = {tuple(r) for r in report.state.seen(buckets=buckets).collect()}
    wanted = {tuple(r) for r in all_rows if r["bucket"] in set(buckets)}
    assert wanted <= pruned <= {tuple(r) for r in all_rows}
    assert len(pruned) < len(all_rows), "bucket pruning read the whole table"


@pytest.mark.parametrize(
    "kw",
    [
        {"driver_wave_rows": 0},
        {"driver_wave_rows": 0, "politeness_budget_ms": 300},
        {},  # default cut-off: the swallowed commits are driver waves'
    ],
    ids=["no_quota", "polite", "driver_wave"],
)
def test_resume_after_simulated_crash(spark, tmp_path, monkeypatch, kw):
    """Crash inside the commit window: iteration k+1's table writes are
    durable but its manifest commit never happened (a Spark wave on the
    carried frontier commits one iteration behind; a driver wave writes its
    tables before it commits). Resume from the stale manifest must replay
    the uncommitted tail over the leftover dirs (idempotent overwrites) and
    still match the interpreter exactly — as sets under quotas, whose
    deferral may permute emission order."""
    from crawley_spark.sources.state import CrawlState

    polite = "politeness_budget_ms" in kw
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, delay_ms=100 if polite else 0)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")

    real_commit = CrawlState.commit

    def commit_drops_tail(self, iteration, *a, **kw):
        # commits for iteration >= 2 are swallowed: every write for the
        # later iterations lands on disk, the manifest stays at 1 — the
        # harshest version of dying between write completion and commit
        if iteration >= 2:
            return None
        return real_commit(self, iteration, *a, **kw)

    monkeypatch.setattr(CrawlState, "commit", commit_drops_tail)
    crashed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, **kw,
    )
    assert crashed.iterations >= 3, "site too small to leave uncommitted dirs"
    monkeypatch.setattr(CrawlState, "commit", real_commit)
    uncommitted = {
        r["metric"]: r["iter"]
        for r in crashed.state.metrics(upto=crashed.iterations)
        .filter("iter >= 2 AND metric IN ('driver_path', 'deferred') AND value > 0")
        .collect()
    }
    if "driver_wave_rows" not in kw:
        assert "driver_path" in uncommitted, "no uncommitted driver wave"
    if polite:
        assert "deferred" in uncommitted, "no uncommitted deferral"

    state = CrawlState(spark, ck)
    assert state.load_manifest() and state.manifest["iteration"] == 1
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, resume=True, **dict(kw, driver_wave_rows=0),
    )
    if polite:
        assert set(resumed.result_urls("run0")) == set(want.results)
    else:
        assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


def test_compaction_failure_leaves_manifest_and_resumes(spark, tmp_path, monkeypatch):
    """A compaction that wrote its snapshot and then failed: the crawl
    raises that error, the manifest never points at the orphan snapshot,
    and a resume over the leftover dirs matches the interpreter."""
    import os

    from crawley_spark.sources.state import CrawlState

    real = CrawlState.compact_seen
    failed = []

    def compact_then_fail(self, upto):
        out = real(self, upto)
        if not failed:
            failed.append(upto)
            raise RuntimeError("injected compaction failure")
        return out

    monkeypatch.setattr(CrawlState, "compact_seen", compact_then_fail)
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    kw = {"compact_every": 1, "driver_wave_rows": 0}
    with pytest.raises(RuntimeError, match="injected compaction failure"):
        spark_crawl(
            spark, pages_to_df(spark, pages), "http://h0.example", cfg,
            checkpoint_dir=ck, **kw,
        )
    assert failed, "no compaction ran"
    assert os.path.isdir(os.path.join(ck, "seen_compact", f"upto={failed[0]}"))
    state = CrawlState(spark, ck)
    assert state.load_manifest()
    assert state.manifest["seen_compact"] != failed[0]
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, resume=True, **kw,
    )
    assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


def test_resume_after_compaction(spark, tmp_path):
    """Kill after compaction has run, resume → identical output (the compact
    pointer + delta read path must survive the restart)."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    partial = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, max_iterations=4, compact_every=2, driver_wave_rows=0,
    )
    assert partial.state.manifest["seen_compact"] >= 0
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, resume=True, compact_every=2, driver_wave_rows=0,
    )
    assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


def test_robots_parsed_once_per_crawl(spark, tmp_path, monkeypatch):
    """A fresh crawl reuses the robots rules its bootstrap parsed, and a
    resume parses them once: one filtered corpus collect either way."""
    import crawley_spark.engine as eng

    calls = []
    real = eng._collect_robots

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(eng, "_collect_robots", spy)
    seed = "http://h0.example"
    pages = synth_site()
    pages[f"{seed}/robots.txt"] = Page(
        body="User-agent: *\nDisallow: /p3\n", content_type="text/plain"
    )
    cfg = CrawlConfig(depth=-1, no_head=True, robots_policy="respect")
    want = interp.crawl(pages, seed, cfg)
    ck = str(tmp_path / "ck")
    spark_crawl(
        spark, pages_to_df(spark, pages), seed, cfg, checkpoint_dir=ck, max_iterations=2
    )
    assert len(calls) == 1, "fresh crawl parsed robots more than once"
    calls.clear()
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), seed, cfg, checkpoint_dir=ck, resume=True
    )
    assert len(calls) == 1, "resume must parse robots exactly once"
    assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


def test_fresh_crawl_skips_startup_reads(spark, tmp_path, monkeypatch):
    """A fresh crawl starts from the Bloom shards and seen rows its
    bootstrap holds in memory: no blooms or seen read before the first
    iteration. A resume does not hold them, so it reads both back."""
    import crawley_spark.engine as eng
    from crawley_spark.sources.state import CrawlState

    events = []

    def spy(owner, name, tag):
        real = getattr(owner, name)

        def wrapped(*a, **kw):
            tag_ = tag(*a, **kw) if callable(tag) else tag
            if tag_:
                events.append(tag_)
            return real(*a, **kw)

        monkeypatch.setattr(owner, name, wrapped)

    spy(CrawlState, "_read_upto", lambda self, table, *a, **kw: table == "blooms" and "blooms")
    spy(CrawlState, "seen", "seen")
    spy(eng, "schedule", "iteration")
    spy(eng, "schedule_rows", "iteration")

    def startup_reads():
        return set(events[: events.index("iteration")]) if "iteration" in events else set(events)

    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, max_iterations=2,
    )
    assert startup_reads() == set(), events
    events.clear()
    resumed = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=ck, resume=True,
    )
    assert startup_reads() == {"blooms", "seen"}, events
    assert resumed.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()}
    assert got_seen == want.seen


@pytest.mark.parametrize("polite", [False, True], ids=["no_quota", "polite"])
def test_crawl_ending_wave_skips_compaction(spark, tmp_path, monkeypatch, polite):
    """With compact_every=1 every Spark wave from the second on compacts,
    except the one whose next frontier is empty: nothing reads that
    snapshot. A crawl cut by max_iterations still compacts on its last
    iteration, since it may be resumed. Under quotas the deferred rows
    count toward the next frontier."""
    from crawley_spark.sources.state import CrawlState

    compacted = []
    real = CrawlState.compact_seen

    def spy(self, upto):
        compacted.append(upto + 1)  # the iteration that submitted it
        return real(self, upto)

    monkeypatch.setattr(CrawlState, "compact_seen", spy)
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, delay_ms=100 if polite else 0)
    kw = {"compact_every": 1, "driver_wave_rows": 0}
    if polite:
        kw["politeness_budget_ms"] = 300
    want = interp.crawl(pages, "http://h0.example", cfg)
    full = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=str(tmp_path / "full"), **kw,
    )
    n = full.iterations
    assert n >= 4, "site too small to exercise compaction"
    assert compacted == list(range(2, n)), (n, compacted)
    assert full.state.manifest["seen_compact"] == n - 2
    if polite:
        assert sum(_deferred(full).values()) > 0, "no deferral exercised"
        assert set(full.result_urls("run0")) == set(want.results)
    else:
        assert full.result_urls("run0") == want.results
    got_seen = {r["url_key"]: r["url"] for r in full.seen("run0").collect()}
    assert got_seen == want.seen

    compacted.clear()
    cut = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        checkpoint_dir=str(tmp_path / "cut"), max_iterations=n - 1, **kw,
    )
    assert cut.iterations == n - 1
    assert compacted and compacted[-1] == n - 1, (n, compacted)
    assert cut.state.manifest["seen_compact"] == n - 2


def test_exception_mid_crawl_releases_pool_and_cache(spark, monkeypatch):
    """A Spark job failing mid-crawl must not leak the finalize thread pool,
    in-flight futures, or the persisted wave (VERDICT r02 "what's wrong" #3
    / ADVICE r02): the loop's finally drains or cancels pending work and
    shuts the pool down, and the injected error still propagates."""
    import crawley_spark.engine as eng
    from crawley_spark.sources.state import CrawlState

    pools = []
    real_tpe = eng.ThreadPoolExecutor

    class RecordingPool(real_tpe):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            pools.append(self)

    monkeypatch.setattr(eng, "ThreadPoolExecutor", RecordingPool)

    real_write = CrawlState.write

    def failing_write(self, table, iteration, df):
        if table == "results" and iteration >= 2:
            raise RuntimeError("injected write failure")
        return real_write(self, table, iteration, df)

    monkeypatch.setattr(CrawlState, "write", failing_write)

    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    with pytest.raises(RuntimeError, match="injected write failure"):
        spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg, driver_wave_rows=0)
    assert pools, "engine did not construct its pool through the patched class"
    assert all(p._shutdown for p in pools), "thread pool leaked on exception"
    # the persisted candidate wave was released (cancel path unpersists)
    jsc = spark.sparkContext._jsc.sc()
    cached = [
        jsc.getRDDStorageInfo()[i].name()
        for i in range(len(jsc.getRDDStorageInfo()))
    ]
    assert not any("MapInArrow" in (n or "") for n in cached), cached


def test_quota_crawl_reads_frontier_only_after_deferral(spark, monkeypatch):
    """A Spark wave that deferred nothing carries its fresh rows in memory,
    quotas or not: the committed frontier snapshot is read only for the
    bootstrap frontier and after waves that deferred rows."""
    from crawley_spark.sources.state import CrawlState

    reads = []
    real = CrawlState.frontier

    def spy(self, iteration):
        reads.append(iteration)
        return real(self, iteration)

    monkeypatch.setattr(CrawlState, "frontier", spy)
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, delay_ms=100)
    want = interp.crawl(pages, "http://h0.example", cfg)
    report = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        politeness_budget_ms=300, driver_wave_rows=0,
    )
    deferred = _deferred(report)
    assert any(v > 0 for v in deferred.values()), "no deferral exercised"
    assert reads == [0] + sorted(i for i, v in deferred.items() if v > 0), (reads, deferred)
    assert set(report.result_urls("run0")) == set(want.results)
    got_seen = {r["url_key"]: r["url"] for r in report.seen("run0").collect()}
    assert got_seen == want.seen
    report.state.cleanup()


def test_frontier_cap_bounded_queue(spark):
    """Q3 opt-in deterministic analogue of the reference's bounded queues
    (SURVEY §2.6): per-iteration fresh enqueues per run are capped in
    canonical order, the tail is dropped with a metric, dropped URLs stay
    in seen (insert-then-maybe-drop, crawler.go linkHandler), and a
    never-binding cap reproduces the lossless crawl exactly."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    pdf = pages_to_df(spark, pages)
    base = spark_crawl(spark, pdf, "http://h0.example", cfg)
    base_results = base.result_urls("run0")
    base.state.cleanup()

    big = spark_crawl(spark, pdf, "http://h0.example", cfg, frontier_cap=10**6)
    assert big.result_urls("run0") == base_results
    big.state.cleanup()

    capped = spark_crawl(spark, pdf, "http://h0.example", cfg, frontier_cap=3)
    rows = capped.metrics().collect()
    enq = [r["value"] for r in rows if r["metric"] == "enqueued"]
    dropped = sum(r["value"] for r in rows if r["metric"] == "dropped_overflow")
    assert all(v <= 3 for v in enq), enq  # single run → ≤ cap fresh/iteration
    assert dropped > 0
    capped_results = capped.result_urls("run0")
    capped.state.cleanup()
    # a lossy crawl discovers strictly less, never something new
    assert set(capped_results) < set(base_results)
