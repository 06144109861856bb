"""Bloom-prefilter correctness: the prefilter must never change results
(false positives fall back to the exact join; the shard set must cover every
seen key, including bootstrap-seeded raw seed strings). The load-bearing
property: FALSE NEGATIVES ARE IMPOSSIBLE — a "definitely new" answer must be
true; false positives only cost an exact-join lookup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawley_spark import interp
from crawley_spark.config import CrawlConfig
from crawley_spark.engine import crawl as spark_crawl
from crawley_spark.interp import Page
from crawley_spark.operators import bloom

from .conftest import pages_to_df
from .scenarios import SCENARIOS
from .test_engine_parity import run_both, synth_site


def _hashes(n, seed):
    rng = np.random.RandomState(seed)
    h1 = rng.randint(0, 2**62, n).astype(np.uint64)
    h2 = rng.randint(0, 2**62, n).astype(np.uint64)
    return h1, h2


def _contains(bitmap, h1, h2):
    """Membership in one merged shard: all BLOOM_K bits set."""
    hit = np.ones(len(h1), dtype=bool)
    for idx in bloom._bit_positions(h1, h2):
        hit &= (bitmap[idx >> 3] & (np.uint8(1) << (idx & 7).astype(np.uint8))) != 0
    return hit


def test_no_false_negatives_and_low_fp():
    h1, h2 = _hashes(20_000, 1)
    shard = bloom.merge_bitmaps([(0, bloom._bitmap(h1, h2))])[0]
    assert _contains(shard, h1, h2).all(), "false negative: inserted key reported new"
    a1, a2 = _hashes(20_000, 2)
    # 2^21 bits, k=4, 20k keys ⇒ (1 - e^(-4n/m))^4 ≈ 2e-6 expected
    assert _contains(shard, a1, a2).mean() < 0.001


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(1, 2500),
        seed=st.integers(0, 2**31 - 1),
        n_chunks=st.integers(1, 4),
    )
    def test_bloom_no_false_negative_fuzz(n, seed, n_chunks):
        """Property: for ANY key set and any split into separately-built
        shards (one per iteration), merging them — and re-merging the
        merged bitmap's bytes, as the engine does every iteration — keeps
        every inserted key maybe-seen."""
        h1, h2 = _hashes(n, seed)
        bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
        blobs = [
            (0, bloom._bitmap(h1[a:b], h2[a:b])) for a, b in zip(bounds, bounds[1:]) if b > a
        ]
        merged = bloom.merge_bitmaps(blobs)[0]
        assert _contains(merged, h1, h2).all()
        again = bloom.merge_bitmaps([(0, merged.tobytes())])[0]
        assert _contains(again, h1, h2).all()

except ImportError:  # pragma: no cover - hypothesis is in the base image
    pass


def test_cuckoo_bytes_rejected_by_bloom_backend():
    """A checkpoint written by the removed cuckoo prefilter (CKF1-tagged
    shards) must fail loudly, not silently OR garbage into a bitmap (false
    negatives). Pre-layout-record manifests have only this guard."""
    blob = b"CKF1" + bytes(60)
    with pytest.raises(ValueError, match="CKF1"):
        bloom.merge_bitmaps([(0, blob)])


def test_spark_build_matches_local(spark):
    """Bootstrap shards are built driver-side (build_shards_local, Python
    xxh64) and every later wave's shards JVM-side (build_shards over
    F.xxhash64 columns). The two must hash identically, else bootstrap keys
    become false negatives."""
    from crawley_spark.sources.state import with_bucket

    rows = [(f"run{i % 3}", f"h{i % 7}.test/p{i}") for i in range(500)]
    rows += [("run0", "h0.test/ü/€"), ("run1", "xn--bcher-kva.test/日本")]
    df = bloom.with_bloom_hashes(
        with_bucket(spark.createDataFrame(rows, "run_id string, url_key string"))
    )
    shards = {r["bucket"]: bytes(r["bitmap"]) for r in bloom.build_shards(df).collect()}
    local = dict(bloom.build_shards_local(rows))
    assert set(shards) == set(local)
    assert shards == local, "driver and JVM hashes disagree"
    # membership for every inserted key, via the real prefilter
    for built in (shards, local):
        bc = spark.sparkContext.broadcast(bloom.merge_bitmaps(list(built.items())))
        out = bloom.prefilter(df, bc).collect()
        bc.destroy()
        assert len(out) == len(rows)
        assert all(r["_maybe_seen"] for r in out), "shard lost a key"


@pytest.mark.parametrize("name", ["deep_bfs", "subdomains"])
def test_engine_parity_with_bloom_filter(spark, name):
    """The full engine, Bloom prefilter forced active from iteration 1
    (bloom_min_seen=0), must stay byte-exact vs the reference interpreter."""
    pages, seed, cfg = SCENARIOS[name]
    want, got_results, got_seen = run_both(spark, pages, seed, cfg, bloom_min_seen=0)
    assert got_results == want.results
    assert got_seen == want.seen


def test_seed_rediscovery_not_reemitted(spark):
    """Pages link back to the *raw* seed string; its key is in the bootstrap
    seen set (crawler.go:97-98) and must be bloom-covered, else it would be
    wrongly re-emitted as definitely-new."""
    seed = "http://t"
    pages = {
        seed: Page(body=f'<a href="/a">a</a>', content_type="text/html"),
        f"{seed}/a": Page(body=f'<a href="{seed}">home</a><a href="/b">b</a>', content_type="text/html"),
        f"{seed}/b": Page(body=f'<a href="{seed}">home</a>', content_type="text/html"),
    }
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, seed, cfg)
    report = spark_crawl(spark, pages_to_df(spark, pages), seed, cfg, bloom_min_seen=0, driver_wave_rows=0)
    assert report.result_urls("run0") == want.results
    assert seed not in report.result_urls("run0")
    report.state.cleanup()


def test_bloom_on_off_identical(spark):
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True)
    df = pages_to_df(spark, pages)
    on = spark_crawl(spark, df, "http://h0.example", cfg, bloom_min_seen=0, driver_wave_rows=0)
    off = spark_crawl(spark, df, "http://h0.example", cfg, bloom_min_seen=10**9, driver_wave_rows=0)
    assert on.result_urls("run0") == off.result_urls("run0")
    seen_on = {r["url_key"] for r in on.seen("run0").collect()}
    seen_off = {r["url_key"] for r in off.seen("run0").collect()}
    assert seen_on == seen_off
    # FP metric recorded and sane: false positives are a small fraction of
    # the new candidates
    fps = sum(
        r["value"] for r in on.metrics().filter("metric = 'bloom_false_positives'").collect()
    )
    new_total = on.seen("run0").count()
    assert fps <= max(2, new_total // 20)
    # with no env set, every Spark iteration records its phase times, its
    # seen path, and the seen rows the bucket-pruned join scanned wherever it
    # ran (maybe > 0)
    def by_iter(report):
        m, paths = {}, {}
        for r in report.metrics().filter("iter > 0").collect():
            m.setdefault(r["iter"], {})[r["metric"]] = r["value"]
            if r["metric"] == "seen_path":
                paths.setdefault(r["iter"], []).append(r["key"])
        # exactly one seen_path row per iteration
        assert sorted(paths) == list(range(1, report.iterations + 1)), paths
        assert all(len(p) == 1 for p in paths.values()), paths
        return m, {it: p[0] for it, p in paths.items()}

    m, paths = by_iter(on)
    assert m
    for it, row in m.items():
        assert row["index_ms"] >= 0 and row["drain_ms"] >= 0, it
        if row["bloom_maybe"] > 0:
            assert row["seen_rows_scanned"] > 0, it
            assert paths[it].startswith("bloom_"), (it, paths[it])
        else:
            assert row["seen_rows_scanned"] == -1, it
    assert any(row["bloom_maybe"] > 0 for row in m.values())
    _, off_paths = by_iter(off)
    assert set(off_paths.values()) == {"broadcast"}, off_paths
    on.state.cleanup()
    off.state.cleanup()


def test_bloom_resume_covers_prior_iterations(spark, tmp_path):
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg,
                checkpoint_dir=ck, max_iterations=2, bloom_min_seen=0, driver_wave_rows=0)
    resumed = spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg,
                          checkpoint_dir=ck, resume=True, bloom_min_seen=0, driver_wave_rows=0)
    assert resumed.result_urls("run0") == want.results


def test_bloom_catch_up_leaves_compaction_in_flight(spark, monkeypatch):
    """The lazy activation catch-up reads seen deltas only: it must not wait
    for the pending wave's compaction. Compaction is submitted on iteration
    2 (compact_every=1); Bloom activates on iteration 3 (seen reaches 13
    keys after iteration 2), whose catch-up reads the deltas while that
    compaction is still blocked on it."""
    import threading

    from crawley_spark.sources.state import CrawlState

    read = threading.Event()
    waited = []
    real_compact, real_between = CrawlState.compact_seen, CrawlState.seen_between

    def compact_seen(self, upto):
        if not waited:
            waited.append(read.wait(10))
        return real_compact(self, upto)

    def seen_between(self, after, upto):
        read.set()
        return real_between(self, after, upto)

    monkeypatch.setattr(CrawlState, "compact_seen", compact_seen)
    monkeypatch.setattr(CrawlState, "seen_between", seen_between)
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    report = spark_crawl(
        spark, pages_to_df(spark, pages), "http://h0.example", cfg,
        bloom_min_seen=13, compact_every=1, driver_wave_rows=0,
    )
    assert waited == [True], "catch-up waited for the pending compaction"
    assert report.result_urls("run0") == want.results
    assert {r["url_key"]: r["url"] for r in report.seen("run0").collect()} == want.seen
    report.state.cleanup()


def test_bloom_activation_on_second_wave_covers_first(spark, tmp_path):
    """Bloom activating on iteration 2 while iteration 1 is still pending:
    the next wave's catch-up must fold iteration 1's delta into the shards,
    in memory and on disk — a resume reads the shards back."""
    from crawley_spark.sources.state import BLOOM_STATE_SCHEMA

    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    kw = {"bloom_min_seen": 3, "driver_wave_rows": 0}  # seen has 3 keys after iteration 1
    df = pages_to_df(spark, pages)
    full = spark_crawl(spark, df, "http://h0.example", cfg, **kw)
    paths = {r["iter"]: r["key"] for r in full.metrics().filter("metric = 'seen_path'").collect()}
    assert paths[1] == "broadcast" and paths[2] == "bloom_semi", paths
    assert full.result_urls("run0") == want.results
    full.state.cleanup()
    ck = str(tmp_path / "ck")
    part = spark_crawl(spark, df, "http://h0.example", cfg, checkpoint_dir=ck, max_iterations=3, **kw)
    # every committed seen key is in the committed shards
    upto = part.state.manifest["bloom_upto"]
    shards = [
        (r["bucket"], bytes(r["bitmap"]))
        for r in part.state._read_upto("blooms", BLOOM_STATE_SCHEMA, upto).collect()
    ]
    bc = spark.sparkContext.broadcast(bloom.merge_bitmaps(shards))
    out = bloom.prefilter(bloom.with_bloom_hashes(part.state.seen(upto=upto)), bc).collect()
    bc.destroy()
    assert upto == 3 and all(r["_maybe_seen"] for r in out), "committed shards miss seen keys"
    resumed = spark_crawl(spark, df, "http://h0.example", cfg, checkpoint_dir=ck, resume=True, **kw)
    assert resumed.result_urls("run0") == want.results
    assert {r["url_key"]: r["url"] for r in resumed.seen("run0").collect()} == want.seen
