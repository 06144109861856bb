"""Config clamps (config_test.go:12-44), policy parsing (policies_test.go),
xxh64 static vectors (verified bit-identical against Spark's xxhash64), and
interpreter edge behaviors."""

import pytest

from crawley_spark.config import CrawlConfig, UnknownPolicyError, parse_dirs_policy, parse_robots_policy
from crawley_spark.interp import Page, crawl
from crawley_spark.kernels.xxh import spark_xxhash64, xxh64


def test_config_clamps():
    c = CrawlConfig(workers=100, timeout_ms=50, delay_ms=-5, depth=-10).validated()
    assert c.workers == 64
    assert c.timeout_ms == 1000
    assert c.delay_ms == 0
    assert c.depth == -1
    c2 = CrawlConfig(workers=0, timeout_ms=10**9).validated()
    assert c2.workers == 1
    assert c2.timeout_ms == 600_000


def test_policy_parse():
    assert parse_robots_policy("Respect") == "respect"
    assert parse_dirs_policy("ONLY") == "only"
    with pytest.raises(UnknownPolicyError):
        parse_robots_policy("nope")
    with pytest.raises(UnknownPolicyError):
        parse_dirs_policy("nope")


def test_dump_config():
    c = CrawlConfig(workers=32, brute=True, scan_js=True, subdomains=True)
    d = c.dump()
    assert "32" in d and "brute: on" in d and "+js" in d and "+subdomains" in d


# xxh64 vectors cross-checked against Spark's F.xxhash64 (seed 42) in-session
@pytest.mark.parametrize(
    "s,want",
    [
        ("", -7444071767201028348),
        ("a", -8582455328737087284),
        ("hello world", 7620854247404556961),
        ("http://test/some/path?foo", -191143247478414820),
        ("x" * 100, 365730103971579591),
        ("日本語テキスト", 7772424398469540022),
    ],
)
def test_spark_xxhash64_vectors(s, want):
    assert spark_xxhash64(s) == want


def test_xxh64_unsigned_range():
    assert 0 <= xxh64(b"abc") < 2**64


# -- interpreter edge: script flag persists across end tags (bug-compatible,
# html.go:51-76 — text after </script> still scanned when ScanJS) --
def test_inline_js_flag_persists_after_end_tag():
    seed = "http://t"
    body = '<html><script src="x.js"></script>"/not-extracted"<p>txt</p></html>'
    pages = {seed: Page(body=body, content_type="text/html")}
    out = crawl(pages, seed, CrawlConfig(depth=1, no_head=True, scan_js=True))
    # script had src → js flag False → following text NOT scanned
    assert all("not-extracted" not in r for r in out.results)

    body2 = '<html><script></script>var u = "/from-dangling-flag";<p></p></html>'
    pages2 = {seed: Page(body=body2, content_type="text/html")}
    out2 = crawl(pages2, seed, CrawlConfig(depth=1, no_head=True, scan_js=True))
    # empty script → js flag True persists past </script> → the following
    # text token IS scanned (reference quirk)
    assert any(r.endswith("/from-dangling-flag") for r in out2.results)


def test_seed_parse_error_raises():
    with pytest.raises(Exception):
        crawl({}, "%", CrawlConfig())


def test_robots_crawl_equals_respect():
    """policies quirk (SURVEY.md §2.7): robots=crawl and robots=respect take
    the identical code path — both enqueue robots links AND enforce deny."""
    seed = "http://t"
    pages = {
        seed: Page(body='<html><a href="/a">a</a><a href="/b">b</a></html>', content_type="text/html"),
        f"{seed}/robots.txt": Page(body="user-agent: *\ndisallow: /a"),
        f"{seed}/a": Page(body='<html><a href="/x1">x</a></html>', content_type="text/html"),
        f"{seed}/b": Page(body='<html><a href="/x2">x</a></html>', content_type="text/html"),
    }
    out_crawl = crawl(pages, seed, CrawlConfig(depth=1, no_head=True, robots_policy="crawl"))
    out_respect = crawl(pages, seed, CrawlConfig(depth=1, no_head=True, robots_policy="respect"))
    assert out_crawl.results == out_respect.results
    # /a was never fetched (deny), so /x1 never discovered; /b was
    assert not any("x1" in r for r in out_crawl.results)
    assert any("x2" in r for r in out_crawl.results)


def test_manifest_layout_guard(tmp_path):
    """ADVICE r03 (medium): the checkpoint manifest records the physical
    layout (seen buckets, Bloom shard geometry, filter kind) at
    bootstrap; resuming under a different layout raises loudly instead of
    silently mis-pruning bucket-partitioned seen reads."""
    import json

    from crawley_spark.sources.state import CrawlState, current_layout

    st = CrawlState(None, str(tmp_path))
    st.commit(0, {}, {}, False)
    assert st.manifest["layout"] == current_layout()

    # same layout → loads fine
    st2 = CrawlState(None, str(tmp_path))
    assert st2.load_manifest()

    # tamper: pretend the checkpoint was written under 1024 buckets
    with open(st.manifest_path) as f:
        m = json.load(f)
    m["layout"]["seen_buckets"] = current_layout()["seen_buckets"] + 960
    with open(st.manifest_path, "w") as f:
        json.dump(m, f)
    st3 = CrawlState(None, str(tmp_path))
    with pytest.raises(ValueError, match="layout mismatch"):
        st3.load_manifest()

    # a Bloom checkpoint from a build that still recorded the cuckoo shard
    # geometry resumes (keys the process no longer records are not compared)
    m["layout"] = dict(current_layout(), cuckoo_buckets_per_shard=4096)
    with open(st.manifest_path, "w") as f:
        json.dump(m, f)
    assert CrawlState(None, str(tmp_path)).load_manifest()

    # a checkpoint stamped by the removed cuckoo prefilter must not resume
    # into Bloom shards
    m["layout"] = dict(current_layout(), seen_filter="cuckoo", cuckoo_buckets_per_shard=4096)
    with open(st.manifest_path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="seen_filter: checkpoint='cuckoo'"):
        CrawlState(None, str(tmp_path)).load_manifest()

    # pre-r04 manifest (no layout field): back-compat, loads without check
    del m["layout"]
    with open(st.manifest_path, "w") as f:
        json.dump(m, f)
    st4 = CrawlState(None, str(tmp_path))
    assert st4.load_manifest()
