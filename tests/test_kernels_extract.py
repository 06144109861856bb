"""Golden vectors ported from the reference's extraction unit tests.

html:    /root/reference/internal/links/html_test.go
js:      links/js_test.go:36-84 (26 literals, exactly 6 accepted)
css:     links/css_test.go:8-28
sitemap: links/sitemap_test.go:9-122
robots:  /root/reference/internal/robots/robots_test.go:10-25,45-72
"""

import pytest

from crawley_spark.functions.tags import prepare_filter
from crawley_spark.kernels import gourl, robotsx
from crawley_spark.kernels.cssx import extract_css
from crawley_spark.kernels.htmlx import (
    HTMLParams,
    extract_comment,
    extract_html,
    extract_token,
)
from crawley_spark.kernels.jsx import extract_js
from crawley_spark.kernels.sitemapx import extract_sitemap

TEST_BASE = gourl.parse("http://test/")
TEST_RES1 = "http://test/result"

ATTRS = [("src", "result"), ("srcset", "result"), ("href", "result"), ("data", "result"), ("action", "result")]


# -- html_test.go:57-223 (TestExtractToken) --
@pytest.mark.parametrize(
    "tag,attrs,key_start,key_want,want_url",
    [
        ("", [], "", "", ""),
        ("img", ATTRS, "", "", TEST_RES1),
        ("image", ATTRS, "", "", TEST_RES1),
        ("video", ATTRS, "", "src", TEST_RES1),
        ("audio", ATTRS, "", "src", TEST_RES1),
        ("script", ATTRS, "", "", TEST_RES1),
        ("track", ATTRS, "", "", TEST_RES1),
        ("object", ATTRS, "", "", TEST_RES1),
        ("a", ATTRS, "", "", TEST_RES1),
        ("iframe", ATTRS, "", "", TEST_RES1),
        ("audio", [], "", "src", ""),
        ("picture", [], "", "srcset", ""),
        ("source", ATTRS, "src", "src", TEST_RES1),
        ("form", ATTRS, "", "", TEST_RES1),
        ("link", ATTRS, "src", "src", TEST_RES1),
        ("style", [], "", "", ""),
    ],
)
def test_extract_token(tag, attrs, key_start, key_want, want_url):
    got = {}

    def handle(a, s):
        got["url"] = s

    js, css, key = extract_token(TEST_BASE, tag, attrs, key_start, handle)
    assert key == key_want
    assert got.get("url", "") == want_url


def test_extract_token_flags():
    js, css, _ = extract_token(TEST_BASE, "script", [], "", lambda a, s: None)
    assert js and not css
    js, css, _ = extract_token(TEST_BASE, "script", ATTRS, "", lambda a, s: None)
    assert not js
    js, css, _ = extract_token(TEST_BASE, "style", [], "", lambda a, s: None)
    assert css and not js


# -- html_test.go:225-247 (inline JS), 249-271 (inline CSS) --
def test_extract_html_inline_js():
    raw = '<html><script>var url = "http://example.com";</script></html>'
    res = []
    extract_html(raw, TEST_BASE, HTMLParams(scan_js=True, handle_static=res.append))
    assert res == ["http://example.com"]


def test_extract_html_inline_css():
    raw = "<html><style>foo {bar:url(test.png);}</style></html>"
    res = []
    extract_html(raw, TEST_BASE, HTMLParams(scan_css=True, handle_static=res.append))
    assert len(res) == 1 and res[0].endswith("test.png")


# -- html_test.go:273-338 (TestExtractURLS) --
@pytest.mark.parametrize(
    "raw,has_link,lnk",
    [
        ('<html><a href="result">here</a></html>', True, TEST_RES1),
        ('<html><form action="result"></form></html>', True, TEST_RES1),
        ("<html><!-- http://test/result --></html>", True, TEST_RES1),
        ("<html><video></video></html>", False, ""),
    ],
)
def test_extract_urls(raw, has_link, lnk):
    res = []
    extract_html(raw, TEST_BASE, HTMLParams(brute=True, handle_html=lambda a, s: res.append(s)))
    if has_link:
        assert res and res[-1] == lnk
    else:
        assert not res


# -- html_test.go:340-364 (TestExtractComment) --
def test_extract_comment():
    comment = '\nloremipsumhTTp://foo fdfdfs HttPs://bar\n       http://\n https://baz  http://boo"'
    res = []
    extract_comment(comment, lambda a, s: res.append(s.lower()))
    assert res == ["http://foo", "https://bar", "https://baz", "http://boo"]


# -- html_test.go:366-394 (TestExtractAllowed) --
def test_extract_allowed():
    raw = '<html><a href="result-a">here</a><form action="result-form"></form></html>'
    res = []
    extract_html(
        raw,
        TEST_BASE,
        HTMLParams(filter=prepare_filter(["a"]), brute=True, handle_html=lambda a, s: res.append(s)),
    )
    assert len(res) == 1
    assert res[0].endswith("result-a")


# -- per-tag matrix through full html (key-switch order dependence) --
def test_source_key_switching():
    raw = (
        '<html><video><source srcset="v-srcset" src="v-src"/></video>'
        '<picture><source srcset="p-srcset" src="p-src"/></picture>'
        '<audio><source srcset="a-srcset" src="a-src"/></audio></html>'
    )
    res = []
    extract_html(raw, TEST_BASE, HTMLParams(handle_html=lambda a, s: res.append(s)))
    assert res == [
        "http://test/v-src",
        "http://test/p-srcset",
        "http://test/a-src",
    ]


# -- js_test.go:36-84 --
JS_FIXTURE = r'''function() {
 		urls = [
			// invalid ones
			"user/create.notaext?user=Test",
			"text/html",
			"text/plain",
			"application/json",
			"api/create.php?user=test#home",
		    "api/create.php",
			"api/create.php?user=test"
		    "api/create.php?user=test&pass=test",
			"user/create.action?user=Test",
		    "api/user",
		    "test_1.json",
    		"v1/create",
    		"api/v1/user/2",
			"api/v1/search?text=Test Hello",
			"test2.aspx?arg1=tmp1+tmp2&arg2=tmp3",
   			"addUser.action",
    		"main.js",
    		"index.html",
    		"robots.txt",
    		"users.xml"
			// valid ones
			"smb://example.com",
			"http://example.com",
			"https://www.example.co.us",
			"/api/create.php?user=test&pass=test#home",
			"/path/to/file",
			"/user/create.action?user=Test"
		];
		}'''


def test_extract_js_fixture():
    res = []
    extract_js(JS_FIXTURE, res.append)
    assert len(res) == 6
    assert res == [
        "smb://example.com",
        "http://example.com",
        "https://www.example.co.us",
        "/api/create.php?user=test&pass=test#home",
        "/path/to/file",
        "/user/create.action?user=Test",
    ]


def test_extract_js_template_literal_skipped():
    res = []
    extract_js('let a = `/tpl/${x}`; let b = "/keep";', res.append)
    assert res == ["/keep"]


# -- css_test.go:8-28 --
def test_extract_css_fixture():
    css = '\n.background {\n  overground: url();\n  foreground: yellow;\n  background: url("test.png");\n}\n'
    res = []
    extract_css(css, res.append)
    assert res == ["test.png"]


def test_extract_css_scheme_relative():
    res = []
    extract_css("foo {bar:url(//static/test.png);}", res.append)
    assert res == ["//static/test.png"]


# -- sitemap_test.go --
SITEMAP_URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>http://HOST/</loc>
  </url>
  <url>
    <loc>http://HOST/tools/</loc>
    <lastmod>2015-05-07T19:13:09+09:00</lastmod>
  </url>
  <url>
    <loc>http://HOST/contribution-to-oss/</loc>
    <lastmod>2015-05-07</lastmod>
    <changefreq>monthly</changefreq>
  </url>
  <url>
    <loc>http://HOST/page-1/</loc>
    <lastmod>2015-05-07T19:13:09+09:00</lastmod>
    <changefreq>monthly</changefreq>
    <priority>0.9</priority>
  </url>
</urlset>"""

SITEMAP_INDEX = """<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap>
    <loc>http://www.example.com/sitemap1.xml.gz</loc>
    <lastmod>2004-10-01T18:23:17+00:00</lastmod>
  </sitemap>
  <sitemap>
    <loc>http://www.example.com/sitemap2.xml.gz</loc>
    <lastmod>2005-01-01</lastmod>
  </sitemap>
  <sitemap>
    <loc>http://www.example.com/sitemap3.xml.gz</loc>
  </sitemap>
</sitemapindex>"""


def test_extract_sitemap_urlset():
    res = []
    extract_sitemap(SITEMAP_URLSET, gourl.parse("http://HOST"), res.append)
    assert len(res) == 4


def test_extract_sitemap_index():
    res = []
    extract_sitemap(SITEMAP_INDEX, gourl.parse("http://www.example.com"), res.append)
    assert len(res) == 3


def test_extract_sitemap_truncated():
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "  <sitemap>\n    <loc>http://www.example.com/sitemap1.xml.gz</loc>\n    <last\n"
    )
    res = []
    extract_sitemap(xml, gourl.parse("http://www.example.com"), res.append)
    assert res == []


def test_extract_sitemap_bad_loc():
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<sitemapindex>\n'
        "  <sitemap>\n    <loc>[%]</loc>\n  </sitemap>\n</sitemapindex>"
    )
    res = []
    extract_sitemap(xml, gourl.parse("http://www.example.com"), res.append)
    assert res == []


# -- robots_test.go:10-25,45-72 --
RAW_ROBOTS = """useragent: a
# some comment : with colon
disallow: /c
allow: /
user-agent: b
disallow: /d
: broken

broken
user-agent: e
sitemap: http://test.com/c
useragent: f
disallow: /g
user-agent: *
disallow:
unknown: ha-ha"""


def test_robots_from_text():
    txt = robotsx.from_text("b", RAW_ROBOTS)
    assert len(txt.links) == 4
    assert len(txt.sitemaps) == 1
    assert not txt.forbidden("/a")
    assert txt.forbidden("/d")


def test_robots_modes():
    assert not robotsx.allow_all().forbidden("/a")
    assert robotsx.deny_all().forbidden("/a")


def test_robots_url():
    for c in ["http://example.com/", "http://example.com/some/path", "http://example.com/some/path?with=query"]:
        u = gourl.parse(c)
        assert robotsx.robots_url(u.scheme, u.host) == "http://example.com/robots.txt"


def test_robots_ua_substring_match():
    # parser.go:85 — group matches when config UA *contains* the group value
    txt = robotsx.from_text("SuperBot/1.0", "user-agent: bot\ndisallow: /x")
    assert not txt.forbidden("/x")  # "bot" not in "SuperBot/1.0" (case-sensitive)
    txt2 = robotsx.from_text("superbot/1.0", "user-agent: bot\ndisallow: /x")
    assert txt2.forbidden("/x")


def test_robots_crawl_delay_kernel():
    """Crawl-delay extraction (beyond-reference; kernels.robotsx.
    crawl_delay_ms): the reference's line/token discipline and
    bug-compatible UA handling — substring group match, a second UA line
    OVERWRITES the group state (parser.go resets `deny` per UA line, so
    consecutive UA lines do NOT form a shared group) — extended with the
    de-facto delay key: last applicable wins, comments stripped,
    fractional seconds floor(x*1000+0.5), invalid/negative/non-finite
    rejected, directives outside an applicable group ignored."""
    from crawley_spark.kernels.robotsx import crawl_delay_ms

    ua = "crawley/v1.0"
    cases = [
        ("User-agent: *\nCrawl-delay: 2\nDisallow: /x", 2000),
        ("User-agent: crawley\nCrawl-delay: 0.5", 500),
        ("User-agent: otherbot\nCrawl-delay: 9", None),
        ("User-agent: *\nCrawl-delay: 1\nUser-agent: *\nCrawl-delay: 3", 3000),
        ("User-agent: *\nCrawl-delay: abc", None),
        ("User-agent: *\nCrawl-delay: 1.25 # be nice", 1250),
        ("Crawl-delay: 7", None),
        ("User-Agent: *\nCrawlDelay: 4", 4000),
        ("", None),
        ("User-agent: *\nDisallow: /private", None),
        ("User-agent: *\nCrawl-delay: -3", None),
        ("User-agent: crawley\nUser-agent: unrelated\nCrawl-delay: 8", None),
        ("User-agent: *\nCrawl-delay: 0", 0),
        ("User-agent: *\nCrawl-delay: inf", None),
        ("User-agent: *\nCrawl-delay: nan", None),
        ("User-agent: *\nCrawl-delay:", None),  # empty value dropped
        ("User-agent: *\nCrawl-delay: 2\nCrawl-delay: oops", 2000),  # invalid later keeps prior
        ("User-agent: *\r\nCrawl-delay: 6", 6000),  # CRLF splitlines
        ("User-agent: *\nCrawl-delay: 1e3", None),  # float() would give 1000 s
        ("User-agent: *\nCrawl-delay: 1_5", None),  # float() would give 15 s
    ]
    for body, want in cases:
        assert crawl_delay_ms(ua, body) == want, (body, want)


def test_crawl_delays_operator(spark):
    """The Spark operator over (host, robots_body): NULL bodies behave as
    empty, effective_delay_ms = greatest(default, directive) — the
    be-no-faster-than-asked rule, incl. a directive BELOW the default
    staying at the default. Zero shuffle."""
    from crawley_spark.operators.politeness import crawl_delays

    df = spark.createDataFrame(
        [
            ("a", "User-agent: *\nCrawl-delay: 2"),
            ("b", "User-agent: *\nCrawl-delay: 0.2"),
            ("c", None),
        ],
        "host string, robots_body string",
    )
    out = crawl_delays(df, ua="bot", default_delay_ms=1000)
    got = {r["host"]: r.asDict() for r in out.collect()}
    assert got["a"]["crawl_delay_ms"] == 2000 and got["a"]["effective_delay_ms"] == 2000
    assert got["b"]["crawl_delay_ms"] == 200 and got["b"]["effective_delay_ms"] == 1000
    assert got["c"]["crawl_delay_ms"] is None and not got["c"]["has_delay"]
    assert got["c"]["effective_delay_ms"] == 1000
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
