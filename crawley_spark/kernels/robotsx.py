"""robots.txt parsing kernel.

Reproduces ``/root/reference/internal/robots/parser.go`` + ``robots.go``:
line-oriented parse with '#' comments, case-insensitive keys
(useragent/user-agent, allow, disallow, sitemap/site-map), UA group matching
via ``v == "*" or v in ua`` (substring — bug-compatible, parser.go:85),
deny recorded only inside a matching group, ALL allow+disallow paths of all
groups recorded as discovered links, sitemaps global. ``forbidden`` is exact
path membership (robots.go:66-76), not prefix match.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

MODE_ALLOW_ALL = "allow_all"
MODE_GOT_RULES = "got_rules"
MODE_DENY_ALL = "deny_all"

ROBOTS_PATH = "/robots.txt"
# Crawl-delay values: plain ASCII decimal seconds
_DECIMAL_SECONDS = re.compile(r"[0-9]+(?:\.[0-9]+)?")


@dataclass
class RobotsTXT:
    mode: str = MODE_ALLOW_ALL
    links: set = field(default_factory=set)
    deny: set = field(default_factory=set)
    sitemaps: set = field(default_factory=set)

    def forbidden(self, path: str) -> bool:
        if self.mode == MODE_GOT_RULES:
            return path in self.deny
        return self.mode == MODE_DENY_ALL

    def links_sorted(self) -> list:
        """Canonical (sorted) order — the reference iterates a Go map here
        (robots.go:84-86), which is unordered; parity order is defined as
        sorted (SURVEY.md §3.4 canonical-order note)."""
        return sorted(self.links)

    def sitemaps_sorted(self) -> list:
        return sorted(self.sitemaps)


def allow_all() -> RobotsTXT:
    return RobotsTXT(mode=MODE_ALLOW_ALL)


def deny_all() -> RobotsTXT:
    return RobotsTXT(mode=MODE_DENY_ALL)


_KIND_NONE, _KIND_UA, _KIND_ALLOW, _KIND_DISALLOW, _KIND_SITEMAP = 0, 1, 2, 3, 4


def _parse_token_kind(b: str) -> int:
    low = b.lower()
    if low in ("useragent", "user-agent"):
        return _KIND_UA
    if low == "allow":
        return _KIND_ALLOW
    if low == "disallow":
        return _KIND_DISALLOW
    if low in ("sitemap", "site-map"):
        return _KIND_SITEMAP
    return _KIND_NONE


def _extract_token(line: str) -> tuple[int, str]:
    # parser.go:48-72
    pos = line.find("#")
    if pos >= 0:
        line = line[:pos]
    line = line.strip()
    pos = line.find(":")
    if pos == -1:
        return _KIND_NONE, ""
    key = line[:pos].strip()
    kind = _parse_token_kind(key)
    if kind == _KIND_NONE:
        return _KIND_NONE, ""
    val = line[pos + 1 :].strip()
    if val:
        return kind, val
    return _KIND_NONE, ""


def from_text(ua: str, body: str) -> RobotsTXT:
    """parser.go:74-107 + robots.go:39-52."""
    t = RobotsTXT(mode=MODE_GOT_RULES)
    deny = False
    for line in body.splitlines():
        kind, v = _extract_token(line)
        if kind == _KIND_UA:
            deny = v == "*" or v in ua
        elif kind == _KIND_DISALLOW:
            if deny:
                t.deny.add(v)
            t.links.add(v)
        elif kind == _KIND_ALLOW:
            t.links.add(v)
        elif kind == _KIND_SITEMAP:
            t.sitemaps.add(v)
    return t


def robots_url(scheme: str, host: str) -> str:
    """robots.go:55-63 — scheme://host/robots.txt."""
    from .gourl import GoURL

    t = GoURL()
    t.scheme = scheme
    t.host = host
    t.path = ROBOTS_PATH
    return t.string()


def crawl_delay_ms(ua: str, body: str):
    """Crawl-delay directive value for the matched UA groups, in integer
    milliseconds — or None when absent/inapplicable/invalid.

    BEYOND-REFERENCE: the reference parser ignores the directive entirely
    (robots/parser.go:74-107 recognizes only UA/Allow/Disallow/Sitemap);
    production crawlers honor the de-facto standard (Bing/Yandex
    semantics). This parser keeps the reference's exact line/token
    discipline — '#' comment strip, 'key: value' split, empty values
    dropped — and its bug-compatible UA-substring group matching
    (``v == '*' or v in ua``, parser.go:85), extended with the
    'crawl-delay'/'crawldelay' key. The LAST directive in an applicable
    group wins (deterministic under the same last-writer convention the
    reference applies to repeated groups); values are plain ASCII decimal
    seconds (``[0-9]+(.[0-9]+)?`` — no sign, exponent, digit separator,
    inf or nan, all of which ``float`` alone would accept),
    ``floor(x * 1000 + 0.5)`` milliseconds (one IEEE parse + one multiply
    — engine-identical); directives before any UA line or in non-matching
    groups are ignored."""
    import math

    active = False
    out = None
    for line in body.splitlines():
        pos = line.find("#")
        if pos >= 0:
            line = line[:pos]
        line = line.strip()
        pos = line.find(":")
        if pos == -1:
            continue
        key = line[:pos].strip().lower()
        val = line[pos + 1 :].strip()
        if not val:
            continue
        if key in ("useragent", "user-agent"):
            active = val == "*" or val in ua
        elif key in ("crawl-delay", "crawldelay") and active:
            if not _DECIMAL_SECONDS.fullmatch(val):
                continue
            x = float(val)
            if math.isfinite(x):  # a 400-digit value still parses to inf
                out = int(math.floor(x * 1000 + 0.5))
    return out
