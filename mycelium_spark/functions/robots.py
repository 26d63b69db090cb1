"""robots.txt parser + path gate — exact-parity kernel.

From-scratch Python reimplementation of the reference robots semantics
(behavioral spec: /root/reference/src/crawler/robots.ll and Robots.cc).
Reference quirks reproduced (each also available in a documented
RFC-style mode):

* rule matching is effectively EXACT-match: ``rule.compare(0, rule.size(),
  path) == 0`` compares the whole rule against the whole path
  (Robots.cc:56), despite the prefix-match doc table in Robots.hh:66-93;
* UA matching likewise exact; in practice only ``*`` groups fire
  (Robots.cc:52);
* ``Crawl-delay`` is parsed into the rules list but never enforced; a
  matching CRAWL_DELAY rule acts as a disallow (Robots.cc:57-60);
* rule paths and query paths are canonicalized with
  ``unescape_not(escape(p, PATH), PATH)`` (robots.ll:67,87; Robots.cc:49);
* a User-agent line following rule lines closes the previous group
  (Robots.cc:70-93); consecutive UA lines stack into one group;
* an unmatched line containing an SGML tag while still in START state
  aborts the parse — the EPARSE path (robots.ll:115-131); a failed or
  missing robots.txt means crawl allowed (Robots.hh:173-195).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import IntEnum

from .chartables import URL_CHAR_PATH
from .url import escape, unescape_not


class RuleType(IntEnum):
    DISALLOW = 0
    ALLOW = 1
    CRAWL_DELAY = 2


class RobotsState(IntEnum):
    """Robots.hh:32-37 — per-host robots availability."""

    EMPTY = 0
    PRESENT = 1
    NOT_AVAILABLE = 2
    EPARSE = 3


@dataclass
class UasRules:
    ua: list[bytes] = field(default_factory=list)
    rules: list[tuple[int, bytes]] = field(default_factory=list)  # (RuleType, path)

    def empty(self) -> bool:
        return not self.ua and not self.rules


def canon_path(p: bytes | str) -> bytes:
    """Rule/path canonicalization (robots.ll:67; Robots.cc:49)."""
    return unescape_not(escape(p, URL_CHAR_PATH), URL_CHAR_PATH)


_SGML_TAG_RE = re.compile(rb"<[^>]+>")
_BOOST_TRIM = b" \t\n\v\f\r"

# Line-rule regexes (robots.ll:37-109). All case-insensitive, ^-anchored.
_SPACE = rb"[\t ]"
_NL = rb"\r?\n"
_COMMENTL = _SPACE + rb"*#[^\n]*"
_RE_COMMENT = re.compile(_COMMENTL + rb"(?:" + _NL + rb")*")
_RE_UA = re.compile(
    rb"User-agent:" + _SPACE + rb"*[^#\n\r]+(?:" + _COMMENTL + rb")?" + _NL, re.I
)
_RE_ALLOW = re.compile(
    rb"Allow:" + _SPACE + rb"*[^#\n\r]*(?:" + _COMMENTL + rb")?(?:" + _NL + rb")?", re.I
)
_RE_DISALLOW = re.compile(
    rb"Disallow:" + _SPACE + rb"*[^#\n\r]*(?:" + _COMMENTL + rb")?(?:" + _NL + rb")?", re.I
)
_RE_CRAWL_DELAY = re.compile(
    rb"Crawl-delay:" + _SPACE + rb"*[^#\n\r]*(?:" + _COMMENTL + rb")?(?:" + _NL + rb")?", re.I
)
_RE_BLANK = re.compile(_SPACE + rb"*" + _NL)
_RE_UNMATCHED = re.compile(rb"[^\n]+")
_RE_NL_RUN = re.compile(rb"[\n\r]+")


def _strip_comment_trim(value: bytes) -> bytes:
    pos = value.find(b"#")
    if pos != -1:
        value = value[:pos]
    return value.strip(_BOOST_TRIM)


class Robots:
    """Parsed robots.txt for one host."""

    __slots__ = ("valid", "groups", "errors", "exact_match")

    def __init__(self, exact_match: bool = True):
        self.valid = False
        self.groups: list[UasRules] = []
        self.errors: list[bytes] = []
        #: True → reference-exact rule matching; False → RFC prefix matching
        self.exact_match = exact_match

    def parse(self, txt: bytes | str) -> bool:
        """Parse; returns False on the HTML-sniff parse error (robots.ll:115-131)."""
        if isinstance(txt, str):
            txt = txt.encode("utf-8", "surrogateescape")
        # scanner state (Robots.cc:70-93)
        state_start = True  # START until any line rule fires
        state_rules = False  # last structural line was a rule
        current = UasRules()
        pos = 0
        n = len(txt)
        at_line_start = True
        # rule order mirrors robots.ll: comment(30), ua(36), allow(52),
        # disallow(72), crawl-delay(92), blank(110), unmatched(115)
        while pos < n:
            best = None  # (length, order, kind, match)
            m = _RE_COMMENT.match(txt, pos)
            if m:
                best = self._better(best, m, 0, "comment")
            if at_line_start:
                m = _RE_UA.match(txt, pos)
                if m:
                    best = self._better(best, m, 1, "ua")
                m = _RE_ALLOW.match(txt, pos)
                if m:
                    best = self._better(best, m, 2, "allow")
                m = _RE_DISALLOW.match(txt, pos)
                if m:
                    best = self._better(best, m, 3, "disallow")
                m = _RE_CRAWL_DELAY.match(txt, pos)
                if m:
                    best = self._better(best, m, 4, "delay")
            m = _RE_BLANK.match(txt, pos)
            if m:
                best = self._better(best, m, 5, "blank")
            m = _RE_UNMATCHED.match(txt, pos)
            if m:
                best = self._better(best, m, 6, "unmatched")
            if best is None:
                # lone newline chars: swallowed by blank or unmatched won't
                # match '\n' — advance one (flex default echo)
                pos += 1
                at_line_start = True
                continue
            _len, _order, kind, m = best
            text = m.group(0)
            pos = m.end()
            # flex '^' matches only after '\n'
            at_line_start = pos > 0 and txt[pos - 1] == 0x0A
            if kind == "ua":
                value = _strip_comment_trim(text[11:])
                if state_rules:
                    self.groups.append(current)
                    current = UasRules()
                    self.valid = True
                state_rules = False
                state_start = False
                current.ua.append(value)
            elif kind == "allow":
                current.rules.append((RuleType.ALLOW, canon_path(_strip_comment_trim(text[6:]))))
                state_rules = True
                state_start = False
            elif kind == "disallow":
                current.rules.append(
                    (RuleType.DISALLOW, canon_path(_strip_comment_trim(text[9:])))
                )
                state_rules = True
                state_start = False
            elif kind == "delay":
                current.rules.append((RuleType.CRAWL_DELAY, _strip_comment_trim(text[12:])))
                state_rules = True
                state_start = False
            elif kind == "unmatched":
                self.errors.append(text)
                if state_start and _SGML_TAG_RE.search(text):
                    return False  # looks like HTML → EPARSE
        # eof (Robots.cc:85-93)
        if not current.empty():
            self.groups.append(current)
            self.valid = True
        return True

    @staticmethod
    def _better(best, m, order, kind):
        length = len(m.group(0))
        if best is None or length > best[0]:
            return (length, order, kind, m)
        return best

    def ua_groups(self, user_agent: bytes | str):
        """The groups naming ``user_agent`` or ``*``, in file order
        (Robots.cc:50-52)."""
        if isinstance(user_agent, str):
            user_agent = user_agent.encode("utf-8")
        return (g for g in self.groups if any(ua in (user_agent, b"*") for ua in g.ua))

    def ua_rules(self, user_agent: bytes | str) -> list[tuple[int, bytes]]:
        """The rules that decide every path for ``user_agent``: those of the
        first matching group, in order; none when no group matches."""
        return next((g.rules for g in self.ua_groups(user_agent)), [])

    def path_allowed(self, user_agent: bytes | str, p: bytes | str) -> bool:
        """Robots.cc:47-68 — first matching UA group, first matching rule."""
        path = canon_path(p)
        for rtype, rule in self.ua_rules(user_agent):
            if self._rule_matches(rule, path):
                return rtype == RuleType.ALLOW
        return True

    def _rule_matches(self, rule: bytes, path: bytes) -> bool:
        if self.exact_match:
            # reference: whole-rule vs whole-path equality (Robots.cc:56)
            return rule == path
        # documented/RFC mode: prefix match (Robots.hh:66-93); empty rule
        # matches nothing (standard robots semantics)
        return bool(rule) and path.startswith(rule)

    def crawl_delay(self, user_agent: bytes | str = b"*") -> float | None:
        """Parsed but NEVER enforced by the reference (Robots.hh:48)."""
        for group in self.ua_groups(user_agent):
            for rtype, rule in group.rules:
                if rtype == RuleType.CRAWL_DELAY:
                    try:
                        return float(rule)
                    except ValueError:
                        return None
        return None


def parse_robots(txt: bytes | str, exact_match: bool = True) -> Robots:
    r = Robots(exact_match=exact_match)
    r.valid = r.parse(txt) and r.valid
    return r


def robots_state_for(status: int, txt: bytes | str | None, exact_match: bool = True):
    """Fetch-outcome → (state, Robots|None), per crawler.cc:899-934.

    HTTP 200 + parse ok → PRESENT; 200 + HTML sniff → EPARSE; anything else
    → NOT_AVAILABLE. ``tried_but_failed`` states mean crawl allowed
    (Robots.hh:189-192).
    """
    if status == 200 and txt is not None:
        r = Robots(exact_match=exact_match)
        ok = r.parse(txt)
        if ok:
            return RobotsState.PRESENT, r
        return RobotsState.EPARSE, None
    return RobotsState.NOT_AVAILABLE, None
