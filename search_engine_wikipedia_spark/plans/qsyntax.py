"""Whoosh-compatible query syntax → query tree.

The reference parses user queries with a default-plugin Whoosh
``QueryParser`` plus ``MultifieldPlugin(['text', 'title'])``
(``indexing/searching/searcher.py:53-55``), so a reference user's
queries may contain, beyond plain words:

* explicit infix operators ``AND`` / ``OR`` and prefix ``NOT``
  (OperatorsPlugin; uppercase-only, like Whoosh),
* parenthesised groups (GroupPlugin),
* per-term field specifiers ``title:rome`` / ``text:rome``
  (FieldsPlugin),
* per-term boosts ``rome^2.5`` (BoostPlugin),
* prefix/wildcard patterns ``euro*`` / ``wom?n`` (WildcardPlugin) —
  expanded against the index vocabulary,
* quoted phrases ``"exact phrase"`` (PhrasePlugin) — the reference
  schema disables positions (``index.py:38-39``: ``phrase=False`` "per
  ridurre index"), so Whoosh REJECTS phrase searches; we raise at
  parse time with the same meaning.

Operator application mirrors Whoosh's OperatorsPlugin: operators bind
their NEIGHBORS, applied left-to-right (no algebraic precedence), and
whatever nodes remain adjacent are wrapped by the GROUP factory
(AndGroup default, reference ``searcher.py:23-24``).  So with
AndGroup, ``a OR b c`` → ``And(Or(a, b), c)``; with OrGroup,
``a b AND c`` → ``Or(a, And(b, c))``.  Prefix ``NOT`` is applied
before the infix pass (binds tightest to its right atom), which
reproduces Whoosh for every mixed form (``a AND NOT b``,
``NOT a b``, ...).

Documented deviations (all edge cases, see tests/test_qsyntax.py):

* ``id_page:5``: Whoosh indexes the ID field and would match; our
  postings don't carry it, so the leaf matches nothing,
* ``NOT`` inside an OR group (``a OR NOT b``): Whoosh would ALSO
  return docs not containing b at score 0; we only rank positive
  matches (a negation cannot seed candidates),
* ANDNOT/ANDMAYBE/ranges/``*:*`` are not recognized (rare; such
  tokens pass through as plain text).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..operators.wand import And, Not, Or

# one query token: quoted phrase | paren | word (anything else non-space)
_LEX = re.compile(r'"[^"]*"|\(|\)|[^\s()]+')
# field:rest — field chunk must look like an identifier (Whoosh FieldsPlugin)
_FIELD = re.compile(r"^(\w+):(.+)$", re.DOTALL)
# trailing ^boost (Whoosh BoostPlugin: number after caret)
_BOOST = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$", re.DOTALL)

KNOWN_FIELDS = ("text", "title", "id_page")  # reference WikiSchema fields
MAX_PATTERN_TERMS = 1024  # deterministic cap on wildcard expansion


@dataclass
class Word:
    """A parsed operand before leaf construction."""

    text: str
    field: str | None  # None = multifield
    boost: float
    is_pattern: bool  # contains * or ?


class QuerySyntaxError(ValueError):
    pass


def _word(raw: str) -> Word:
    boost = 1.0
    m = _BOOST.match(raw)
    if m:
        raw, boost = m.group(1), float(m.group(2))
    field = None
    m = _FIELD.match(raw)
    if m and m.group(1) in KNOWN_FIELDS:
        field, raw = m.group(1), m.group(2)
    return Word(raw, field, boost, is_pattern=("*" in raw or "?" in raw))


def _parse_stream(toks: list[str], i: int, leaf_fn,
                  joiner) -> tuple[list, int]:
    """→ (mixed node/op-marker items up to the matching ')', next i)."""
    items: list = []
    while i < len(toks):
        t = toks[i]
        if t == ")":
            return items, i + 1
        if t == "(":
            inner, i = _parse_stream(toks, i + 1, leaf_fn, joiner)
            node = _apply_ops(inner, joiner)
            if node is not None:
                items.append(node)
            continue
        i += 1
        if t in ("AND", "OR", "NOT"):
            items.append(t)
            continue
        if t.startswith('"'):
            raise QuerySyntaxError(
                "phrase searching is not enabled: the reference schema "
                "sets phrase=False on both fields (index.py:38-39), so "
                f"Whoosh rejects {t!r} too"
            )
        node = leaf_fn(_word(t))
        if node is not None:
            items.append(node)
    return items, i


def _merge(cls, left, right):
    """Whoosh clean-merge: same-type groups absorb the new operand."""
    kids = list(left.children) if isinstance(left, cls) else [left]
    if isinstance(right, cls):
        kids.extend(right.children)
    else:
        kids.append(right)
    return cls(kids)


def _apply_ops(items: list, joiner):
    """Resolve op markers in a node stream, Whoosh-style.

    1. prefix ``NOT`` binds the node to its right,
    2. infix ``AND``/``OR`` merge their neighbors, leftmost first,
    3. remaining adjacent nodes are wrapped by the group ``joiner``.
    """
    # prefix NOT (right-to-left so "NOT NOT a" nests correctly)
    out: list = []
    for it in reversed(items):
        if it == "NOT":
            if out and not isinstance(out[-1], str):
                out[-1] = Not(out[-1])
            # else dangling NOT: drop
        else:
            out.append(it)
    items = list(reversed(out))
    # infix AND/OR, leftmost first, neighbor-binding
    i = 0
    while i < len(items):
        if items[i] in ("AND", "OR"):
            cls = And if items[i] == "AND" else Or
            has_l = i > 0 and not isinstance(items[i - 1], str)
            has_r = i + 1 < len(items) and not isinstance(items[i + 1], str)
            if has_l and has_r:
                merged = _merge(cls, items[i - 1], items[i + 1])
                items[i - 1 : i + 2] = [merged]
                i -= 1
            else:  # dangling operator: drop it (Whoosh-lenient)
                del items[i]
        else:
            i += 1
    nodes = [n for n in items if not isinstance(n, str)]
    if not nodes:
        return None
    if len(nodes) == 1:
        return nodes[0]
    flat: list = []
    for n in nodes:
        if isinstance(n, joiner):
            flat.extend(n.children)
        else:
            flat.append(n)
    return joiner(flat)


def parse_syntax(text: str, group: str, leaf_fn):
    """Parse ``text`` into a query tree.

    ``leaf_fn(word: Word) -> node | None`` builds leaves (analysis,
    multifield fan-out, wildcard expansion live in the caller —
    ``plans.query.parse_query``).
    """
    joiner = And if group == "AND" else Or
    toks = _LEX.findall(text)
    items, _ = _parse_stream(toks, 0, leaf_fn, joiner)
    return _apply_ops(items, joiner)


def has_syntax(text: str) -> bool:
    """True when the query uses any Whoosh syntax beyond plain words."""
    if re.search(r'["()^*?]|\bAND\b|\bOR\b|\bNOT\b', text):
        return True
    return any(
        (m := _FIELD.match(w)) and m.group(1) in KNOWN_FIELDS
        for w in text.split()
    )


def pattern_regex(pattern: str) -> str:
    """fnmatch-style pattern → anchored RE2 regex, as pyarrow's
    ``match_substring_regex`` takes it for the wildcard expansion (only
    ``*`` and ``?`` are wildcards; every other character is escaped)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def pattern_prefix(pattern: str) -> str:
    """Literal prefix before the first wildcard (may be '')."""
    idxs = [i for i in (pattern.find("*"), pattern.find("?")) if i >= 0]
    return pattern[: min(idxs)] if idxs else pattern
