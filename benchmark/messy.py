"""Seeded generator for the ``messy_web`` workload.

Documents are interleaved span lists in the pipeline's input shape.  Each
html fragment mixes ordinary markup with constructs that the converter's
fast tokenizer declines (bare ``&``, CDATA, ``<`` inside
``script``/``style``, stray ``<`` in text) next to entities, tables,
nested lists, blockquotes, ``pre``/``code``, ``abbr``, non-ASCII text and
unclosed tags, so most documents go through
``HTMLParser`` and the rarer tag handlers.  A fixed share of rows is built
malformed: the spans array holds a NULL span element, which the converter
rejects.  Those rows also get NULL offsets on every other span; the
pipeline sorts a NULL offset as 0, so the offsets alone do not make a row
malformed.  The generator returns the malformed doc_ids so that the oracle
knows them without asking the program.
"""

from __future__ import annotations

import random

_WORDS = (
    "crawl parser token stream block anchor table cell quote list item "
    "markdown render entity buffer span media index offset header footer "
    "wrap width indent escape ordered nested layout inline"
).split()
_UNICODE = (
    "café", "naïve", "Zürich", "señor", "Ελληνικά", "русский", "日本語",
    "中文文本", "한국어", "עברית", "العربية", "emoji 🙂", "€ 12,50", "—dash—",
)
_ENTITIES = (
    "&amp;", "&lt;", "&gt;", "&quot;", "&eacute;", "&nbsp;", "&mdash;",
    "&copy;", "&hellip;", "&#233;", "&#x2014;", "&#169;", "&rsquo;",
)

#: construct families; the first four defeat the fast tokenizer (entities
#: do not: they become placeholders before tokenization)
SLOW_FAMILIES = ("bare_amp", "cdata", "script_lt", "stray_lt")
FAMILIES = SLOW_FAMILIES + (
    "entity", "table", "nested_list", "blockquote", "pre_code", "abbr",
    "non_ascii", "unclosed",
)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _construct(rng: random.Random, family: str) -> str:
    w = _words(rng, 3, 9)
    if family == "entity":
        return "<p>%s %s %s %s</p>" % (
            w, rng.choice(_ENTITIES), _words(rng, 2, 6), rng.choice(_ENTITIES)
        )
    if family == "bare_amp":
        return "<p>AT&T and R&D & %s &amp %s</p>" % (w, _words(rng, 2, 5))
    if family == "cdata":
        return "<div><![CDATA[ %s <b>raw</b> ]]> %s</div>" % (w, _words(rng, 2, 5))
    if family == "script_lt":
        if rng.random() < 0.5:
            return "<script>if (a < b && c > d) { x = '%s'; }</script><p>%s</p>" % (
                rng.choice(_WORDS), w
            )
        return "<style>p < span { color: red; }</style><p>%s</p>" % w
    if family == "stray_lt":
        return "<p>%s 3 < 5 and x <y %s</p>" % (w, _words(rng, 2, 5))
    if family == "table":
        rows = "".join(
            "<tr>%s</tr>"
            % "".join("<td>%s</td>" % _words(rng, 1, 3) for _ in range(3))
            for _ in range(rng.randint(2, 4))
        )
        return "<table><tr><th>key</th><th>value</th><th>note</th></tr>%s</table>" % rows
    if family == "nested_list":
        inner = "".join("<li>%s</li>" % _words(rng, 1, 4) for _ in range(rng.randint(2, 3)))
        return "<ul><li>%s<ol>%s</ol></li><li>%s</li></ul>" % (w, inner, _words(rng, 1, 4))
    if family == "blockquote":
        return "<blockquote><p>%s</p><blockquote>%s</blockquote></blockquote>" % (
            w, _words(rng, 2, 6)
        )
    if family == "pre_code":
        return "<pre><code>def f(x):\n    return x * 2  # %s\n</code></pre><p>use <code>f(%d)</code> %s</p>" % (
            rng.choice(_WORDS), rng.randint(0, 99), _words(rng, 2, 5)
        )
    if family == "abbr":
        return '<p>The <abbr title="HyperText Markup Language">HTML</abbr> %s</p>' % w
    if family == "non_ascii":
        return "<p>%s %s %s</p>" % (rng.choice(_UNICODE), w, rng.choice(_UNICODE))
    if family == "unclosed":
        return "<p>%s <b>bold <i>italic %s<p>%s" % (w, _words(rng, 2, 4), _words(rng, 2, 4))
    raise ValueError(family)


def _fragment(rng: random.Random, slow_share: float, seen: dict) -> str:
    picks = [rng.choice(FAMILIES[len(SLOW_FAMILIES):]) for _ in range(rng.randint(1, 3))]
    if rng.random() < slow_share:
        picks.append(rng.choice(SLOW_FAMILIES))
    rng.shuffle(picks)
    for f in picks:
        seen[f] = seen.get(f, 0) + 1
    return "<h3>%s</h3>%s" % (_words(rng, 1, 3), "".join(_construct(rng, f) for f in picks))


def messy_documents(
    seed: int, n_docs: int, malformed_share: float, slow_share: float
) -> tuple:
    """Return (rows, malformed_ids, family_counts).

    ``rows`` are (doc_id, spans) with spans a list of span dicts (or None
    elements in malformed rows), in the pipeline's INPUT_SCHEMA shape.
    """
    rng = random.Random(seed)
    n_malformed = int(round(n_docs * malformed_share))
    malformed_at = set(rng.sample(range(n_docs), n_malformed))
    seen: dict = {}
    rows = []
    malformed_ids = set()
    for i in range(n_docs):
        doc_id = "messy-%07d" % i
        spans = []
        for _ in range(rng.randint(2, 6)):
            spans.append({
                "kind": "html",
                "text": _fragment(rng, slow_share, seen),
                "media_ref": "",
                "offset": len(spans),
            })
            if rng.random() < 0.3:
                spans.append({
                    "kind": "media",
                    "text": "",
                    "media_ref": "asset://%d/%d" % (seed, rng.randint(0, 10**9)),
                    "offset": len(spans),
                })
        if i in malformed_at:
            for s in spans[::2]:
                s["offset"] = None
            spans.insert(rng.randint(0, len(spans)), None)
            malformed_ids.add(doc_id)
        rows.append((doc_id, spans))
    return rows, malformed_ids, seen
