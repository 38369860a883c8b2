"""HTML → text extraction as pure JVM expressions, plus its deterministic
inverse (a templating renderer) used by datagen and tests.

This realizes the engine's per-row invariant "byte-identical extracted text
per url" (BASELINE.json input_hint) as a DERIVABLE property instead of a
golden-hash lookup: for HTML produced by any renderer that keeps all visible
text in body text nodes (boilerplate only inside comments / <script> /
<style>), ``extract_html_text(html)`` returns the visible text with
whitespace runs collapsed to single spaces — so for single-spaced source
text the round trip is byte-identical. The reference ancestor is its
content-hash integrity verification (ref: transcription/schema/
integrity.py:222-335) and its HTML exporter's entity escaping
(ref: transcription/exporters shape).

Supported HTML subset (documented contract, all regexes RE2-safe so the
same steps run verbatim on Spark's Java regex and DuckDB's RE2):
  - comments ``<!-- ... -->`` removed (non-greedy, DOTALL)
  - ``<script ...> ... </script>`` and ``<style ...> ... </style>`` blocks
    removed wholesale (case-insensitive, DOTALL)
  - every remaining tag ``<...>`` (incl. doctype) becomes a single space
  - the five core entities decode: &lt; &gt; &quot; &#39; then &amp; LAST
    (so literal ``&amp;lt;`` correctly yields ``&lt;``)
  - whitespace runs collapse to one space; result is trimmed

A full HTML5 parser (malformed markup, CDATA, the long entity table) is out
of scope — this is the vectorized fast path; swap in a parser UDF behind
the same column signature if a corpus needs it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) applied IN ORDER with regexp_replace
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"<[^>]+>", " "),
]

# literal (search, replace) pairs applied IN ORDER after tag stripping;
# &amp; must decode last
ENTITY_DECODE_STEPS: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

# inverse, applied IN ORDER when rendering; & must encode first
ENTITY_ENCODE_STEPS: list[tuple[str, str]] = [
    ("&", "&amp;"),
    ("<", "&lt;"),
    (">", "&gt;"),
    ('"', "&quot;"),
    ("'", "&#39;"),
]


def encode_entities(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    for search, repl in ENTITY_ENCODE_STEPS:
        c = F.replace(c, F.lit(search), F.lit(repl))
    return c


def decode_entities(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    for search, repl in ENTITY_DECODE_STEPS:
        c = F.replace(c, F.lit(search), F.lit(repl))
    return c


def extract_html_text(c: Column | str, from_binary: bool = False) -> Column:
    """Visible text of an HTML document (string column, or UTF-8 binary with
    ``from_binary=True``) — one fused JVM projection, zero Python, zero
    shuffle: at 10^12 documents this runs inside the scan's codegen stage."""
    c = F.col(c) if isinstance(c, str) else c
    if from_binary:
        c = F.decode(c, "UTF-8")
    for pat, repl in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, repl)
    c = decode_entities(c)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def extract_html_text_sql(col_sql: str, dialect: str = "spark") -> str:
    """The same pipeline as SQL text, for Expr-style rule specs (spark
    dialect) and DuckDB oracles (duckdb dialect: regexp_replace needs the
    'g'/'gs'/'gis' flags argument; Spark replaces all matches by default).

    ``col_sql`` is any SQL expression of string type (e.g. a column name or
    ``decode(html, 'UTF-8')``)."""
    def q(s: str) -> str:
        return s.replace("'", "''")

    e = col_sql
    for pat, repl in HTML_STRIP_STEPS:
        p = pat.replace("\\", "\\\\") if dialect == "spark" else pat
        flags = ""
        if dialect == "duckdb":
            # move inline flags into the flags argument (RE2 rejects
            # nothing here, but DuckDB needs 'g' for replace-all)
            f = "g"
            if p.startswith("(?s)"):
                p, f = p[4:], "gs"
            elif p.startswith("(?is)"):
                p, f = p[5:], "gis"
            flags = f", '{f}'"
        e = f"regexp_replace({e}, '{q(p)}', '{q(repl)}'{flags})"
    for search, repl in ENTITY_DECODE_STEPS:
        e = f"replace({e}, '{q(search)}', '{q(repl)}')"
    ws_flags = ", 'g'" if dialect == "duckdb" else ""
    ws = "\\\\s+" if dialect == "spark" else "\\s+"
    return f"trim(regexp_replace({e}, '{ws}', ' '{ws_flags}))"


# --------------------------------------------------------------------- #
# deterministic renderer (datagen / tests) — the documented inverse
# --------------------------------------------------------------------- #
_BOILER = [
    "<!-- nav: home | about | contact -->",
    '<script type="text/javascript">var q="<b>&amp;</b>";window.x=1;</script>',
    "<style>p{margin:0;padding:0}.f{color:#888}</style>",
]


def render_html_py(text: str, variant: int = 0, tokens_per_p: int = 17) -> str:
    """Render text into the supported HTML subset (visible text == ``text``;
    boilerplate only in comment/script/style). Paragraph breaks fall on
    token boundaries, so extraction's whitespace collapse restores the
    exact original bytes. ``variant`` rotates which boilerplate blocks
    appear (deterministic per caller-supplied value, e.g. hash(url) % 4)."""

    def esc(s: str) -> str:
        for search, repl in ENTITY_ENCODE_STEPS:
            s = s.replace(search, repl)
        return s

    toks = text.split(" ") if text else []
    paras = [
        "<p>" + esc(" ".join(toks[i : i + tokens_per_p])) + "</p>"
        for i in range(0, len(toks), tokens_per_p)
    ] or ["<p></p>"]
    noise = [b for i, b in enumerate(_BOILER) if (variant >> i) & 1 or variant == 0]
    head = "<head><title></title>" + (noise[-1] if noise else "") + "</head>"
    body = "<body>" + (noise[0] if noise else "") + "".join(paras) + "</body>"
    return "<!DOCTYPE html><html>" + head + body + "</html>"


def extract_links(c, from_binary: bool = False):
    """href targets of anchor tags as array<string> — one JVM
    regexp_extract_all, the outlink half of the extraction pipeline (the
    web-graph builder's input). Double-quoted hrefs only (LITE,
    documented); relative urls pass through for the caller's resolver."""
    col = F.col(c) if isinstance(c, str) else c
    if from_binary:
        col = col.cast("string")
    return F.regexp_extract_all(col, F.lit(r'<a\s[^>]*href="([^"]*)"'), 1)
