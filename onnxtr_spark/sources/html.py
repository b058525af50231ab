"""HTML main-content extraction (S3 + the north-rule's "HTML
boilerplate strip / DOM heuristics"), entirely JVM-side.

The reference's read_html (io/html.py:11-26) renders a page to PDF and
re-enters the image pipeline; at 10^12 docs the right primitive is a
direct text path: strip boilerplate containers, keep content blocks.
Everything here is chained regexp column algebra — whole-stage codegen,
no Python anywhere, and every regex stays inside RE2's feature set (no
backreferences) so the DuckDB oracle can run the same program.

Heuristics (tag-level, the readability-family first stage):
- drop <head>, <script>, <style>, <noscript> with their contents;
- drop the boilerplate containers <nav>, <header>, <footer>, <aside>
  with their contents (non-nested per tag — documented limitation);
- strip remaining tags, decode the common entities, collapse
  whitespace.

``synthesize_html`` builds a deterministic boilerplate-laden page from
a document's text (one <p> block per corpus page, ``corpus.pages_col``;
decoy <p> junk inside nav/header/aside/footer so extraction order
actually matters), giving the roundtrip oracle: main content == the
document's normalized text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from onnxtr_spark.corpus import pages_col

# (pattern, replacement) chain; applied in order. RE2-safe: one rule per
# tag instead of a backreferenced <(a|b)>...</\1>.
_DROP_BLOCKS = ["head", "script", "style", "noscript", "nav", "header", "footer", "aside"]
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def _escape(col: Column) -> Column:
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def html_main_text(col: Column) -> Column:
    """Boilerplate-stripped main text of an HTML string column."""
    c = col
    for tag in _DROP_BLOCKS:
        c = F.regexp_replace(c, f"(?s)<{tag}\\b[^>]*>.*?</{tag}>", " ")
    c = F.regexp_replace(c, "<[^>]+>", " ")
    for ent, ch in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_main_text_sql(expr: str) -> str:
    """DuckDB mirror of ``html_main_text`` (RE2 flavor)."""
    c = expr
    for tag in _DROP_BLOCKS:
        c = f"regexp_replace({c}, '(?s)<{tag}\\b[^>]*>.*?</{tag}>', ' ', 'g')"
    c = f"regexp_replace({c}, '<[^>]+>', ' ', 'g')"
    for ent, ch in _ENTITIES:
        lit = ch.replace("'", "''")
        c = f"replace({c}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"


def _paras(lead: str = "") -> Column:
    """One escaped ``<p>`` per corpus page (``corpus.pages_col``) of the
    ``text`` column's words, each preceded by the ``lead`` markup."""
    return F.array_join(
        F.transform(
            pages_col(F.split(F.trim("text"), r"\s+")),
            lambda page: F.concat(F.lit(lead + "<p>"), _escape(F.array_join(page, " ")), F.lit("</p>")),
        ),
        "",
    )


def synthesize_html(documents: DataFrame) -> DataFrame:
    """(doc_id, html): a deterministic boilerplate-laden page whose main
    content is the document text, one <p> per corpus page (``_paras``).
    Pure JVM string building."""
    doc_id = F.col("doc_id").cast("string")
    return documents.select(
        doc_id.alias("doc_id"),
        F.concat(
            F.lit("<html><head><title>junk title "), doc_id,
            F.lit("</title><style>body{margin:0}</style><script>var t=1&&2<3;</script></head><body>"),
            F.lit('<nav><ul><li><a href="/">home</a></li><li><p>nav junk paragraph</p></li></ul></nav>'),
            F.lit('<header><h1 class="site">SiteName &amp; Co</h1><p>tagline boilerplate</p></header>'),
            F.lit("<main>"), _paras(), F.lit("</main>"),
            F.lit("<aside><p>related junk</p><p>more junk</p></aside>"),
            F.lit("<footer><p>&copy; 2026 SiteName</p></footer></body></html>"),
        ).alias("html"),
    )


def html_extract_query(documents: DataFrame) -> DataFrame:
    """(doc_id, main_text): synthesize → strip; roundtrip-oracled
    against the documents table's normalized text."""
    html = synthesize_html(documents)
    return html.select("doc_id", html_main_text(F.col("html")).alias("main_text"))


HTML_EXTRACT_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       regexp_replace(trim(text), '\\s+', ' ', 'g') AS main_text
FROM documents
"""


# --- block-level link-density scoring (the readability/boilerpipe second
# stage; north-rule "DOM heuristics" beyond whole-container drops) ---------

_P_BLOCK_RE = r"(?s)<p\b[^>]*>.*?</p>"
_LINK_TEXT_RE = r"(?s)<a\b[^>]*>(.*?)</a>"


def _strip_block(b: Column) -> Column:
    return F.trim(F.regexp_replace(F.regexp_replace(b, "<[^>]+>", " "), r"\s+", " "))


def html_block_main_text(col: Column) -> Column:
    """Two-stage main-content extraction: (1) drop boilerplate
    CONTAINERS wholesale (nav/header/footer/aside + head/script/style —
    the tag-level pass), then (2) score every remaining <p> block by
    LINK DENSITY and keep only blocks where linked text is at most a
    third of the block's text (3·link_chars ≤ text_chars, integer
    math) — the boilerpipe/readability signal that kills link-farm
    paragraphs sitting INSIDE the content column, which no container
    rule can catch. Pure column algebra: one regexp_extract_all into a
    block array, one transform to (text, link_chars) structs (each
    block's regexes evaluate once), one filter, one join."""
    c = col
    for tag in _DROP_BLOCKS:
        c = F.regexp_replace(c, f"(?s)<{tag}\\b[^>]*>.*?</{tag}>", " ")
    blocks = F.regexp_extract_all(c, F.lit(_P_BLOCK_RE), F.lit(0))
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _strip_block(b).alias("txt"),
            F.length(
                F.array_join(F.regexp_extract_all(b, F.lit(_LINK_TEXT_RE), F.lit(1)), " ")
            ).alias("link_chars"),
        ),
    )
    kept = F.filter(
        scored, lambda s: F.lit(3) * s["link_chars"] <= F.length(s["txt"])
    )
    out = F.array_join(F.transform(kept, lambda s: s["txt"]), " ")
    for ent, ch in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


_LINKFARM = (
    '<p class="share"><a href="#">share on socialsite</a> <a href="#">save for later reading</a> '
    '<a href="#">related articles elsewhere</a> <a href="#">subscribe to newsletter</a> today</p>'
)


def synthesize_html_linked(documents: DataFrame) -> DataFrame:
    """Like ``synthesize_html`` but with link-farm paragraphs
    interleaved BETWEEN the content paragraphs inside <main> — decoys
    that survive every container rule and are only removable by
    block-level link-density scoring. Deterministic; the roundtrip
    oracle stays 'main content == the document's normalized text'."""
    doc_id = F.col("doc_id").cast("string")
    return documents.select(
        doc_id.alias("doc_id"),
        F.concat(
            F.lit("<html><head><title>junk "), doc_id,
            F.lit("</title><script>if(1<2){}</script></head><body>"),
            F.lit('<nav><p><a href="/">home</a> menu</p></nav>'),
            F.lit('<header><p>SiteName masthead boilerplate text</p></header>'),
            F.lit("<main>"), _paras(_LINKFARM), F.lit(_LINKFARM), F.lit("</main>"),
            F.lit('<aside><p>promoted content teaser junk</p></aside>'),
            F.lit("<footer><p>copyright footer boilerplate</p></footer></body></html>"),
        ).alias("html"),
    )


def html_block_extract_query(documents: DataFrame) -> DataFrame:
    """(doc_id, main_text): synthesize linked page → two-stage extract;
    roundtrip-oracled against the documents table's normalized text —
    any block the scorer wrongly keeps or drops breaks equality."""
    html = synthesize_html_linked(documents)
    return html.select("doc_id", html_block_main_text(F.col("html")).alias("main_text"))
