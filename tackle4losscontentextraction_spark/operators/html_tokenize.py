"""Raw HTML -> interleaved span tokenizer (batched DOM tokenization).

The reference consumes fetched HTML: Crawl4AI renders the page and the
readability fallback parses raw markup directly
(``/root/reference/src/modules/extraction/extractContent.py:258-320``,
``:208-217`` — BeautifulSoup over ``Document(html).summary()``). The
rebuild's canonical input is the span table (BASELINE input_hint), so
this module supplies the missing entry surface: an operator that turns
an actual HTML string column into that span table, plus its exact
inverse (a Catalyst-only renderer) used for round-trip verification
and corpus synthesis.

Two operators:

- :func:`render_html` — docs span table -> (doc_id, html). Pure JVM
  projection (transform + escape + array_join): each span kind maps to
  a fixed realistic markup shape (h1, nav, p, time, img, ...), text is
  entity-escaped, and the page gets head/script/style chrome that a
  correct tokenizer must ignore. Zero shuffle, codegen end-to-end.
- :func:`tokenize_html` — (doc_id, ..., html) -> docs-shaped span
  table via ``mapInArrow`` over stdlib ``html.parser`` (Arrow batches,
  no per-row Python UDF); the other input columns pass through. The
  parser is structure-driven — (tag, class) decides the span kind,
  exactly how readability/boilerpipe-style extractors classify blocks
  — and suppresses script/style/template/noscript/iframe/svg subtrees
  the way the reference's crawler config excludes them
  (extractContent.py:271-279 ``exclude_tags``).

Invariant (tested + driver oracle `html_tokenize`):
``tokenize_html(render_html(docs)) == docs`` span-for-span —
(kind, text, media_ref, offset) sequence equality. The DuckDB oracle
re-derives the spans arithmetically (oracles.spans_cte raw_spans), so
the driver gate proves the full render->parse round trip against an
engine that never saw HTML at all.

Scale shape: both directions are per-row (render is whole-stage
codegen; tokenize is one Arrow batch stream per partition, no state
across rows, no shuffle) — they inherit the input's partitioning and
scale linearly with executors at the 10^12-doc design point.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import pyworker

# ---------------------------------------------------------------------------
# kind <-> markup mapping (one closed table drives both directions)
# ---------------------------------------------------------------------------

# kind -> (tag, class-or-None). Chosen to mirror how news pages really
# mark these blocks (nav/footer/aside/address/time/h1 are the live
# HTML5 conventions readability-style extractors key on).
KIND_MARKUP: dict[str, tuple[str, str | None]] = {
    "navigation": ("nav", None),
    "menu": ("ul", "menu"),
    "headline": ("h1", None),
    "team": ("span", "team"),
    "author": ("address", None),
    "related_articles": ("aside", "related"),
    "article_body": ("p", None),
    "main_content": ("div", "main"),
    "footer": ("footer", None),
    "copyright": ("small", "copyright"),
    "time": ("time", None),
    "news": ("section", "news"),
    "analysis": ("section", "analysis"),
    "introduction": ("p", "intro"),
    "share": ("div", "share"),
    "link": ("a", None),
    "text": ("div", None),
}

# (tag, class) -> kind for the parser; None class = the tag's default
# kind when no classed variant matches.
_MARKUP_KIND: dict[tuple[str, str | None], str] = {
    (tag, cls): kind for kind, (tag, cls) in KIND_MARKUP.items()
}

# subtrees a content tokenizer must drop entirely (the reference's
# exclude_tags: footer/header/nav/aside/script/style — the structural
# ones among them are *mapped* above and classified as boilerplate
# kinds downstream; these are the non-content ones whose text must
# never leak into any span)
SUPPRESS_TAGS = frozenset(
    ["script", "style", "template", "noscript", "iframe", "svg", "head"]
)
_VOID_TAGS = frozenset(["img", "br", "hr", "meta", "link", "input", "source"])

_CHROME_PRE = (
    '<!DOCTYPE html><html><head><meta charset="utf-8"><title>page</title>'
    "<script>window.__ads&&track(1<2);</script>"
    "<style>.menu{color:#333}</style></head><body>"
)
_CHROME_POST = "</body></html>"


# ---------------------------------------------------------------------------
# render: spans -> HTML (Catalyst only)
# ---------------------------------------------------------------------------

def _esc(col: Column) -> Column:
    """HTML entity escape for text content (& first, then angles)."""
    return F.replace(
        F.replace(F.replace(col, F.lit("&"), F.lit("&amp;")),
                  F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"),
    )


def _esc_attr(col: Column) -> Column:
    """Attribute-value escape: entity escape plus '"' (the attr
    delimiter).  HTMLParser unescapes attribute values symmetrically,
    so tokenize(render(docs)) == docs holds for refs containing
    &, <, >, or '"' — not just clean synthetic ones."""
    return F.replace(_esc(col), F.lit('"'), F.lit("&quot;"))


def _span_markup(sp: Column) -> Column:
    kind, text, ref = sp["kind"], sp["text"], sp["media_ref"]
    esc = _esc(text)
    eref = _esc_attr(ref)
    # media first (no text content)
    out = F.when(kind == "image", F.concat(F.lit('<img src="'), eref, F.lit('">')))
    out = out.when(
        kind == "video", F.concat(F.lit('<video src="'), eref, F.lit('"></video>'))
    )
    for k, (tag, cls) in KIND_MARKUP.items():
        if k == "menu":  # realistic list markup: item inside the list
            body = F.concat(F.lit('<ul class="menu"><li>'), esc, F.lit("</li></ul>"))
        else:
            open_tag = f'<{tag} class="{cls}">' if cls else f"<{tag}>"
            body = F.concat(F.lit(open_tag), esc, F.lit(f"</{tag}>"))
        out = out.when(kind == k, body)
    return out.otherwise(F.concat(F.lit("<div>"), esc, F.lit("</div>")))


def render_html(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans, ...) -> (doc_id, html). JVM-only projection."""
    body = F.array_join(F.transform("spans", _span_markup), "\n")
    return docs.select(
        "doc_id",
        F.concat(F.lit(_CHROME_PRE), body, F.lit(_CHROME_POST)).alias("html"),
    )


# ---------------------------------------------------------------------------
# tokenize: HTML -> spans (stdlib parser inside mapInArrow)
# ---------------------------------------------------------------------------

class _SpanTokenizer(HTMLParser):
    """DOM tokenizer: flat (kind, text, media_ref, offset) span stream.

    Rules (readability-style block model):
    - the OUTERMOST element matching the (tag, class) table opens a
      span; all descendant text accumulates into it (nested anchors,
      bold, list items contribute their text, as real extractors do);
    - <img>/<video> emit media spans at their point of occurrence
      (interleaving preserved — the north star's media-reference
      preservation), whether top-level or inside an open block;
    - script/style/template/noscript/iframe/svg/head subtrees are
      suppressed entirely;
    - data outside any mapped element (inter-element whitespace, stray
      chrome) is ignored.
    Malformed input never raises: unclosed blocks flush at EOF, stray
    end tags are ignored.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.spans: list[tuple[str, str, str]] = []  # (kind, text, ref)
        self._suppress: list[str] = []   # stack of suppressing tags
        self._open_kind: str | None = None
        self._open_tag: str | None = None
        self._depth = 0  # nested SAME-tag count inside the open block:
        #                  counting only same-tag nesting keeps
        #                  <div><div>x</div>y</div> correct while still
        #                  recovering from unclosed inner tags like
        #                  <div><p>x</div> (browser-style auto-close)
        self._buf: list[str] = []

    # -- helpers ----------------------------------------------------------
    @staticmethod
    def _classes(attrs) -> list[str]:
        for name, val in attrs:
            if name == "class" and val:
                return val.split()
        return []

    def _kind_for(self, tag: str, attrs) -> str | None:
        for cls in self._classes(attrs):
            k = _MARKUP_KIND.get((tag, cls))
            if k is not None:
                return k
        return _MARKUP_KIND.get((tag, None))

    def _emit(self, kind: str, text: str, ref: str) -> None:
        self.spans.append((kind, text, ref))

    def _flush_open(self) -> None:
        if self._open_kind is not None:
            self._emit(self._open_kind, "".join(self._buf), "")
            self._open_kind = None
            self._open_tag = None
            self._buf = []
            self._depth = 0

    # -- parser events ----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in SUPPRESS_TAGS:
            self._suppress.append(tag)
            return
        if self._suppress:
            return
        if tag == "img":
            self._emit("image", "", dict(attrs).get("src") or "")
            return
        if tag in _VOID_TAGS:
            return
        if tag == "video":
            # media span at point of occurrence; fallback content inside
            # the element must not leak into any span -> suppress subtree
            self._emit("video", "", dict(attrs).get("src") or "")
            self._suppress.append(tag)
            return
        if self._open_kind is not None:
            if tag == self._open_tag:
                self._depth += 1
            return
        kind = self._kind_for(tag, attrs)
        if kind is not None:
            self._open_kind = kind
            self._open_tag = tag
            self._buf = []
            self._depth = 0

    def handle_startendtag(self, tag, attrs):
        # overriding disables the default starttag+endtag delegation,
        # so self-closing media is handled here; <video/> has no
        # subtree to suppress
        if self._suppress:
            return
        if tag == "img":
            self._emit("image", "", dict(attrs).get("src") or "")
        elif tag == "video":
            self._emit("video", "", dict(attrs).get("src") or "")

    def handle_endtag(self, tag):
        if self._suppress:
            if tag == self._suppress[-1]:
                self._suppress.pop()
            return
        if self._open_kind is None:
            return
        if tag == self._open_tag:
            if self._depth:
                self._depth -= 1
            else:
                self._flush_open()

    def handle_data(self, data):
        if self._suppress or self._open_kind is None:
            return
        self._buf.append(data)

    def close(self):
        super().close()
        self._flush_open()


def parse_html_to_spans(html: str) -> list[dict]:
    """One document's HTML -> ordered span dicts (the UDF kernel and
    the tests' Python twin are this same function)."""
    p = _SpanTokenizer()
    try:
        p.feed(html or "")
        p.close()
    except Exception:  # stdlib parser is robust, but never let one doc kill a batch
        pass
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": i}
        for i, (k, t, r) in enumerate(p.spans)
    ]


SPAN_SCHEMA = T.ArrayType(
    T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ])
)


def tokenize_html(html_df: DataFrame) -> DataFrame:
    """(..., html) -> (..., spans): every input column except ``html``
    passes through unchanged (Arrow buffers, never converted), and
    ``spans`` is appended, so the fetch metadata needs no join back to
    the input. Arrow-batched, partition-local."""
    import pyarrow as pa

    keep = [c for c in html_df.columns if c != "html"]
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))

    def _run(batches: Iterator) -> Iterator:
        pyworker.drop_spark_zip_importers()
        for batch in batches:
            spans = pa.array(
                [parse_html_to_spans(h) for h in batch.column(len(keep)).to_pylist()],
                span_type)
            yield pa.RecordBatch.from_arrays(
                batch.columns[:len(keep)] + [spans], names=keep + ["spans"])

    out_schema = T.StructType(
        [html_df.schema[c] for c in keep] + [T.StructField("spans", SPAN_SCHEMA)])
    return html_df.select(*keep, "html").mapInArrow(_run, out_schema)
