"""Arrow-vectorized twin of ``extraction.extract``.

Same semantics, same output schema, different execution: one
``mapInArrow`` pass where each Arrow batch (~10k docs) is processed
with compiled-regex Python over the span lists. This is the
pandas/Arrow-UDF path the BASELINE.json input_hint prescribes
("vectorized pandas/Arrow UDFs, no per-row Python" — per-row here
means per-row *Spark* UDF calls; inside the batch we use plain
compiled re, which is C-speed per operation).

r6 execution notes (guide §4.1/4.2):

- ``mapInArrow`` instead of ``mapInPandas``: the spans column is read
  straight off the Arrow ListArray's offsets + flattened child arrays
  (four flat ``to_pylist`` calls per batch) instead of materializing a
  Python dict per span through pandas, and the output batch is
  assembled natively (``ListArray.from_arrays``) instead of a pandas
  DataFrame of nested tuples — both directions of the Python boundary
  drop the pandas object layer.
- regex fast paths: every pattern in the clean chain is anchored on a
  literal ("![", "](", "<", "\\\\") — a C-speed ``in`` check skips the
  sub() for the majority of spans that carry no decoration, and the
  whitespace collapse reduces to ``str.strip()`` for ASCII text with no
  control whitespace and no double spaces (provably identical results:
  the guards only skip when the pattern cannot match).
- per-task date-parse memo: span dates repeat heavily (the corpus has
  365 distinct date strings); ``strptime`` results are cached per
  worker with a bounded dict.

Trade-offs vs the pure-Catalyst higher-order-function path
(operators/extraction.py):

+ compiled regex (C) vs interpreted Catalyst expression eval,
+ one pass over each span (the HOF path re-evaluates shared subtrees
  in some consumers),
- Arrow (de)serialization of the nested spans arrays per batch,
- a Python worker pool per executor (memory + startup).

``tests/test_extraction_arrow.py`` asserts row-for-row equality with
the Catalyst path; ``bench.py`` can time both (T4L_EXTRACT_IMPL=arrow).

Semantics derived from the same reference lines as extraction.py
(clean chain extractContent.py:101-109, keep/drop :271-279, escalation
:394-399, classifier cleanContent.py:260-372) via spec.py constants.
"""

from __future__ import annotations

import re
import urllib.parse
from collections.abc import Iterator
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .. import pyworker, spec

_RE_IMG = re.compile(spec.RE_MD_IMAGE)
_RE_LINK = re.compile(spec.RE_MD_LINK)
_RE_TAG = re.compile(spec.RE_HTML_TAG)
_RE_WS = re.compile(r"\s+")
_RE_IMG_URL = re.compile(spec.RE_MD_IMAGE_URL)
_RE_ROUNDUP = re.compile(spec.ROUNDUP_URL_REGEX)

_CONTENT = frozenset(spec.CONTENT_KINDS)
_BOILER = frozenset(spec.BOILERPLATE_KINDS)
_MEDIA = frozenset(spec.MEDIA_KINDS)

OUT_SCHEMA = (
    "doc_id string, url_norm string, lang string, spans_in bigint, "
    "extracted array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "error boolean, title string, author string, publication_date string, "
    "cleaned_date timestamp, content_chars bigint, headline_cnt bigint, "
    "team_cnt bigint, news_cnt bigint, spans_kept bigint, "
    "content_type string, type_confidence double"
)

_PA_EXTRACTED = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))


def _pa_schema(tz: str) -> pa.Schema:
    return pa.schema([
        ("doc_id", pa.string()), ("url_norm", pa.string()),
        ("lang", pa.string()), ("spans_in", pa.int64()),
        ("extracted", _PA_EXTRACTED), ("error", pa.bool_()),
        ("title", pa.string()), ("author", pa.string()),
        ("publication_date", pa.string()),
        ("cleaned_date", pa.timestamp("us", tz=tz)),
        ("content_chars", pa.int64()), ("headline_cnt", pa.int64()),
        ("team_cnt", pa.int64()), ("news_cnt", pa.int64()),
        ("spans_kept", pa.int64()), ("content_type", pa.string()),
        ("type_confidence", pa.float64()),
    ])


# whitespace characters Python's \s matches within ASCII; text containing
# none of these (and no double space) cannot be changed by the \s+ -> ' '
# collapse except for leading/trailing strip.
_WS_CTRL = ("\t", "\n", "\r", "\x0b", "\x0c")

# RE2 whitespace-run collapse equal to Python's \s+ -> ' ' restricted
# to ASCII: \t-\r covers \t\n\x0b\x0c\r, and \x1c-\x1f are the ASCII
# separators Python's (unicode) \s also matches. A plain `[ws]+`
# pattern would MATCH EVERY SINGLE SPACE (5M no-op rewrites per 10k-doc
# batch — measured 0.48s, the whole RE2 win gone), so the alternation
# only matches runs that actually change: any run containing a control
# whitespace char, or two-plus spaces. Single spaces are left alone,
# which is exactly what the replacement would do. Non-ASCII spans fall
# back to the Python chain (string_is_ascii guard).
_WS_RE2 = "[\t-\r\x1c-\x1f ]*[\t-\r\x1c-\x1f][\t-\r\x1c-\x1f ]*| {2,}"


def _vector_clean(texts: pa.Array) -> pa.Array:
    """The clean chain over a whole batch of span texts in C++ (RE2).

    Pattern-for-pattern the same chain as _clean / functions/text
    .clean_text; the patterns use only literal character classes, which
    mean the same thing in RE2, Java regex and Python re, so results
    are identical for ASCII inputs (the ws step is ASCII-pinned above).
    Nulls propagate (callers coalesce to '')."""
    t = pc.replace_substring_regex(texts, pattern=spec.RE_MD_IMAGE, replacement="")
    t = pc.replace_substring_regex(t, pattern=spec.RE_MD_LINK, replacement="\\1")
    t = pc.replace_substring_regex(t, pattern=spec.RE_HTML_TAG, replacement=" ")
    t = pc.replace_substring(t, pattern="\\\\", replacement="\\")
    t = pc.replace_substring(t, pattern='\\"', replacement='"')
    t = pc.replace_substring_regex(t, pattern=_WS_RE2, replacement=" ")
    # after the collapse every whitespace run is a single ' ', so the
    # Python .strip() reduces to trimming spaces
    return pc.utf8_trim(t, characters=" ")


def _clean(t: str) -> str:
    # guards: each pattern requires its literal anchor; `in` is a C scan,
    # far cheaper than an always-run regex sub over undecorated text.
    if "![" in t:
        t = _RE_IMG.sub("", t)
    if "](" in t:
        t = _RE_LINK.sub(r"\1", t)
    if "<" in t:
        t = _RE_TAG.sub(" ", t)
    if "\\" in t:
        t = t.replace("\\\\", "\\").replace('\\"', '"')
    if (
        t.isascii()
        and "  " not in t
        and not any(c in t for c in _WS_CTRL)
    ):
        return t.strip()
    return _RE_WS.sub(" ", t).strip()


def _url_decode(u: str) -> str:
    """Twin of functions/urls.normalize_url's decode step: '+' preserved,
    malformed escapes stay literal while valid %XX elsewhere still
    decode, invalid UTF-8 sequences become U+FFFD — i.e. exactly
    urllib.parse.unquote (the reference's call), which IS those
    semantics natively."""
    return urllib.parse.unquote(u)


# python strptime formats equivalent to the Catalyst default list
PY_DATE_FORMATS = ["%b %d, %Y", "%B %d, %Y", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%m/%d/%Y"]

# explicit Spark-pattern -> strptime mapping (string surgery on
# datetime patterns is error-prone; unknown patterns must be passed
# as strptime directly)
_FMT_MAP = {
    "MMM d, yyyy": "%b %d, %Y",
    "MMMM d, yyyy": "%B %d, %Y",
    "yyyy-MM-dd'T'HH:mm:ss": "%Y-%m-%dT%H:%M:%S",
    "yyyy-MM-dd HH:mm:ss": "%Y-%m-%d %H:%M:%S",
    "yyyy-MM-dd": "%Y-%m-%d",
    "MM/dd/yyyy": "%m/%d/%Y",
}


def _parse_date(pub_date: str, fmts: list[str], cache: dict) -> datetime | None:
    try:
        return cache[pub_date]
    except KeyError:
        pass
    cleaned_date = None
    for fmt in fmts:
        try:
            cleaned_date = datetime.strptime(pub_date, fmt)
            break
        except ValueError:
            continue
    if len(cache) > 1 << 16:  # bound worker memory on adversarial corpora
        cache.clear()
    cache[pub_date] = cleaned_date
    return cleaned_date


def _process_batch(batch: pa.RecordBatch, fmts: list[str],
                   date_cache: dict, schema: pa.Schema) -> pa.RecordBatch:
    n = batch.num_rows
    doc_ids = batch.column(0).to_pylist()
    urls = batch.column(1).to_pylist()
    langs = batch.column(2).to_pylist()
    spans_col = batch.column(3)
    # offsets are absolute positions into the (unsliced) child arrays
    offs = spans_col.offsets.to_pylist()
    spans_null = spans_col.is_null().to_pylist() if spans_col.null_count else None
    child = spans_col.values
    kind_l = child.field("kind").to_pylist()
    text_arr = child.field("text")
    text_l = text_arr.to_pylist()
    media_l = child.field("media_ref").to_pylist()
    # one RE2 pass over every span text; per-span Python only for the
    # (rare) non-ASCII spans where Python's unicode \s could differ
    clean_l = _vector_clean(text_arr).to_pylist()
    ascii_l = pc.string_is_ascii(text_arr).to_pylist()

    # output accumulators
    o_url, o_spans_in, o_err = [], [], []
    o_title, o_author, o_pub, o_date = [], [], [], []
    o_cc, o_hc, o_tc_cnt, o_nc, o_kept = [], [], [], [], []
    o_ct, o_conf = [], []
    ext_kind, ext_text, ext_ref, ext_off = [], [], [], []
    ext_offsets = [0]

    wc_thresh = spec.WORD_COUNT_THRESHOLD
    ld_max = spec.LINK_DENSITY_MAX
    err_prefixes = spec.ERROR_PREFIXES

    for i in range(n):
        url_norm = _url_decode(urls[i] or "")
        if not url_norm.startswith("http"):
            url_norm = "https://www." + url_norm
        lang = langs[i]

        error = False
        title = author = pub_date = ""
        content_chars = 0
        headline_cnt = team_cnt = news_cnt = 0
        first_text = None
        n_ext = 0

        lo, hi = (0, 0) if (spans_null and spans_null[i]) else (offs[i], offs[i + 1])
        for j in range(lo, hi):
            kind = kind_l[j] or ""
            raw = text_l[j] or ""
            is_err = raw.startswith(err_prefixes)
            if is_err:
                error = True  # flag considers every span's text
            if kind in _MEDIA:  # media kind wins over the error predicate
                ext_kind.append(kind); ext_text.append("")
                ext_ref.append(media_l[j] or ""); ext_off.append(n_ext)
                n_ext += 1
                continue
            if is_err:
                continue
            cleaned = (clean_l[j] or "") if ascii_l[j] else _clean(raw)
            if kind in _BOILER:
                continue
            if kind in _CONTENT:
                if not cleaned:
                    continue
            elif kind == "text":
                wc = 0 if not cleaned else cleaned.count(" ") + 1
                matched = (len(raw) - len(_RE_LINK.sub("", raw))) if "](" in raw else 0
                if wc < wc_thresh or matched / max(len(raw), 1) >= ld_max:
                    continue
            else:
                continue
            ext_kind.append(kind); ext_text.append(cleaned)
            ext_ref.append(""); ext_off.append(n_ext)
            n_ext += 1
            if first_text is None:
                first_text = cleaned
            content_chars += len(cleaned)
            if kind == "headline":
                headline_cnt += 1
                if title == "":
                    title = cleaned
            elif kind == "team":
                team_cnt += 1
            elif kind == "news":
                news_cnt += 1
            elif kind == "author":
                if author == "":
                    author = cleaned
            elif kind == "time":
                if pub_date == "":
                    pub_date = cleaned
            if "![" in raw:
                m = _RE_IMG_URL.search(raw)
                if m and m.group(1):
                    ext_kind.append("image"); ext_text.append("")
                    ext_ref.append(m.group(1)); ext_off.append(n_ext)
                    n_ext += 1
        ext_offsets.append(len(ext_kind))

        # escalation analog (extractContent.py:394-399)
        if title == "" and content_chars < spec.ESCALATE_MAX_CONTENT and first_text:
            title = first_text[: spec.TITLE_FALLBACK_CHARS]

        cleaned_date = _parse_date(pub_date, fmts, date_cache) if pub_date else None

        if _RE_ROUNDUP.search(url_norm.lower()):
            ct, tc = spec.CT_ROUNDUP_URL
        elif content_chars < spec.MIN_CONTENT_CHARS:
            ct, tc = spec.CT_EMPTY
        elif lang is not None and lang != "en":
            # NULL lang must NOT classify as wrong_content: the Catalyst
            # twin's (lang != 'en') is NULL for NULL lang, which when()
            # treats as false — mirror that fall-through here
            ct, tc = spec.CT_WRONG
        elif headline_cnt >= spec.HEADLINE_ROUNDUP_MIN:
            ct, tc = spec.CT_ROUNDUP_SHAPE
        elif team_cnt >= spec.TEAM_TOPIC_MIN and news_cnt >= spec.NEWS_TOPIC_MIN:
            ct, tc = spec.CT_TOPIC
        elif news_cnt >= spec.NEWS_COLL_MIN:
            ct, tc = spec.CT_NEWSCOLL
        else:
            ct, tc = spec.CT_ARTICLE
        tc = min(max(float(tc), 0.0), 1.0)
        if ct in ("empty_content", "wrong_content"):
            tc = max(tc, 0.5)

        o_url.append(url_norm); o_spans_in.append(hi - lo); o_err.append(error)
        o_title.append(title); o_author.append(author); o_pub.append(pub_date)
        o_date.append(cleaned_date); o_cc.append(content_chars)
        o_hc.append(headline_cnt); o_tc_cnt.append(team_cnt); o_nc.append(news_cnt)
        o_kept.append(n_ext); o_ct.append(ct); o_conf.append(tc)

    ext_struct = pa.StructArray.from_arrays(
        [pa.array(ext_kind, pa.string()), pa.array(ext_text, pa.string()),
         pa.array(ext_ref, pa.string()), pa.array(ext_off, pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    extracted = pa.ListArray.from_arrays(pa.array(ext_offsets, pa.int32()), ext_struct)
    arrays = [
        pa.array(doc_ids, pa.string()), pa.array(o_url, pa.string()),
        pa.array(langs, pa.string()), pa.array(o_spans_in, pa.int64()),
        extracted, pa.array(o_err, pa.bool_()),
        pa.array(o_title, pa.string()), pa.array(o_author, pa.string()),
        pa.array(o_pub, pa.string()), pa.array(o_date, schema.field("cleaned_date").type),
        pa.array(o_cc, pa.int64()), pa.array(o_hc, pa.int64()),
        pa.array(o_tc_cnt, pa.int64()), pa.array(o_nc, pa.int64()),
        pa.array(o_kept, pa.int64()), pa.array(o_ct, pa.string()),
        pa.array(o_conf, pa.float64()),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def extract_arrow(docs: DataFrame, date_formats: list[str] | None = None) -> DataFrame:
    """Arrow-batched extraction; output schema equals extraction.extract."""
    fmts = date_formats or PY_DATE_FORMATS
    fmts = [_FMT_MAP.get(f, f) for f in fmts]
    tz = docs.sparkSession.conf.get("spark.sql.session.timeZone")
    schema = _pa_schema(tz)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.drop_spark_zip_importers()
        date_cache: dict = {}
        for batch in batches:
            yield _process_batch(batch, fmts, date_cache, schema)

    # project to exactly the consumed columns: mapInArrow is opaque to
    # column pruning, so anything else the caller carries would be
    # serialized across the boundary for nothing (guide §4.1)
    return docs.select("doc_id", "url", "lang", "spans").mapInArrow(fn, schema=OUT_SCHEMA)
