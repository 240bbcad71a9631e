"""Seeded, topic-structured document corpus for the pipeline benchmark.

The job's synthetic ``documents`` layout is (doc_id bigint, text, lang,
source, n_chars); ``synth.docs_from_documents`` turns it into spans by
slicing ``text`` at positions derived from ``n_chars``. This module
only decides the text, so every span stays oracle-checkable with
``tests/pyoracle.synth_doc``.

Text model (a news crawl):

- one fixed *world*: a vocabulary of pseudo-words split into
  ``N_TOPICS`` topic vocabularies; within a topic, word ranks follow a
  Zipf law, and shared function words are mixed in;
- a *story* is one draw of words from its topic, crawled as
  ``STORY_SIZE`` consecutive doc_ids; each crawl re-draws
  ``REWRITE_FRAC`` of the words with topic words of the SAME length,
  so all crawls of a story share ``n_chars`` (hence span layout) and
  differ in content.

Crawls of one story embed close together (they pair and merge in
clustering); different stories of a topic share only the Zipf head,
so the merge fixpoint stops after one productive pass instead of
collapsing every embedding into one cluster.

The run seed sets the doc_id range of new docs (``doc_id_base``) and
the text draw. The prior table of the incremental workload is fixed
(``PRIOR_SEED``), so its committed state can be built once per code
version; a seed's batch re-crawls a seeded sample of it.
"""

from __future__ import annotations

import bisect
import itertools
import random

WORLD_SEED = 20250101
PRIOR_SEED = 1
N_TOPICS = 24
TOPIC_VOCAB = 400
ZIPF_S = 1.05
FUNCTION_WORDS = (
    "the a of to in and for on with at by from as is was are has have "
    "that this it its after before over into but not will said".split()
)
FUNCTION_WORD_FRAC = 0.3
STORY_SIZE = 2
REWRITE_FRAC = 0.06
WORDS_MIN, WORDS_MAX = 70, 220
LANGS = ["en", "en", "en", "en", "en", "en", "es", "de"]
SYLLABLES = [a + b for a in "bdfgklmnprstvz" for b in "aeiou"]
SEED_STRIDE = 1_000_000


def doc_id_base(seed: int) -> int:
    """First doc_id of a seed's new docs; [0, SEED_STRIDE) is the prior's."""
    return (abs(seed) + 1) * SEED_STRIDE


class World:
    """Topic vocabularies with Zipf rank weights, fixed by WORLD_SEED."""

    def __init__(self):
        rng = random.Random(WORLD_SEED)
        words: set[str] = set()
        while len(words) < N_TOPICS * TOPIC_VOCAB:
            words.add("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))))
        pool = sorted(words)
        rng.shuffle(pool)
        self.topics = [pool[t * TOPIC_VOCAB:(t + 1) * TOPIC_VOCAB] for t in range(N_TOPICS)]
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(TOPIC_VOCAB)))
        self.by_len: list[dict[int, list[str]]] = []
        for words_t in self.topics:
            d: dict[int, list[str]] = {}
            for w in words_t:
                d.setdefault(len(w), []).append(w)
            self.by_len.append(d)

    def story(self, rng: random.Random) -> tuple[int, list[str]]:
        topic = rng.randrange(N_TOPICS)
        words = []
        for _ in range(rng.randint(WORDS_MIN, WORDS_MAX)):
            if rng.random() < FUNCTION_WORD_FRAC:
                words.append(rng.choice(FUNCTION_WORDS))
            else:
                i = bisect.bisect_left(self.cum, rng.random() * self.cum[-1])
                words.append(self.topics[topic][min(i, TOPIC_VOCAB - 1)])
        return topic, words

    def crawl(self, rng: random.Random, doc_id: int, story: tuple[int, list[str]]) -> dict:
        """One crawl of a story: REWRITE_FRAC of its words re-drawn, same lengths."""
        topic, words = story
        out = list(words)
        for i in rng.sample(range(len(out)), max(1, int(len(out) * REWRITE_FRAC))):
            out[i] = rng.choice(self.by_len[topic].get(len(out[i]), [out[i]]))
        text = " ".join(out)
        return {"doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
                "source": f"src{doc_id % 10}", "n_chars": len(text)}


def _new_docs(world: World, rng: random.Random, first_id: int, n: int,
              prior_stories: list | None = None) -> tuple[list[dict], list]:
    """n docs with consecutive ids, STORY_SIZE per story. With
    ``prior_stories``, every other story continues a seeded prior one,
    each a different one: two continuations of one prior story merge
    into a chain, which costs the merge fixpoint an extra pass on some
    seeds and not on others."""
    rows, stories = [], []
    n_continued = (-(-n // STORY_SIZE) + 1) // 2
    continued = iter(rng.sample(prior_stories, n_continued) if prior_stories else [])
    for i in range(n):
        if i % STORY_SIZE == 0:
            if prior_stories and (i // STORY_SIZE) % 2 == 0:
                stories.append(next(continued))
            else:
                stories.append(world.story(rng))
        rows.append(world.crawl(rng, first_id + i, stories[-1]))
    return rows, stories


def cold_batch(seed: int, n_docs: int) -> list[dict]:
    """``documents`` rows of a cold workload, ordered by doc_id."""
    return _new_docs(World(), random.Random(seed), doc_id_base(seed), n_docs)[0]


def prior_docs(n_prior: int) -> tuple[list[dict], list]:
    """``documents`` rows of the incremental workload's prior table, and
    their stories; the same for every seed."""
    return _new_docs(World(), random.Random(PRIOR_SEED), 0, n_prior)


def incremental(seed: int, n_prior: int, n_docs: int, n_updates: int) -> tuple[list[dict], list[dict]]:
    """(prior, batch) ``documents`` rows of the incremental workload.

    ``prior`` depends only on ``n_prior``. ``batch`` has ``n_updates``
    re-crawls of seeded prior doc_ids, then ``n_docs - n_updates`` new
    docs in the seed's own id range."""
    world = World()
    prior, stories = prior_docs(n_prior)
    rng = random.Random(seed)
    batch = [world.crawl(rng, d, stories[d // STORY_SIZE])
             for d in sorted(rng.sample(range(n_prior), n_updates))]
    batch += _new_docs(world, rng, doc_id_base(seed), n_docs - n_updates, stories)[0]
    return prior, batch


# ---------------------------------------------------------------------------
# documents -> job input (span table or raw HTML)
# ---------------------------------------------------------------------------
#
# Deriving spans through Spark would cost a JVM start per benchmark run,
# so the span table comes from ``pyoracle.synth_doc`` — the pure-Python
# twin the golden tests pin row-for-row to ``synth.docs_from_documents``
# — and HTML from :func:`render_html`, a twin of
# ``html_tokenize.render_html``. ``perfbench/tests`` pins both twins to
# their Spark originals on this corpus.


def span_docs(rows: list[dict]) -> list[dict]:
    """documents rows -> docs rows (doc_id, url, lang, spans)."""
    from tests import pyoracle

    return [pyoracle.synth_doc(r["doc_id"], r["text"], r["lang"], r["n_chars"]) for r in rows]


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_html(spans: list[dict]) -> str:
    """Twin of ``html_tokenize.render_html`` for one document's spans."""
    from tackle4losscontentextraction_spark.operators import html_tokenize as ht

    parts = []
    for s in spans:
        kind, text = s["kind"], _esc(s["text"])
        if kind in ("image", "video"):
            ref = _esc(s["media_ref"]).replace('"', "&quot;")
            parts.append(f'<img src="{ref}">' if kind == "image"
                         else f'<video src="{ref}"></video>')
        elif kind == "menu":
            parts.append(f'<ul class="menu"><li>{text}</li></ul>')
        elif kind in ht.KIND_MARKUP:
            tag, cls = ht.KIND_MARKUP[kind]
            open_tag = f'<{tag} class="{cls}">' if cls else f"<{tag}>"
            parts.append(f"{open_tag}{text}</{tag}>")
        else:
            parts.append(f"<div>{text}</div>")
    return ht._CHROME_PRE + "\n".join(parts) + ht._CHROME_POST


INPUT_FILES = 8


def write_input(docs: list[dict], path: str, html: bool) -> None:
    """Write docs rows as the job's ``--spans`` or ``--html`` input: a
    directory of INPUT_FILES parquet files, as a crawl drop would be
    (Spark plans at least one scan task per file, so the scan splits
    across cores)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "url": pa.array([d["url"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
    }
    if html:
        cols["html"] = pa.array([render_html(d["spans"]) for d in docs], pa.string())
    else:
        cols["spans"] = pa.array([d["spans"] for d in docs], pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ])))
    table = pa.table(cols)
    os.makedirs(path)
    step = -(-len(docs) // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:02d}.parquet")
