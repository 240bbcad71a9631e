"""Output check for one job run, read straight from the workdir's
parquet with pyarrow (no Spark session).

The job's tables (see jobs/run_pipeline.py) are checked for:

- row reconciliation: every input doc is in extracted/; docs in =
  doc-table rows of this batch + error-gated rows; the doc table holds
  exactly the prior ok docs plus this batch's ok docs; the vector table
  holds exactly the doc-table rows with non-empty ``main_content``;
- a seeded sample of doc-table rows equal to
  ``tests/pyoracle.extract_doc`` of the same input doc;
- the same sample's embeddings equal to :func:`hash_embed`, a
  pure-Python rendition of the feature-hash embedding;
- with clustering: every membership points to a live cluster,
  ``member_count`` is the true member count, no cluster has fewer than
  two members.

:func:`check` returns a list of problems; empty means correct.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import re
from datetime import date, datetime

import pyarrow as pa
import pyarrow.parquet as pq

SAMPLE = 48
_MEDIA = {"image", "video"}
_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s


def hash_embed(text: str, dim: int) -> list[float]:
    """md5 feature hashing over distinct lower-cased tokens, L2-normalized
    (the arithmetic functions/embeddings.hash_embed documents)."""
    v = [0.0] * dim
    for tok in set(_WS.split(text.strip(" ").lower())):
        h = hashlib.md5(tok.encode()).hexdigest()
        v[int(h[:8], 16) % dim] += 1.0 if int(h[8], 16) % 2 else -1.0
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n else v


def _read(files: list[str], columns: list[str] | None = None) -> pa.Table:
    if not files:
        raise FileNotFoundError("no parquet files")
    # files a MERGE carried over and files it rewrote may differ in
    # nullability only (a literal column is written NOT NULL)
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in sorted(files)],
                            promote_options="default")


def read_table(table_dir: str, columns: list[str] | None = None) -> pa.Table:
    """Current snapshot of a merge.merge_write table."""
    meta = f"{table_dir}/metadata"
    ids = [int(n[5:-5]) for n in os.listdir(meta) if re.fullmatch(r"snap-\d+\.json", n)]
    with open(f"{meta}/snap-{max(ids)}.json") as f:
        man = json.load(f)
    files = []
    for b, d in man["buckets"].items():
        files += glob.glob(f"{table_dir}/data/{d}/bucket={b}/*.parquet")
    return _read(files, columns)


def cluster_state(wd: str) -> tuple[pa.Table, pa.Table]:
    """(clusters, memberships) of the latest committed cluster state."""
    state = f"{wd}/cluster_state"
    ver = max(int(n[len("committed-v"):]) for n in os.listdir(state)
              if re.fullmatch(r"committed-v\d+", n))
    return (_read(glob.glob(f"{state}/v{ver}/clusters/*.parquet")),
            _read(glob.glob(f"{state}/v{ver}/memberships/*.parquet")))


def _day(v) -> date | None:
    return v.date() if isinstance(v, datetime) else v


def _expected_row(doc: dict) -> dict:
    from tests import pyoracle

    e = pyoracle.extract_doc(doc)
    return {
        "url_norm": e["url_norm"], "title": e["title"], "author": e["author"],
        "publication_date": e["publication_date"], "cleaned_date": _day(e["cleaned_date"]),
        "content_type": e["content_type"], "type_confidence": e["type_confidence"],
        "main_content": "\n\n".join(x["text"] for x in e["extracted"] if x["kind"] not in _MEDIA),
        "is_processed": True,
    }


def is_error_doc(doc: dict) -> bool:
    from tests import pyoracle

    return any(pyoracle.is_error_text(s["text"] or "") for s in doc["spans"])


def check(wd: str, batch: list[dict], prior_ok: set[str], seed: int, dim: int,
          cluster: bool) -> list[str]:
    problems: list[str] = []
    ids = {d["doc_id"] for d in batch}
    err = {d["doc_id"] for d in batch if is_error_doc(d)}

    ext = _read(glob.glob(f"{wd}/extracted/bucket=*/*.parquet"), ["doc_id", "error"])
    ext_err = {d for d, e in zip(ext["doc_id"].to_pylist(), ext["error"].to_pylist()) if e}
    if ext.num_rows != len(batch) or set(ext["doc_id"].to_pylist()) != ids:
        problems.append(f"extracted rows {ext.num_rows} != docs in {len(batch)}")
    if ext_err != err:
        problems.append(f"error-gated rows {len(ext_err)} != expected {len(err)}")

    docs = read_table(f"{wd}/doc_table").to_pylist()
    by_id = {r["doc_id"]: r for r in docs}
    of_batch = len(ids & by_id.keys())
    if of_batch + len(err) != len(batch):
        problems.append(f"doc-table rows of batch {of_batch} + error-gated {len(err)} "
                        f"!= docs in {len(batch)}")
    if len(by_id) != len(docs) or by_id.keys() != prior_ok | (ids - err):
        problems.append(f"doc table holds {len(docs)} rows, expected {len(prior_ok | (ids - err))}")

    vecs = read_table(f"{wd}/vec_table").to_pylist()
    vec_by_id = {r["doc_id"]: r["embedding"] for r in vecs}
    with_content = {r["doc_id"] for r in docs if r["main_content"]}
    if len(vecs) != len(vec_by_id) or vec_by_id.keys() != with_content:
        problems.append(f"vector rows {len(vecs)} != ok rows with content {len(with_content)}")

    ok_docs = sorted((d for d in batch if d["doc_id"] not in err), key=lambda d: d["doc_id"])
    for doc in random.Random(seed).sample(ok_docs, min(SAMPLE, len(ok_docs))):
        row = by_id.get(doc["doc_id"])
        if row is None:
            problems.append(f"{doc['doc_id']}: missing from doc table")
            continue
        got = dict(row, cleaned_date=_day(row["cleaned_date"]))
        for k, v in _expected_row(doc).items():
            if got[k] != v:
                problems.append(f"{doc['doc_id']}.{k}: {got[k]!r} != oracle {v!r}")
        if row["main_content"]:
            want = hash_embed(row["main_content"], dim)
            emb = vec_by_id.get(doc["doc_id"])
            if emb is None or len(emb) != dim or any(abs(a - b) > 1e-12 for a, b in zip(emb, want)):
                problems.append(f"{doc['doc_id']}: embedding differs from hash_embed")

    if cluster:
        clusters, members = cluster_state(wd)
        counts: dict[str, int] = {}
        for c in members["cluster_id"].to_pylist():
            counts[c] = counts.get(c, 0) + 1
        live = dict(zip(clusters["cluster_id"].to_pylist(), clusters["member_count"].to_pylist()))
        if counts.keys() - live.keys():
            problems.append(f"{len(counts.keys() - live.keys())} memberships point to no live cluster")
        wrong = [c for c, n in live.items() if counts.get(c, 0) != n]
        if wrong:
            problems.append(f"{len(wrong)} clusters' member_count differs from the true count")
        if any(n < 2 for n in counts.values()) or any(n < 2 for n in live.values()):
            problems.append("a cluster has fewer than 2 members")
    return problems
