"""spark-submit entry point for the FULL article pipeline — the Spark
restatement of the reference's per-article chain
(``src/modules/article_processor.py:21-146``: url fix -> extract ->
clean/classify -> DB update -> embed -> vector insert) as ONE resumable
job, composed from the library stages:

    docs(doc_id, url, lang, spans | html)     [scan; --html DOM-tokenizes]
      -> extraction.extract[_arrow]           [F1,F2,F5,L2,L3,C1: one projection]
      -> write extracted (bucketed, lineage)  [kill/rerun resumes pending buckets]
      -> read extracted/ (all buckets)        [the write's schema: no inference]
      -> A7 tally                             [Observation on the doc MERGE's
                                               source pass: no scan of its own]
      -> R5 gate: error rows stop here        [status-column filter, no exception]
      -> main_content join + hash embedding   [A1 + L4, L2-normalized]
      -> MERGE into doc table                 [S12/S14: snapshot-atomic upsert,
                                               is_processed=true  — the
                                               reference's update_article_in_db]
      -> MERGE into vector table              [S13: embedding insert]
      -> optional incremental clustering      [--cluster: assign/merge/maintain
                                               with state under --workdir]
      -> metrics JSON on stdout               [the A7 tally]

Every stage is idempotent: extraction resumes from per-bucket lineage,
the MERGEs are keyed upserts into snapshot tables (re-merging the same
rows produces an identical snapshot), and clustering state (clusters +
accumulated memberships) lives under the workdir, so a killed run can
simply be re-submitted — the reference needs a /tmp lock file plus
manual cleanup for the same property (``lock_manager.py:13``).

    cd /root/repo && zip -qr /tmp/t4l.zip tackle4losscontentextraction_spark

    spark-submit --master local[32] \
        --py-files /tmp/t4l.zip \
        jobs/run_pipeline.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --workdir /tmp/t4l_pipeline --buckets 16 [--arrow] [--html] [--cluster]

Workdir layout:
    extracted/   bucketed extraction output (resume unit)
    lineage/     snap-<N>.json manifests: every done bucket with its row
                 count, and the schema of extracted/; the largest N is live
    doc_table/   snapshot table of cleaned articles (is_processed=true)
    vec_table/   snapshot table of (doc_id, embedding)
    cluster_state/v<N>/{clusters,memberships}/   clustering state (with
                 --cluster), one version per run
    cluster_state/committed-v<N>   marker: v<N> is complete; the largest
                 committed N is the live state
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--arrow", action="store_true",
                    help="use the Arrow (mapInArrow) extraction path")
    ap.add_argument("--html", action="store_true",
                    help="input is raw HTML (doc_id, url, lang, html)")
    ap.add_argument("--spans", action="store_true",
                    help="input is already span-shaped (doc_id, url, "
                         "lang, spans) — the pipeline's native table "
                         "layout; skip the documents->spans synthesis")
    ap.add_argument("--cluster", action="store_true",
                    help="also run incremental clustering on new embeddings")
    ap.add_argument("--dim", type=int, default=64, help="embedding dim")
    args = ap.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.session import job_session

    spark = job_session("t4l-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.functions import embeddings as emb_fn
    from tackle4losscontentextraction_spark.operators import (
        extraction,
        extraction_arrow,
        merge,
    )
    from tackle4losscontentextraction_spark.plans import pipeline
    from tackle4losscontentextraction_spark.sources import lineage, synth

    wd = args.workdir.rstrip("/")
    extracted_dir, lineage_dir = f"{wd}/extracted", f"{wd}/lineage"
    doc_table, vec_table = f"{wd}/doc_table", f"{wd}/vec_table"

    # per-stage wall times (VERDICT r5 task 1: the composed pipeline
    # needs a stage profile, not one opaque number)
    import time as _time
    stage_sec: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _t0
        stage_sec[name] = round(_time.perf_counter() - _t0, 3)
        _t0 = _time.perf_counter()

    # ---- stage 1: extract (resumable) -------------------------------
    raw = spark.read.parquet(args.input)
    if args.html:
        from tackle4losscontentextraction_spark.operators import html_tokenize

        docs = html_tokenize.tokenize_html(raw.select("doc_id", "url", "lang", "html"))
    elif args.spans:
        docs = raw.select("doc_id", "url", "lang", "spans")
    else:
        docs = synth.docs_from_documents(raw)
    transform = extraction_arrow.extract_arrow if args.arrow else extraction.extract
    resume = lineage.run_with_resume(
        spark, docs, transform, extracted_dir, lineage_dir,
        n_buckets=args.buckets)
    _mark("extract_write")

    # every bucket of extracted/, done now or by an earlier run, read
    # with the schema its lineage holds (no schema-inference job)
    extracted = spark.read.schema(resume.pop("schema")).parquet(extracted_dir)
    # the A7 tally rides the doc MERGE's source pass, which reads all
    # of extracted/ anyway; it is observed before the R5 gate, so error
    # rows count. (The vector MERGE's pass re-aggregates it unread: an
    # Observation keeps its first action's result.)
    tally = Observation("a7_tally")
    tallied = extracted.observe(tally, *pipeline.metric_columns())
    _mark("metrics")

    # ---- stage 2: R5 gate + doc-table MERGE -------------------------
    # error rows stop here (the reference skips DB update + embedding
    # when a step fails — article_processor.py:108-146); they stay in
    # extracted/ for inspection and are NOT marked processed, so a
    # later code fix + lineage reset reprocesses exactly them.
    ok = tallied.where(~F.col("error"))
    articles = ok.select(
        "doc_id", "url_norm", "title", "author", "publication_date",
        "cleaned_date", "content_type", "type_confidence",
        extraction.main_content(F.col("extracted")).alias("main_content"),
        F.lit(True).alias("is_processed"),
    )
    doc_res = merge.merge_write(spark, doc_table, articles,
                                key="doc_id", n_buckets=args.buckets)
    m = tally.get
    _mark("doc_merge")

    # ---- stage 3: embed + vector-table MERGE ------------------------
    # Arrow embed twin (bit-identical to hash_embed, see
    # embeddings.embed_select_arrow): the Catalyst fold's
    # O(tokens x dim) interpreted ops dominated this stage
    vectors = emb_fn.embed_select_arrow(
        articles.where(F.col("main_content") != ""),
        id_col="doc_id", text_col="main_content", dim=args.dim,
    )
    vec_res = merge.merge_write(spark, vec_table, vectors,
                                key="doc_id", n_buckets=args.buckets)
    _mark("embed_vec_merge")

    out = {
        "resume": resume,
        "stage_sec": stage_sec,
        "metrics": m,
        "doc_table": {"snapshot": doc_res["snapshot"],
                      "rows_written": doc_res["rows_written"]},
        "vec_table": {"snapshot": vec_res["snapshot"],
                      "rows_written": vec_res["rows_written"]},
    }

    # ---- stage 4 (optional): incremental clustering -----------------
    if args.cluster:
        from tackle4losscontentextraction_spark.plans import cluster_pipeline

        vecs = merge.read_table(spark, vec_table).select(
            F.xxhash64("doc_id").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        # the stage clusters only the vectors without a membership
        # (S4) — prior pendings get re-tried against the clusters later
        # runs created — and recounts, unassigns and repairs against the
        # complete membership table: the prior one plus this run's
        state_dir = f"{wd}/cluster_state"
        cur_ver, prior, prior_members = cluster_pipeline.read_state(spark, state_dir)
        cres = cluster_pipeline.run_clustering(spark, vecs, prior, prior_members)
        out["clustering"] = {
            **cluster_pipeline.commit_state(
                spark, state_dir, cur_ver + 1, cres["clusters"], cres["memberships"]),
            "unassigned": cres["unassigned"].get["rows"],
        }

    print(json.dumps(out, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
