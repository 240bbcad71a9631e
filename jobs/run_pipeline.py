"""spark-submit entry point for the FULL article pipeline — the Spark
restatement of the reference's per-article chain
(``src/modules/article_processor.py:21-146``: url fix -> extract ->
clean/classify -> DB update -> embed -> vector insert) as ONE resumable
job, composed from the library stages:

    docs(doc_id, url, lang, spans | html)     [scan; --html DOM-tokenizes]
      -> extraction.extract[_arrow]           [F1,F2,F5,L2,L3,C1: one projection]
      -> write extracted (bucketed, lineage)  [kill/rerun resumes pending buckets]
      -> read extracted/ (all buckets)        [the write's schema: no inference]
      -> two branches, run at once:

         doc branch (worker thread)           vector branch (this thread)
         A7 tally [Observation on the         R5 gate + main_content
           MERGE's source pass: no scan       hash embedding [A1 + L4,
           of its own; error rows count]        L2-normalized, Arrow]
         R5 gate: error rows stop here        MERGE into vector table
           [status-column filter]               [S13: embedding insert]
         main_content                         optional incremental clustering
         MERGE into doc table                   [--cluster: assign/merge/
           [S12/S14: snapshot-atomic            maintain, state under
           upsert, is_processed=true — the      --workdir; clusters and
           reference's update_article_in_db]    memberships written at once]
                                              wait for the doc branch
      -> publish the cluster-state marker     [--cluster]
      -> metrics JSON on stdout               [the A7 tally]

The job commits through four publishes. The lineage manifest is first;
the doc-table and vector-table manifests follow, in either order; the
cluster-state marker is last. The doc branch feeds nothing downstream,
so it runs beside embedding, the vector MERGE and clustering, started
with ``session.concurrently`` (its Spark jobs keep the caller's job
group); the vector branch waits for it once the cluster-state tables
are written and before their marker publishes. An error in either
branch fails the job with no marker published, and every thread the
job started has ended when it returns. ``stage_sec`` holds each
stage's wall time as the branch running it measured it; the doc_merge
entry overlaps embed_vec_merge, so the entries need not sum to the
job's time.

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

    from tackle4losscontentextraction_spark import session

    spark = session.job_session("t4l-pipeline")
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

    # per-stage wall times, each measured by the branch that runs the
    # stage: the two branches overlap, so the entries need not sum to
    # the job's time
    import contextlib
    import time as _time
    stage_sec: dict[str, float] = {}

    @contextlib.contextmanager
    def timed(name: str):
        t0 = _time.perf_counter()
        yield
        stage_sec[name] = round(_time.perf_counter() - t0, 3)

    # ---- stage 1: extract (resumable) -------------------------------
    with timed("extract_write"):
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

    with timed("metrics"):
        # every bucket of extracted/, done now or by an earlier run,
        # read with the schema its lineage holds (no schema-inference
        # job)
        extracted = spark.read.schema(resume.pop("schema")).parquet(extracted_dir)
        # the A7 tally rides the doc MERGE's source pass, which reads
        # all of extracted/ anyway; it is observed before the R5 gate,
        # so error rows count. Only the doc branch carries it: the
        # vector branch reads extracted/ unobserved, so no two
        # concurrent actions fill one Observation.
        tally = Observation("a7_tally")
        tallied = extracted.observe(tally, *pipeline.metric_columns())

    # ---- R5 gate ----------------------------------------------------
    # error rows stop here (the reference skips DB update + embedding
    # when a step fails — article_processor.py:108-146); they stay in
    # extracted/ for inspection and are NOT marked processed, so a
    # later code fix + lineage reset reprocesses exactly them.
    def articles(rows):
        return rows.where(~F.col("error")).select(
            "doc_id", "url_norm", "title", "author", "publication_date",
            "cleaned_date", "content_type", "type_confidence",
            extraction.main_content(F.col("extracted")).alias("main_content"),
            F.lit(True).alias("is_processed"),
        )

    # ---- doc branch (worker thread): doc-table MERGE ----------------
    def doc_merge() -> dict:
        with timed("doc_merge"):
            return merge.merge_write(spark, doc_table, articles(tallied),
                                     key="doc_id", n_buckets=args.buckets)

    clustered = None
    with session.concurrently(spark, doc_merge) as doc_done:
        # ---- vector branch (this thread): embed + vector MERGE ------
        with timed("embed_vec_merge"):
            # Arrow embed twin (bit-identical to hash_embed, see
            # embeddings.embed_select_arrow): the Catalyst fold's
            # O(tokens x dim) interpreted ops dominated this stage
            vectors = emb_fn.embed_select_arrow(
                articles(extracted).where(F.col("main_content") != ""),
                id_col="doc_id", text_col="main_content", dim=args.dim,
            )
            vec_res = merge.merge_write(spark, vec_table, vectors,
                                        key="doc_id", n_buckets=args.buckets)

        # ---- optional: incremental clustering -----------------------
        if args.cluster:
            from tackle4losscontentextraction_spark.plans import cluster_pipeline

            vecs = merge.read_table(spark, vec_table).select(
                F.xxhash64("doc_id").alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            # the stage clusters only the vectors without a membership
            # (S4) — prior pendings get re-tried against the clusters
            # later runs created — and recounts, unassigns and repairs
            # against the complete membership table: the prior one
            # plus this run's
            state_dir = f"{wd}/cluster_state"
            cur_ver, prior, prior_members = cluster_pipeline.read_state(spark, state_dir)
            cres = cluster_pipeline.run_clustering(spark, vecs, prior, prior_members)
            # the marker publishes after the doc branch has: were it
            # first, a kill in that branch would leave a committed
            # state the re-submission clusters over again
            clustered = {
                **cluster_pipeline.commit_state(
                    spark, state_dir, cur_ver + 1, cres["clusters"], cres["memberships"],
                    before_publish=doc_done),
                "unassigned": cres["unassigned"].get["rows"],
            }
        (doc_res,) = doc_done()

    out = {
        "resume": resume,
        "stage_sec": stage_sec,
        "metrics": tally.get,
        "doc_table": {"snapshot": doc_res["snapshot"],
                      "rows_written": doc_res["rows_written"]},
        "vec_table": {"snapshot": vec_res["snapshot"],
                      "rows_written": vec_res["rows_written"]},
    }
    if clustered is not None:
        out["clustering"] = clustered

    print(json.dumps(out, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
