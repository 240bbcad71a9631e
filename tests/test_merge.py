"""MERGE/upsert operator tests (S12-S14, B3 — db_access.py:291-317,
update_article.py:15-41) including the storage-level copy-on-write
merge's bucket pruning and idempotency."""

from __future__ import annotations

import os

import glob
import json

from planutil import spark_jobs, stage_tasks
from pyspark.sql import functions as F

from tackle4losscontentextraction_spark.operators import merge as merge_ops


def _target(spark):
    return spark.createDataFrame(
        [(1, "one", "en"), (2, "two", "en"), (3, "three", "de")],
        "doc_id bigint, text string, lang string",
    )


def test_upsert_replaces_and_inserts(spark):
    src = spark.createDataFrame(
        [(2, "TWO", "fr"), (9, "nine", "en")],
        "doc_id bigint, text string, lang string",
    )
    out = {r.doc_id: r for r in merge_ops.upsert(_target(spark), src).collect()}
    assert set(out) == {1, 2, 3, 9}
    assert out[2].text == "TWO" and out[2].lang == "fr"  # replaced
    assert out[9].text == "nine"                          # inserted
    assert out[1].text == "one"                           # untouched


def test_update_columns_partial_and_unmatched(spark):
    upd = spark.createDataFrame(
        [(3, "fr"), (42, "xx")], "doc_id bigint, lang string"
    )
    out = {r.doc_id: r for r in merge_ops.update_columns(_target(spark), upd).collect()}
    assert set(out) == {1, 2, 3}          # unmatched update row ignored
    assert out[3].lang == "fr"            # updated column
    assert out[3].text == "three"         # untouched column preserved
    assert out[1].lang == "en"


def test_merge_write_bucket_pruning_and_resume(spark, tmp_path):
    table = str(tmp_path / "docs_table")
    base = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    # seed the table (every bucket written once) -> snapshot 0
    n = merge_ops.merge_write(spark, table, base, n_buckets=8)
    assert n["rows_written"] == 200 and len(n["touched_buckets"]) == 8
    assert n["snapshot"] == 0

    # record snapshot-0 file sets, then merge a single-bucket source
    def files(snap, b):
        # data dirs are writer-unique (snap-<N>-<token>); resolve by id
        import glob as _glob

        dirs = _glob.glob(os.path.join(table, "data", f"snap-{snap}-*", f"bucket={b}"))
        return sorted(
            f for d in dirs for f in os.listdir(d) if f.endswith(".parquet")
        )

    before = {b: files(0, b) for b in range(8)}
    one = spark.createDataFrame(
        [(7, "UPDATED"), (100007, "BRAND NEW")], "doc_id bigint, text string"
    )
    res = merge_ops.merge_write(spark, table, one, n_buckets=8)
    touched = set(res["touched_buckets"])
    assert 1 <= len(touched) <= 2 and res["snapshot"] == 1
    # COW: snapshot-0 data files are immutable, snapshot 1 wrote ONLY
    # the touched buckets
    for b in range(8):
        assert files(0, b) == before[b], "prior snapshot files are immutable"
        assert bool(files(1, b)) == (b in touched)

    final = merge_ops.read_table(spark, table)
    assert final.count() == 201
    got = {r.doc_id: r.text for r in final.where(F.col("doc_id").isin(7, 100007)).collect()}
    assert got == {7: "UPDATED", 100007: "BRAND NEW"}
    # the bucket partition column survives the manifest-grouped read
    assert "bucket" in final.columns

    # idempotency: re-applying the same merge changes nothing
    res2 = merge_ops.merge_write(spark, table, one, n_buckets=8)
    assert res2["touched_buckets"] == res["touched_buckets"]
    assert merge_ops.read_table(spark, table).count() == 201


def test_merge_write_update_mode(spark, tmp_path):
    table = str(tmp_path / "upd_table")
    base = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"), F.lit("t").alias("text")
    )
    merge_ops.merge_write(spark, table, base, n_buckets=4)
    upd = spark.createDataFrame([(10, "de")], "doc_id bigint, lang string")
    merge_ops.merge_write(spark, table, upd, n_buckets=4, mode="update")
    rows = {r.doc_id: r for r in merge_ops.read_table(spark, table).collect()}
    assert len(rows) == 50
    assert rows[10].lang == "de" and rows[10].text == "t"
    assert rows[11].lang == "en"


def test_merge_write_kill_before_publish_is_invisible(spark, tmp_path, monkeypatch):
    """A crash AFTER the multi-bucket data write but BEFORE the
    manifest publish must leave the previous snapshot fully readable —
    no mixed-snapshot state — and the next merge must recover."""
    table = str(tmp_path / "atomic_table")
    base = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v0-"), F.col("id")).alias("text"),
    )
    merge_ops.merge_write(spark, table, base, n_buckets=8)

    # a source touching EVERY bucket — the worst case for a
    # per-partition-atomic scheme (old dynamic-overwrite commit was
    # atomic per bucket, not across them)
    upd = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v1-"), F.col("id")).alias("text"),
    )

    real_write_text = merge_ops.fsutil.write_text

    def die_at_publish(spark_, path, text):
        raise RuntimeError("simulated kill before manifest publish")

    monkeypatch.setattr(merge_ops.fsutil, "write_text", die_at_publish)
    try:
        merge_ops.merge_write(spark, table, upd, n_buckets=8)
        raise AssertionError("expected the simulated kill")
    except RuntimeError as e:
        assert "simulated kill" in str(e)
    monkeypatch.setattr(merge_ops.fsutil, "write_text", real_write_text)

    # the orphan snap-1 staging dir exists on disk but readers never see it
    import glob as _glob

    assert _glob.glob(os.path.join(table, "data", "snap-1-*"))
    assert merge_ops.current_snapshot_id(spark, table) == 0
    rows = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert len(rows) == 200
    assert all(v.startswith("v0-") for v in rows.values()), "no mixed snapshot"

    # recovery: the retry reclaims the orphan id and commits cleanly
    res = merge_ops.merge_write(spark, table, upd, n_buckets=8)
    assert res["snapshot"] == 1
    rows = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert all(v.startswith("v1-") for v in rows.values())


def test_merge_write_time_travel_and_expire(spark, tmp_path):
    table = str(tmp_path / "tt_table")
    v0 = spark.range(0, 60).select(
        F.col("id").alias("doc_id"), F.lit("v0").alias("text"))
    merge_ops.merge_write(spark, table, v0, n_buckets=4)
    upd = spark.createDataFrame([(5, "v1")], "doc_id bigint, text string")
    merge_ops.merge_write(spark, table, upd, n_buckets=4)
    upd2 = spark.createDataFrame([(6, "v2")], "doc_id bigint, text string")
    merge_ops.merge_write(spark, table, upd2, n_buckets=4)

    assert merge_ops.snapshots(spark, table) == [0, 1, 2]
    # time travel: snapshot 1 sees v1 but not v2; snapshot 0 is pristine
    t1 = {r.doc_id: r.text for r in merge_ops.read_table(spark, table, snapshot=1).collect()}
    assert t1[5] == "v1" and t1[6] == "v0"
    t0 = {r.doc_id: r.text for r in merge_ops.read_table(spark, table, snapshot=0).collect()}
    assert t0[5] == "v0" and len(t0) == 60

    # expire: keep the last 2 -> snapshot 0's manifest goes away, but
    # its DATA stays (still serves untouched buckets of snaps 1/2)
    out = merge_ops.expire_snapshots(spark, table, keep_last=2)
    assert out["dropped"] == [0] and out["kept"] == [1, 2]
    cur = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert len(cur) == 60 and cur[5] == "v1" and cur[6] == "v2"
    try:
        merge_ops.read_table(spark, table, snapshot=0)
        raise AssertionError("expired snapshot must not be readable")
    except FileNotFoundError:
        pass


# ---------------------------------------------------------------------------
# property-based merge semantics (hypothesis): the dataflow halves must
# satisfy the algebra a storage MERGE relies on
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_rows_st = st.dictionaries(
    keys=st.integers(min_value=0, max_value=30),
    values=st.text(alphabet="abcxyz", min_size=0, max_size=5),
    min_size=0, max_size=12,
)


def _df(spark, d):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(d.items())] or [(None, None)],
        "doc_id bigint, text string",
    ).where(F.col("doc_id").isNotNull())


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(target=_rows_st, source=_rows_st)
def test_upsert_equals_dict_update(spark, target, source):
    """upsert == Python dict.update: source wins on conflicts, union of
    keys, no duplicates, and applying the same batch twice is a no-op."""
    out = merge_ops.upsert(_df(spark, target), _df(spark, source))
    got = {r.doc_id: r.text for r in out.collect()}
    assert out.count() == len(got), "keys must stay unique"
    expected = dict(target)
    expected.update(source)
    assert got == expected
    # idempotence
    again = {r.doc_id: r.text for r in merge_ops.upsert(out, _df(spark, source)).collect()}
    assert again == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(target=_rows_st, updates=_rows_st)
def test_update_columns_never_changes_keyset(spark, target, updates):
    out = merge_ops.update_columns(_df(spark, target), _df(spark, updates))
    got = {r.doc_id: r.text for r in out.collect()}
    assert set(got) == set(target), "partial update must not add/drop rows"
    for k, v in target.items():
        exp = updates[k] if k in updates and updates[k] != "" else v
        # empty-string updates exercise the non-NULL overwrite path
        if k in updates and updates[k] == "":
            exp = ""  # matched row takes the update value
        assert got[k] == exp, k


def test_compact_collapses_serving_snapshots(spark, tmp_path):
    """compact (Iceberg rewrite_data_files) rewrites every live bucket
    into one snapshot: content identical, one serving data dir, prior
    snapshots still readable until expired."""
    table = str(tmp_path / "cmp_table")
    v0 = spark.range(0, 80).select(
        F.col("id").alias("doc_id"), F.lit("v0").alias("text"))
    merge_ops.merge_write(spark, table, v0, n_buckets=8)
    for i, (k, v) in enumerate([(3, "a"), (11, "b"), (27, "c")]):
        merge_ops.merge_write(
            spark,
            table,
            spark.createDataFrame([(k, v)], "doc_id bigint, text string"),
            n_buckets=8,
        )
    man_before = merge_ops._read_manifest(
        spark, table, merge_ops.current_snapshot_id(spark, table))
    assert len(set(man_before["buckets"].values())) > 1

    before = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    res = merge_ops.compact(spark, table)
    assert res["rows_written"] == 80
    man = merge_ops._read_manifest(
        spark, table, merge_ops.current_snapshot_id(spark, table))
    # every live bucket now served by the single compaction staging dir
    served = set(man["buckets"].values())
    assert len(served) == 1
    assert next(iter(served)).startswith(f"snap-{res['snapshot']}-")
    after = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert after == before
    # pre-compaction snapshot still time-travels
    t0 = {r.doc_id: r.text for r in merge_ops.read_table(spark, table, snapshot=0).collect()}
    assert t0[3] == "v0"
    # and expire keeps only the compacted tip readable
    merge_ops.expire_snapshots(spark, table, keep_last=1)
    assert merge_ops.snapshots(spark, table) == [res["snapshot"]]
    assert merge_ops.read_table(spark, table).count() == 80


def test_merge_write_delete_mode(spark, tmp_path):
    """WHEN MATCHED THEN DELETE: keys vanish at the new snapshot, stay
    readable at the old one; a fully-emptied bucket leaves the manifest
    and a fully-emptied table still reads (schema from the manifest)."""
    table = str(tmp_path / "tbl")
    base = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").alias("v"))
    merge_ops.merge_write(spark, table, base, n_buckets=4)

    victims = base.where(F.col("v") < 10).select("doc_id")
    res = merge_ops.merge_write(spark, table, victims, n_buckets=4,
                                mode="delete")
    assert res["snapshot"] == 1
    live = merge_ops.read_table(spark, table)
    assert live.count() == 30
    assert live.where(F.col("v") < 10).count() == 0
    # time travel still sees the deleted rows
    assert merge_ops.read_table(spark, table, snapshot=0).count() == 40

    # deleting everything leaves an empty but readable table
    merge_ops.merge_write(spark, table, base.select("doc_id"),
                          n_buckets=4, mode="delete")
    empty = merge_ops.read_table(spark, table)
    assert empty.count() == 0
    assert {"doc_id", "v"} <= set(empty.columns)

    # deleting keys that are all absent is a no-op snapshot-wise
    ghost = spark.createDataFrame([("nope",)], "doc_id string")
    res3 = merge_ops.merge_write(spark, table, ghost, n_buckets=4,
                                 mode="delete")
    assert res3["rows_written"] == 0


def test_merge_write_concurrent_writers_occ(spark, tmp_path, monkeypatch):
    """Two racing writers on one table (ADVICE r4 #1): the loser raises
    the OCC conflict, the winner's published snapshot is untouched (its
    data dir and manifest survive the loser's cleanup), and the loser's
    retry lands as the next snapshot id."""
    import glob

    table = str(tmp_path / "occ_table")
    base = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("v0").alias("text"))
    merge_ops.merge_write(spark, table, base, n_buckets=4)

    src_a = spark.createDataFrame([(5, "writer-a")], "doc_id bigint, text string")
    src_b = spark.createDataFrame([(5, "writer-b")], "doc_id bigint, text string")

    real_publish = merge_ops.fsutil.publish_file
    state = {"injected": False}

    def racing_publish(spark_, src, dst):
        # writer B commits in the window between writer A's staging
        # write and A's manifest publish — the classic OCC interleave
        if not state["injected"]:
            state["injected"] = True
            monkeypatch.setattr(merge_ops.fsutil, "publish_file", real_publish)
            try:
                merge_ops.merge_write(spark_, table, src_b, n_buckets=4)
            finally:
                monkeypatch.setattr(merge_ops.fsutil, "publish_file", racing_publish)
        return real_publish(spark_, src, dst)

    monkeypatch.setattr(merge_ops.fsutil, "publish_file", racing_publish)
    try:
        merge_ops.merge_write(spark, table, src_a, n_buckets=4)
        raise AssertionError("loser must surface the OCC conflict")
    except RuntimeError as e:
        assert "published concurrently" in str(e)
    monkeypatch.setattr(merge_ops.fsutil, "publish_file", real_publish)

    # winner's snapshot is current and intact — content, manifest, data
    assert merge_ops.current_snapshot_id(spark, table) == 1
    rows = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert rows[5] == "writer-b" and len(rows) == 100
    # the loser cleaned ONLY its own token-suffixed staging: exactly one
    # snap-1-* dir remains, and it is the one the manifest references
    man = merge_ops._read_manifest(spark, table, 1)
    snap1_dirs = {d.split("/")[-1]
                  for d in glob.glob(str(tmp_path / "occ_table/data/snap-1-*"))}
    assert snap1_dirs == set(man["buckets"].values()) - {
        v for v in man["buckets"].values() if v.startswith("snap-0-")}

    # the loser retries against the committed snapshot and wins id 2
    res = merge_ops.merge_write(spark, table, src_a, n_buckets=4)
    assert res["snapshot"] == 2
    rows = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert rows[5] == "writer-a" and len(rows) == 100


def test_publish_file_create_no_overwrite(spark, tmp_path):
    """publish_file is the atomic commit primitive: first publisher
    wins, second gets False (not an overwrite), content is complete."""
    from tackle4losscontentextraction_spark import fsutil

    dst = str(tmp_path / "marker")
    a, b = str(tmp_path / ".tmp-a"), str(tmp_path / ".tmp-b")
    fsutil.write_text(spark, a, "writer-a")
    fsutil.write_text(spark, b, "writer-b")
    assert fsutil.publish_file(spark, a, dst) is True
    assert fsutil.read_text(spark, dst) == "writer-a"
    assert fsutil.publish_file(spark, b, dst) is False
    assert fsutil.read_text(spark, dst) == "writer-a"


def test_remove_orphans_reclaims_unpublished_staging(spark, tmp_path, monkeypatch):
    """A killed writer's staging dir is reclaimed by remove_orphans
    while every manifest-referenced data dir survives (Iceberg's
    remove_orphan_files semantics); the age floor protects in-flight
    staging."""
    import glob

    table = str(tmp_path / "orph_table")
    base = spark.range(0, 60).select(
        F.col("id").alias("doc_id"), F.lit("v0").alias("text"))
    merge_ops.merge_write(spark, table, base, n_buckets=4)

    # kill a writer between data write and manifest publish
    real_write_text = merge_ops.fsutil.write_text

    def killed(spark_, path, text):
        raise RuntimeError("simulated kill")

    monkeypatch.setattr(merge_ops.fsutil, "write_text", killed)
    try:
        merge_ops.merge_write(
            spark, table,
            spark.createDataFrame([(1, "x")], "doc_id bigint, text string"),
            n_buckets=4)
    except RuntimeError:
        pass
    monkeypatch.setattr(merge_ops.fsutil, "write_text", real_write_text)
    assert glob.glob(str(tmp_path / "orph_table/data/snap-1-*"))

    # default age floor protects the fresh (possibly in-flight) staging
    assert merge_ops.remove_orphans(spark, table)["removed"] == []
    res = merge_ops.remove_orphans(spark, table, min_age_sec=0)
    assert len(res["removed"]) == 1 and res["removed"][0].startswith("snap-1-")
    assert not glob.glob(str(tmp_path / "orph_table/data/snap-1-*"))
    assert merge_ops.read_table(spark, table).count() == 60


def test_expire_refuses_keep_last_zero(spark, tmp_path):
    """keep_last<1 would delete every manifest and data dir — the
    library refuses (ADVICE r4 #5) and the table stays readable."""
    import pytest

    table = str(tmp_path / "exp_table")
    base = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    merge_ops.merge_write(spark, table, base, n_buckets=2)
    with pytest.raises(ValueError, match="keep_last"):
        merge_ops.expire_snapshots(spark, table, keep_last=0)
    with pytest.raises(ValueError, match="keep_last"):
        merge_ops.expire_snapshots(spark, table, keep_last=-3)
    assert merge_ops.read_table(spark, table).count() == 10


def test_merge_write_evaluates_its_source_once(spark, tmp_path):
    """An upsert into existing buckets reads its source three ways: the
    touched buckets, the anti-join keys and the union side. All three
    read one materialized copy, so a Python source (the pipeline's
    embedding) runs once per MERGE, not once per reader."""
    table = str(tmp_path / "t")
    base = spark.range(0, 40).select(
        F.col("id").alias("doc_id"), F.lit("old").alias("text"))
    merge_ops.merge_write(spark, table, base, key="doc_id", n_buckets=4)

    seen = spark.sparkContext.accumulator(0)

    def counting(batches):
        for b in batches:
            seen.add(b.num_rows)
            yield b

    src = spark.range(30, 50).select(
        F.col("id").alias("doc_id"), F.lit("new").alias("text")
    ).mapInArrow(counting, "doc_id bigint, text string")
    res = merge_ops.merge_write(spark, table, src, key="doc_id", n_buckets=4)
    assert seen.value == 20
    assert res["touched_buckets"] and res["rows_written"] >= 20
    out = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert out == {i: ("new" if i >= 30 else "old") for i in range(50)}


def _bucket_files(table, snap, b):
    return glob.glob(os.path.join(table, "data", f"snap-{snap}-*", f"bucket={b}", "part-*.parquet"))


def test_merge_write_one_file_per_bucket_in_slot_sized_write(spark, tmp_path):
    """Each MERGE writes exactly one file per touched bucket, in a
    write stage of at most min(touched, defaultParallelism) tasks: a
    task per bucket pays a task set-up per bucket, and hash partitions
    left empty launch write tasks that write nothing."""
    table = str(tmp_path / "t")
    slots = spark.sparkContext.defaultParallelism
    src = spark.range(0, 400, 1, 3).select(
        F.col("id").alias("doc_id"), F.lit("v").alias("text"))
    one = spark.range(0, 2, 1, 1).select(
        F.col("id").alias("doc_id"), F.lit("w").alias("text"))
    # insert into an empty table, upsert into every bucket, upsert into a few
    for snap, source in enumerate((src, src, one)):
        res, jobs = spark_jobs(
            spark, lambda s=source: merge_ops.merge_write(spark, table, s, n_buckets=16))
        touched = res["touched_buckets"]
        assert res["snapshot"] == snap and touched
        assert stage_tasks(spark, jobs[-1])[-1] <= min(len(touched), slots), snap
        for b in touched:
            assert len(_bucket_files(table, snap, b)) == 1, (snap, b)
    assert merge_ops.read_table(spark, table).count() == 400


def test_merge_reads_with_manifest_schema_start_no_job(spark, tmp_path):
    """read_table over a manifest with schema_json plans its read from
    that schema: no schema-inference job. The schema equals the
    inferred one field for field, nullability included, so the next
    manifest's schema_json does not change."""
    table = str(tmp_path / "t")
    base = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.lit(True).alias("flag"),  # written NOT NULL
        F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("st"),
        F.array(F.col("id").cast("double")).alias("arr"),
    )
    merge_ops.merge_write(spark, table, base, n_buckets=4)
    merge_ops.merge_write(spark, table, base.where("doc_id < 5"), n_buckets=4)

    df, jobs = spark_jobs(spark, lambda: merge_ops.read_table(spark, table))
    assert jobs == []
    # the inferred schema: what a read without the manifest's sees
    d0 = glob.glob(os.path.join(table, "data", "snap-0-*"))[0]
    inferred = spark.read.option("basePath", d0).parquet(d0).schema
    assert df.schema == inferred
    assert [f.nullable for f in df.schema.fields] == [True] * 5
    assert df.count() == 60

    merge_ops.merge_write(spark, table, base.where("doc_id < 9"), n_buckets=4)

    def schema_json(snap):
        with open(os.path.join(table, "metadata", f"snap-{snap}.json")) as f:
            return json.load(f)["schema_json"]

    assert schema_json(2) == schema_json(1)


def test_merge_reads_manifest_without_schema_by_inference(spark, tmp_path):
    """A manifest written before delete mode added schema_json is still
    readable: its buckets are read with schema inference."""
    table = str(tmp_path / "t")
    base = spark.range(0, 20).select(F.col("id").alias("doc_id"), F.lit("a").alias("text"))
    merge_ops.merge_write(spark, table, base, n_buckets=4)
    path = os.path.join(table, "metadata", "snap-0.json")
    with open(path) as f:
        man = json.load(f)
    del man["schema_json"]
    with open(path, "w") as f:
        json.dump(man, f)
    assert merge_ops.read_table(spark, table).count() == 20
    upd = spark.range(0, 3).select(F.col("id").alias("doc_id"), F.lit("b").alias("text"))
    merge_ops.merge_write(spark, table, upd, n_buckets=4)
    out = {r.doc_id: r.text for r in merge_ops.read_table(spark, table).collect()}
    assert out == {i: ("b" if i < 3 else "a") for i in range(20)}
