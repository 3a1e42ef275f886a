"""Round-6 curation hardening: the dedup artifact records the curation's
split parameters (fractions / leakage_free) and increments inherit or
validate them; the artifact's two tables commit in crash-safe order
(buckets first, fingerprints last = the commit marker)."""

import json

import pytest
from pyspark.sql import functions as F

from planet_dump_ng_spark.llm_pipeline import (
    _dedup_artifact_dir,
    curate,
    curate_increment,
)
from planet_dump_ng_spark.plans.registry import table


def _base_batch(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 4 != 0),
        docs.filter(F.col("doc_id") % 4 == 0),
    )


def test_meta_records_fractions_and_increment_inherits(spark, sf_dir, tmp_path):
    """Custom fractions recorded at curate() time govern increments that
    pass none — the content-stable gate needs matching boundaries."""
    from planet_dump_ng_spark.operators.sampling import xxhash_split

    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "frac_ds")
    fr = {"train": 0.9, "test": 0.1}
    curate(base, out, fractions=fr)

    meta = json.load(open(f"{_dedup_artifact_dir(out)}/meta.json"))
    assert meta["fractions"] == fr
    assert meta["leakage_free"] is False

    before_ids = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    curate_increment(batch, out)  # fractions=None -> inherit 0.9/0.1
    after = spark.read.parquet(out)
    appended = after.filter(~F.col("doc_id").isin(list(before_ids)))
    expect = {
        r.doc_id: r.split
        for r in xxhash_split(appended.select("doc_id"), "doc_id", fr).collect()
    }
    got = {r.doc_id: r.split for r in appended.select("doc_id", "split").collect()}
    assert got == expect
    assert set(got.values()) <= {"train", "test"}


def test_increment_fraction_mismatch_raises(spark, sf_dir, tmp_path):
    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "fracfail_ds")
    curate(base, out, fractions={"train": 0.9, "test": 0.1})
    with pytest.raises(ValueError, match="fractions"):
        curate_increment(batch, out, fractions={"train": 0.8, "val": 0.2})


def test_increment_leakage_policy_inherited_and_validated(
    spark, sf_dir, tmp_path
):
    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "leak_ds")
    curate(base, out, leakage_free=True, split_jaccard=0.3)
    meta = json.load(open(f"{_dedup_artifact_dir(out)}/meta.json"))
    assert meta["leakage_free"] is True

    # contradicting the recorded policy refuses loudly
    with pytest.raises(ValueError, match="leakage_free"):
        curate_increment(batch, out, leakage_free=False)

    # omitted flag inherits True: the split-guard stage runs
    _, report = curate_increment(batch, out)
    assert "split_guard" in dict(report.stages)


def test_fingerprint_count_is_the_commit_marker(spark, sf_dir, tmp_path):
    """Simulate a crash BETWEEN the artifact's two appends under the
    round-6 write order (buckets first, fingerprints last): the
    fingerprint count comes up short, the next increment's repair
    rebuilds, and the probe artifact ends consistent with the dataset.
    Under the old order (fingerprints first) this exact state passed the
    check with the buckets table silently missing rows."""
    from planet_dump_ng_spark.llm_pipeline import _DEDUP_LSH
    from planet_dump_ng_spark.streaming.jobs import corpus_lsh_buckets

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    mid = docs.filter(F.col("doc_id") % 3 == 1)
    batch = docs.filter(F.col("doc_id") % 3 == 2)
    out = str(tmp_path / "crash_ds")
    curate(base, out)
    art = _dedup_artifact_dir(out)

    # crash-state: 'mid' docs landed in the dataset AND the buckets
    # table, but the process died before the fingerprints append
    from planet_dump_ng_spark.operators.sampling import xxhash_split

    mid_assigned = xxhash_split(
        mid, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    import os

    # a real crashed increment deletes the known-clean marker BEFORE the
    # dataset append — replay that exact window
    os.remove(f"{art}/_synced")
    mid_assigned.write.mode("append").partitionBy("split").parquet(out)
    corpus_lsh_buckets(
        mid.select("doc_id", "text"), **_DEDUP_LSH
    ).write.mode("append").parquet(f"{art}/buckets")

    n_ds = spark.read.parquet(out).count()
    assert spark.read.parquet(f"{art}/fingerprints").count() < n_ds  # stale

    curate_increment(batch, out)
    n_after = spark.read.parquet(out).count()
    fp = spark.read.parquet(f"{art}/fingerprints")
    bk = spark.read.parquet(f"{art}/buckets")
    assert fp.count() == n_after
    assert fp.select("doc_id").distinct().count() == n_after
    assert bk.select("id").distinct().count() == n_after


def test_increment_manifest_not_left_cached(spark, sf_dir, tmp_path):
    """The returned manifest must not pin a cached DataFrame for the
    session's lifetime (one leak per increment in a long-lived ingest)."""
    from pyspark import StorageLevel

    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "cache_ds")
    curate(base, out)
    manifest, _ = curate_increment(batch, out)
    # the returned manifest is a literal (collected) DataFrame, not a
    # session-lifetime persist() of a lazy plan
    assert manifest.storageLevel == StorageLevel.NONE
    # and it is still a usable, collectable manifest with no lineage
    # back to the (now grown) dataset path
    assert {r.split for r in manifest.collect()} <= {"train", "val", "test"}
    assert sum(r.n_rows for r in manifest.collect()) == manifest.agg(
        F.sum("n_rows")
    ).first()[0]


def test_dedup_compact_preserves_probe_results(spark, sf_dir, tmp_path):
    """After several increments the artifact is many small files;
    compaction must shrink the file count without changing a single
    probe row (fingerprints and buckets compare equal as sets), and a
    subsequent increment must behave identically."""
    from planet_dump_ng_spark import llm_pipeline
    from planet_dump_ng_spark.llm_pipeline import dedup_compact

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "compact_ds")
    curate(docs.filter(F.col("doc_id") % 5 == 0), out)
    for m in (1, 2, 3):
        curate_increment(docs.filter(F.col("doc_id") % 5 == m), out)
    art = _dedup_artifact_dir(out)

    fp_before = {
        (r.doc_id, bytes(r.fp) if isinstance(r.fp, (bytes, bytearray)) else r.fp)
        for r in spark.read.parquet(f"{art}/fingerprints").collect()
    }
    bk_before = {
        (r.id, r.band, r.bh)
        for r in spark.read.parquet(f"{art}/buckets").collect()
    }

    stats = dedup_compact(spark, out)
    assert stats["files_after"] < stats["files_before"]

    fp_after = {
        (r.doc_id, bytes(r.fp) if isinstance(r.fp, (bytes, bytearray)) else r.fp)
        for r in spark.read.parquet(f"{art}/fingerprints").collect()
    }
    bk_after = {
        (r.id, r.band, r.bh)
        for r in spark.read.parquet(f"{art}/buckets").collect()
    }
    assert fp_after == fp_before
    assert bk_after == bk_before
    # meta survives the swap and a post-compact increment still works
    meta = json.load(open(f"{art}/meta.json"))
    assert meta["format"] == "dedup-artifact-v1"
    manifest, _ = curate_increment(docs.filter(F.col("doc_id") % 5 == 4), out)
    n_ds = spark.read.parquet(out).count()
    assert spark.read.parquet(f"{art}/fingerprints").count() == n_ds

    # CLI maintenance mode
    rc = llm_pipeline.main(["--output", out, "--compact-dedup"])
    assert rc == 0
    assert spark.read.parquet(f"{art}/fingerprints").count() == n_ds


def test_half_written_artifact_recovers(spark, sf_dir, tmp_path):
    """A crash AFTER the buckets write but BEFORE the fingerprints write
    (the window the meta/buckets/fingerprints order creates) must be a
    repairable stale state, not a brick: the next increment detects the
    absent fingerprints table and rebuilds, never raising
    PATH_NOT_FOUND on the read that was supposed to detect it.  The
    rebuild must carry the WHOLE curation record over, every policy of
    it, not just the fractions."""
    import shutil

    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "half_ds")
    # max_bucket is wider than the 500-doc corpus: recorded, but it caps
    # no bucket, so every doc keeps its bucket rows
    curate(
        base, out, fractions={"train": 0.9, "test": 0.1}, leakage_free=True,
        lsh_mode="pairs", max_bucket=512, jaccard_threshold=0.75,
        split_jaccard=0.4,
    )
    art = _dedup_artifact_dir(out)
    meta = json.load(open(f"{art}/meta.json"))
    assert {
        k: meta[k] for k in (
            "fractions", "leakage_free", "near_dedup", "lsh_mode",
            "max_bucket", "jaccard_threshold", "split_jaccard",
        )
    } == {
        "fractions": {"train": 0.9, "test": 0.1}, "leakage_free": True,
        "near_dedup": "lsh", "lsh_mode": "pairs", "max_bucket": 512,
        "jaccard_threshold": 0.75, "split_jaccard": 0.4,
    }
    shutil.rmtree(f"{art}/fingerprints")  # the simulated crash state

    curate_increment(batch, out)  # must repair, not raise
    n = spark.read.parquet(out).count()
    assert spark.read.parquet(f"{art}/fingerprints").count() == n
    assert (
        spark.read.parquet(f"{art}/buckets").select("id").distinct().count()
        == n
    )
    # the rebuild preserved the recorded curation parameters
    assert json.load(open(f"{art}/meta.json")) == meta


def test_temporary_only_fingerprints_recovers(spark, sf_dir, tmp_path):
    """A kill mid-fingerprints-JOB leaves the directory holding only the
    committer's _temporary/ debris — it exists but has no readable
    parquet.  The repair must treat it like an absent table and rebuild,
    not crash on every retry."""
    import os
    import shutil

    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "tmpdir_ds")
    curate(base, out)
    art = _dedup_artifact_dir(out)
    shutil.rmtree(f"{art}/fingerprints")
    os.makedirs(f"{art}/fingerprints/_temporary/0")
    # the marker is written strictly after fingerprints land, so a kill
    # mid-fingerprints-job means it never existed for this write
    os.remove(f"{art}/_synced")

    curate_increment(batch, out)  # must repair, not raise
    n = spark.read.parquet(out).count()
    assert spark.read.parquet(f"{art}/fingerprints").count() == n


def test_meta_written_before_tables(spark, sf_dir, tmp_path):
    """meta.json lands BEFORE either table so the fractions record sits
    inside the fingerprint commit marker: any artifact whose
    fingerprints read back complete also has its header — a crash can
    never yield a complete-looking artifact that silently inherits
    default fractions."""
    from planet_dump_ng_spark.llm_pipeline import _write_dedup_artifact
    import os

    base, _ = _base_batch(spark, sf_dir)
    out = str(tmp_path / "order_ds")
    # drive the writer directly and fail the bucket job: header must
    # already be on disk even though no table ever landed
    bad = base.withColumn(
        "text", F.raise_error(F.lit("simulated mid-write crash"))
    )
    with pytest.raises(Exception, match="simulated mid-write crash"):
        _write_dedup_artifact(
            bad, out, extra_meta={"fractions": {"train": 1.0}}
        )
    art = _dedup_artifact_dir(out)
    assert json.load(open(f"{art}/meta.json"))["fractions"] == {"train": 1.0}
    assert not os.path.exists(f"{art}/fingerprints")


def test_dedup_compact_heals_prior_crash_windows(spark, sf_dir, tmp_path):
    """Both crash windows of a prior compact self-heal on the next call:
    (a) died between the two renames -> .old holds the live table and
    src is gone; (b) died before cleanup -> populated .old beside the
    live table (an unhealed (b) would wedge every later compact with
    ENOTEMPTY)."""
    import os
    import shutil

    from planet_dump_ng_spark.llm_pipeline import dedup_compact

    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "heal_ds")
    curate(base, out)
    curate_increment(batch, out)
    art = _dedup_artifact_dir(out)
    fp_want = {
        (r.doc_id, r.fp)
        for r in spark.read.parquet(f"{art}/fingerprints").collect()
    }

    # window (a): mid-swap on fingerprints
    os.rename(f"{art}/fingerprints", f"{art}/fingerprints.old")
    stats = dedup_compact(spark, out)
    assert stats["files_after"] <= stats["files_before"]
    fp_got = {
        (r.doc_id, r.fp)
        for r in spark.read.parquet(f"{art}/fingerprints").collect()
    }
    assert fp_got == fp_want
    assert not os.path.exists(f"{art}/fingerprints.old")

    # window (b): swap done, cleanup missed, plus a stale .compact dir
    shutil.copytree(f"{art}/buckets", f"{art}/buckets.old")
    shutil.copytree(f"{art}/buckets", f"{art}/buckets.compact")
    dedup_compact(spark, out)  # pre-fix: ENOTEMPTY on rename
    assert not os.path.exists(f"{art}/buckets.old")
    assert not os.path.exists(f"{art}/buckets.compact")
    # an increment inside window (a) repairs independently
    os.rename(f"{art}/fingerprints", f"{art}/fingerprints.old")
    docs = table(spark, sf_dir, "documents")
    curate_increment(docs.filter(F.col("doc_id") % 7 == 3), out)
    n = spark.read.parquet(out).count()
    assert spark.read.parquet(f"{art}/fingerprints").count() == n


def test_increment_never_fabricates_curation_record(spark, sf_dir, tmp_path):
    """An increment on a pre-header dataset (no recorded parameters)
    must not enshrine the hardcoded defaults as 'the curation record' —
    a later increment passing the dataset's true custom fractions would
    be rejected against a record nobody wrote."""
    import os

    base, batch = _base_batch(spark, sf_dir)
    out = str(tmp_path / "prehdr_ds")
    curate(base, out, fractions={"train": 0.9, "test": 0.1})
    art = _dedup_artifact_dir(out)
    os.remove(f"{art}/meta.json")  # simulate a pre-header artifact

    docs = table(spark, sf_dir, "documents")
    b1 = batch.filter(F.col("doc_id") % 2 == 0)
    b2 = batch.filter(F.col("doc_id") % 2 == 1)
    curate_increment(b1, out)  # runs on defaults (pre-existing gap)...
    meta = json.load(open(f"{art}/meta.json"))
    assert "fractions" not in meta  # ...but records no invented history
    assert "leakage_free" not in meta
    assert meta["lsh_mode"] == "pairs"  # pre-star datasets ARE pairs
    # the dataset's true fractions are still accepted afterwards
    curate_increment(b2, out, fractions={"train": 0.9, "test": 0.1})


def test_lsh_queries_leave_no_cache_entries(spark, sf_dir):
    """minhash_lsh_candidates and the band-geometry evals share their
    bucket pass via localCheckpoint, NOT persist(): a long-lived session
    (streaming ingest runs candidates once or twice per micro-batch)
    must not accumulate CacheManager entries."""
    import planet_dump_ng_spark.operators.dedup as dd
    from planet_dump_ng_spark.plans.dedup_plans import (
        lsh_band_match_histogram,
        lsh_collision_curve,
    )

    spark.catalog.clearCache()
    docs = table(spark, sf_dir, "documents")
    for mode in ("pairs", "star"):
        dd.minhash_lsh_candidates(docs, mode=mode).count()
    lsh_band_match_histogram(spark, sf_dir).count()
    lsh_collision_curve(spark, sf_dir).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_curate_star_mode_removes_boilerplate_cluster(spark, tmp_path):
    """Star-mode curation must still collapse a boilerplate cluster to
    one survivor (the min id) — the whole point of the O(B) emission is
    keeping THAT guarantee while dropping the B^2 cost."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing outside "
        "in the garden under a bright morning sun with dew on the grass"
    )
    uniq = (
        "a wholly different page about distributed query planning and "
        "shuffle partitioning strategies for columnar execution engines "
        "running analytical workloads over object storage at scale"
    )
    rows = [(i, base + f" tail{i % 2}", "s") for i in range(40)]
    rows += [(100, uniq, "s"), (101, uniq.replace("wholly", "totally"), "s")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = str(tmp_path / "star_ds")
    _, report = curate(
        docs, out, min_tokens=5, lsh_mode="star", write_dedup_artifact=False
    )
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    # the 40-doc near-identical cluster (two exact-dup groups at 0/1
    # tails, mutually near-dup above 0.8) collapses to its minimum id
    assert kept & set(range(40)) == {0}
    assert 100 in kept  # uniq survives; 101 is a near-dup of it
    assert 101 not in kept
    stages = dict(report.stages)
    assert stages["near_dedup"] < stages["exact_dedup"]

    with pytest.raises(ValueError, match="lsh_mode"):
        curate(docs, str(tmp_path / "bad"), lsh_mode="mesh")


def test_increment_inherits_lsh_mode(spark, tmp_path):
    """A dataset curated with star emission records it; increments
    inherit the mode for their within-batch self-dedup (a boilerplate
    batch must not silently reintroduce the B^2 candidate cost)."""
    base_txt = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing outside"
    )
    other = (
        "an unrelated article about columnar storage formats and "
        "predicate pushdown in distributed analytical query engines"
    )
    docs = spark.createDataFrame(
        [(i, f"{base_txt} marker{i}", "s") for i in range(10)]
        + [(50, other, "s")],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "mode_ds")
    curate(docs, out, min_tokens=5, lsh_mode="star")
    meta = json.load(open(f"{_dedup_artifact_dir(out)}/meta.json"))
    assert meta["lsh_mode"] == "star"

    batch = spark.createDataFrame(
        [(100 + i, f"{other} tail{i % 2}", "s") for i in range(8)],
        "doc_id long, text string, source string",
    )
    manifest, report = curate_increment(batch, out, min_tokens=5)
    # within-batch: 2 exact-dup groups (tail0/tail1), mutual near-dups;
    # all are near-dups of corpus doc 50 -> nothing should append
    assert sum(r.n_rows for r in manifest.collect()) == 0
    # the recorded mode survives the append path
    meta2 = json.load(open(f"{_dedup_artifact_dir(out)}/meta.json"))
    assert meta2["lsh_mode"] == "star"


def test_curate_ingest_stream_matches_sequential_increments(
    spark, sf_dir, tmp_path
):
    """The streaming ingest (curate_increment per micro-batch via
    foreachBatch) must converge to exactly the dataset a sequence of
    batch increments over the same files produces — same surviving ids,
    same splits, artifact in lockstep."""
    from planet_dump_ng_spark.streaming import jobs

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    cols = ["doc_id", "source", "lang", "text", "n_chars"]

    # sequential-batch reference
    ref = str(tmp_path / "seq_ds")
    curate(base, ref)
    curate_increment(b1.select(*cols), ref)
    curate_increment(b2.select(*cols), ref)
    want = {
        (r.doc_id, r.split)
        for r in spark.read.parquet(ref).select("doc_id", "split").collect()
    }

    # streaming twin: same base, batches arrive as one file each
    out = str(tmp_path / "stream_ds")
    curate(base, out)
    bus = str(tmp_path / "bus")
    b1.select(*cols).coalesce(1).write.mode("append").parquet(bus)
    b2.select(*cols).coalesce(1).write.mode("append").parquet(bus)
    stream = jobs.read_documents_stream(spark, bus, max_files_per_trigger=1)
    reports = jobs.curate_ingest_stream(
        stream, out, str(tmp_path / "ckpt"), compact_every=1
    )
    got = {
        (r.doc_id, r.split)
        for r in spark.read.parquet(out).select("doc_id", "split").collect()
    }
    assert got == want
    assert len(reports) >= 1  # audit trail came back
    n = spark.read.parquet(out).count()
    art = _dedup_artifact_dir(out)
    assert spark.read.parquet(f"{art}/fingerprints").count() == n

    # redelivery: replaying the same files through a FRESH stream (new
    # checkpoint) appends nothing — the increment's idempotence is the
    # exactly-once mechanism, not sink transactions
    stream2 = jobs.read_documents_stream(spark, bus, max_files_per_trigger=1)
    jobs.curate_ingest_stream(stream2, out, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(out).count() == n
