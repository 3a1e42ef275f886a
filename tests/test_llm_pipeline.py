"""End-to-end curation pipeline: stage attrition, survivor correctness,
and materialized output integrity on the real sf documents table."""

import pytest
from pyspark.sql import functions as F

from planet_dump_ng_spark.llm_pipeline import curate
from planet_dump_ng_spark.operators import dedup as dd
from planet_dump_ng_spark.plans.registry import table


@pytest.mark.parametrize("session", ["spark", "plan_session"])
def test_curate_end_to_end(session, request, sf_dir, tmp_path):
    """Also under ``plan_session`` (AQE on, the production shuffle
    width), so AQE's runtime rewrites of the curation plans are checked
    by results, not only by plan shape."""
    spark = request.getfixturevalue(session)
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    out = str(tmp_path / "curated")

    manifest, report = curate(docs, out, bench=bench)
    stages = dict(report.stages)

    # attrition is monotone and every stage ran
    order = ["raw", "exact_dedup", "near_dedup", "decontaminated", "quality"]
    counts = [stages[s] for s in order]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] == docs.count()
    # exact dedup must have removed the known duplicate mass
    assert stages["exact_dedup"] == dd.dedup_keep_first(docs).count()

    # the materialized dataset holds exactly the quality survivors
    written = spark.read.parquet(out)
    assert written.count() == stages["quality"]
    assert written.select("doc_id").distinct().count() == stages["quality"]
    # manifest agrees with what landed on disk
    m = {r.split: r.n_rows for r in manifest.collect()}
    on_disk = {
        r.split: r.n for r in written.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert m == on_disk

    # no surviving doc contains >=50% of any benchmark item's shingles
    survivors = written.select("doc_id", "text")
    dirty = dd.containment_pairs(survivors, bench, k=3, threshold=0.5).count()
    assert dirty == 0


def test_curate_mix_pack_and_scrub(spark, sf_dir, tmp_path):
    from planet_dump_ng_spark.operators.sampling import weighted_mix

    docs = table(spark, sf_dir, "documents").withColumn(
        # inject PII so the scrub stage has something to mask
        "text",
        F.concat(F.col("text"), F.lit(" mail me at a@b.io or 10.0.0.1")),
    )
    out = str(tmp_path / "curated")
    weights = {f"src{i}": 1.0 if i % 2 == 0 else 0.5 for i in range(20)}

    manifest, report = curate(
        docs,
        out,
        mix_weights=weights,
        pack_capacity=64,
        min_tokens=1,
        max_stopword_ratio=1.0,
    )
    stages = dict(report.stages)
    assert stages["mixed"] <= stages["quality"]
    # the mix stage kept exactly the weighted_mix membership
    expect = weighted_mix(
        docs.select("doc_id", "source"), "doc_id", "source", weights
    ).count()
    # quality/dedup ran first, so mixed <= expect; but every mixed doc
    # must be in the weighted membership
    assert stages["mixed"] <= expect

    written = spark.read.parquet(out)
    # all text was scrubbed: the injected address and IP are masked
    assert written.filter(F.col("text").contains("a@b.io")).count() == 0
    assert written.filter(F.col("text").contains("10.0.0.1")).count() == 0
    assert written.filter(F.col("text").contains("<EMAIL>")).count() == written.count()

    # the pack manifest covers exactly the train split, gapless
    packed = spark.read.parquet(out + "_pack")
    train_n = written.filter(F.col("split") == "train").count()
    assert packed.count() == train_n
    rows = sorted(packed.collect(), key=lambda r: (r.start_off, r.n_tok))
    off = 0
    for r in rows:
        if r.n_tok > 0:
            assert r.start_off == off
            off += r.n_tok


def test_curate_cli_main(spark, sf_dir, tmp_path, capsys):
    """The CLI surface end-to-end: flag parsing (incl. mix weights and
    pack capacity), attrition printout, and on-disk outputs."""
    from planet_dump_ng_spark.llm_pipeline import main

    src = str(tmp_path / "docs_in")
    table(spark, sf_dir, "documents").write.mode("overwrite").parquet(src)
    out = str(tmp_path / "cli_out")
    rc = main(
        [
            "--input", src,
            "--output", out,
            "--min-tokens", "1",
            "--max-stopword-ratio", "1.0",
            "--mix-weights", ",".join(f"src{i}=1.0" for i in range(20)),
            "--pack-capacity", "128",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "raw" in printed and "mixed" in printed and "split=" in printed
    assert spark.read.parquet(out).count() > 0
    assert spark.read.parquet(out + "_pack").count() > 0


def test_curate_semantic_stage(spark, sf_dir, tmp_path):
    """The SemDeDup stage drops exactly the non-kept ids of the operator
    run over the LEXICAL SURVIVORS (replayed stage-by-stage), and docs
    without a vector pass through untouched."""
    from planet_dump_ng_spark.operators.ivf import semantic_dedup

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "curated_sem")

    manifest, report = curate(
        docs,
        out,
        embeddings=emb,
        semantic_threshold=0.35,
        min_tokens=1,
        max_stopword_ratio=1.0,
    )
    stages = dict(report.stages)
    assert "semantic_dedup" in stages
    assert stages["semantic_dedup"] <= stages["near_dedup"]

    # replay the lexical stages to recover the scoped embedding set
    lex = dd.dedup_keep_first(docs)
    cands = dd.minhash_lsh_candidates(lex, num_hashes=64, bands=16, k=3)
    pairs = dd.ngram_jaccard_pairs(lex, k=3, threshold=0.8, candidates=cands)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    lex = lex.join(losers, "doc_id", "left_anti")
    scoped = emb.join(
        lex.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    dropped = {
        r.vec_id
        for r in semantic_dedup(scoped, dim=64, threshold=0.35)
        .filter(~F.col("kept"))
        .collect()
    }
    assert stages["semantic_dedup"] == stages["near_dedup"] - len(dropped)
    written = spark.read.parquet(out)
    surviving = {r.doc_id for r in written.select("doc_id").collect()}
    assert not (surviving & dropped)


def test_curate_semantic_stage_no_orphan_groups(spark, tmp_path):
    """Regression: if the lexical stages removed a group's lowest id,
    the semantic stage must re-elect a survivor from the remainder
    instead of dropping the whole group."""
    import pyspark.sql.functions as SF

    # doc 1 and 2: exact lexical duplicates (stage 1 keeps 1? keep-first
    # keeps the lowest doc_id -> 1 survives, 2 drops).  Doc 1 and 2 and
    # 3's EMBEDDINGS form one semantic group; doc 3's only lower-id
    # semantic neighbours are 1 and 2.  Whatever the lexical outcome,
    # at least one member of {1, 2, 3} must survive.
    docs = spark.createDataFrame(
        [
            (1, "the same exact text", "en", "s", 19),
            (2, "the same exact text", "en", "s", 19),
            (3, "a different text entirely", "en", "s", 25),
            (4, "an unrelated document", "en", "s", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    v = lambda i, eps: [1.0 if j == 0 else (eps if j == 1 else 0.0) for j in range(8)]  # noqa: E731
    emb = spark.createDataFrame(
        [
            (1, v(0, 0.0)),
            (2, v(0, 0.01)),
            (3, v(0, 0.02)),
            (4, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "curated_orphan")
    manifest, report = curate(
        docs,
        out,
        embeddings=emb,
        semantic_threshold=0.9,
        min_tokens=1,
        max_stopword_ratio=1.0,
    )
    surviving = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert surviving & {1, 2, 3}, "semantic group lost every member"
    assert 4 in surviving


def test_curate_cli_jsonl_input(spark, sf_dir, tmp_path, capsys):
    """CLI ingests JSONL, quarantines the bad line, and still curates."""
    from planet_dump_ng_spark.llm_pipeline import main
    from planet_dump_ng_spark.sources import write_documents_jsonl

    src = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(table(spark, sf_dir, "documents").limit(50), src)
    # drop a corrupt line in as its own file (appending to a Spark part
    # file would invalidate its Hadoop .crc sidecar)
    import os

    with open(os.path.join(src, "part-zz-corrupt.json"), "w") as fh:
        fh.write("definitely-not-json\n")
    out = str(tmp_path / "cli_jsonl_out")
    rc = main(
        [
            "--input", src,
            "--input-format", "jsonl",
            "--output", out,
            "--min-tokens", "1",
            "--max-stopword-ratio", "1.0",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "quarantined" in printed
    q = spark.read.json(out + "_quarantine")
    assert q.count() == 1
    assert spark.read.parquet(out).count() > 0


def test_curate_classifier_stage(spark, sf_dir, tmp_path):
    """The optional learned quality gate drops exactly the docs at or
    below the margin threshold, after the rule gate."""
    from planet_dump_ng_spark.operators.text import linear_quality_score

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "curated-clf")
    margin = 0.0
    manifest, report = curate(docs, out, classifier_margin=margin)
    stages = dict(report.stages)
    assert list(dict(report.stages)) == [
        "raw", "exact_dedup", "near_dedup", "quality", "classifier"
    ]
    assert stages["classifier"] <= stages["quality"]

    written = spark.read.parquet(out)
    assert written.count() == stages["classifier"]
    # every survivor clears the margin (scored on the SCRUBBED text that
    # entered the gate, which is what was materialized)
    scored = linear_quality_score(written.select("doc_id", "text"))
    assert scored.filter(F.col("quality_margin") <= margin).count() == 0
    # the gate actually discriminates at this threshold on sf0.01
    assert 0 < stages["classifier"] < stages["quality"]


def test_curate_cli_export_jsonl(spark, sf_dir, tmp_path, capsys):
    """--export-jsonl writes a split-partitioned gzip JSONL mirror of the
    materialized dataset with identical rows."""
    import glob
    import gzip
    import json as _json

    from planet_dump_ng_spark.llm_pipeline import main

    out = str(tmp_path / "curated")
    jl = str(tmp_path / "jsonl")
    src = str(tmp_path / "docs.parquet")
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).write.parquet(src)
    assert main(["--input", src, "--output", out, "--export-jsonl", jl]) == 0

    rows = []
    for path in glob.glob(f"{jl}/split=*/*.json.gz"):
        with gzip.open(path, "rt") as fh:
            rows += [_json.loads(line) for line in fh if line.strip()]
    assert {r["doc_id"] for r in rows} == {
        r.doc_id for r in spark.read.parquet(out).collect()
    }
    assert len(rows) > 0


def test_dataset_card_generation(spark, sf_dir, tmp_path):
    """dataset_card: the card's numbers agree with direct queries over
    the materialized dataset."""
    from planet_dump_ng_spark.dataset_card import main
    from planet_dump_ng_spark.llm_pipeline import curate
    from planet_dump_ng_spark.operators.text import token_count

    out = str(tmp_path / "ds")
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    curate(docs, out)
    card_path = str(tmp_path / "CARD.md")
    assert main(["--dataset", out, "--out", card_path]) == 0
    card = open(card_path).read()

    ds = spark.read.parquet(out)
    n = ds.count()
    toks = ds.agg(F.sum(token_count("text"))).collect()[0][0]
    assert f"documents: **{n:,}**" in card
    assert f"tokens (whitespace): **{toks:,}**" in card
    for split in ("train", "val", "test"):
        assert split in card
    assert "## Sources" in card and "## Languages" in card
    assert "PII pattern hits" in card
    # the language table carries the tokenizer-fertility columns
    assert "fertility" in card
    from planet_dump_ng_spark.operators.text import bpe_ish_token_count
    bpe = ds.agg(F.sum(bpe_ish_token_count("text"))).collect()[0][0]
    assert f"{bpe:,}" not in ("",) and f"{bpe / toks:.3f}"[:3] in card


def test_dataset_card_dsir_section(spark, tmp_path):
    """A DSIR-gated dataset's card carries the governance section: per
    source pooled mean bits under the FROZEN model plus the recorded
    gate threshold; an ungated dataset's card has no such section."""
    from planet_dump_ng_spark.dataset_card import (
        card_stats,
        dsir_stats,
        render_card,
        main,
    )
    from planet_dump_ng_spark.llm_pipeline import curate
    from planet_dump_ng_spark.operators import dsir as ds

    on = ("alpha beta gamma delta epsilon corpus training mixture "
          "language model quality sample data target tokens")
    off = ("zig zag zog quux blorp frobnicate wibble wobble flumox "
           "grindle snark boojum mimsy borogove rath")
    rows = [
        (i, f"{on} doc number {'word%d ' % i * 3}", "en", "feedA", 1)
        for i in range(30)
    ] + [
        (100 + j, f"{off} doc number {'term%d ' % j * 3}", "xx", "feedB", 1)
        for j in range(12)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "dsir_card_ds")
    curate(docs, out, min_tokens=5, dsir_target="lang = 'en'")
    card_path = str(tmp_path / "CARD_DSIR.md")
    assert main(["--dataset", out, "--out", card_path]) == 0
    card = open(card_path).read()
    assert "## DSIR domain match" in card
    assert "target `lang = 'en'`" in card
    assert "Recorded gate: mean per-feature weight >= 0.0 bits" in card
    # the per-source pooled means equal the operator path exactly
    kept = spark.read.parquet(out)
    w = ds.dsir_score_with_model(kept, out + "_dsir")
    pooled = {
        r["source"]: r
        for r in w.join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("logw_q20").cast("bigint").alias("q"),
            F.sum("n_feats").cast("bigint").alias("f"),
        )
        .collect()
    }
    for src, r in pooled.items():
        want = r["q"] / r["f"] / 1048576.0
        assert f"| {src} |" in card and f"{want:+.4f}" in card

    # ungated dataset: stats helper returns None, section absent
    out2 = str(tmp_path / "plain_card_ds")
    curate(docs, out2, min_tokens=5)
    plain = spark.read.parquet(out2)
    assert dsir_stats(plain, out2) is None
    stats = card_stats(plain)
    stats["dsir"] = None
    assert "DSIR" not in render_card(stats, out2)


def test_curate_leakage_free_split(spark, sf_dir, tmp_path):
    """leakage_free=True: no near-dup pair (at split_jaccard) crosses a
    split boundary in the materialized dataset, and the component helper
    column does not leak into the output."""
    from planet_dump_ng_spark.llm_pipeline import curate

    out = str(tmp_path / "lf")
    base = table(spark, sf_dir, "documents")
    # plant a mid-similarity pair (jaccard ~0.56: above the split fence,
    # below the 0.8 dedup threshold, so both SURVIVE dedup but must land
    # in the same split) with enough tokens to clear the quality gate
    shared = " ".join(f"common{i}" for i in range(22))
    planted = spark.createDataFrame(
        [
            (900001, shared + " tail one goes here with extra words now",
             "en", "planted", 0),
            (900002, shared + " different ending tokens close the text",
             "en", "planted", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = base.unionByName(planted)
    curate(docs, out, leakage_free=True, split_jaccard=0.3,
           max_stopword_ratio=1.0)
    ds = spark.read.parquet(out)
    assert "component" not in ds.columns

    pairs = dd.ngram_jaccard_pairs(
        ds.select("doc_id", "text"), k=3, threshold=0.3, block_col=None
    ).persist()
    sp = ds.select("doc_id", "split")
    crossed = (
        pairs.join(
            sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossed == 0
    planted_pair = pairs.filter(
        (F.col("id_a") == 900001) & (F.col("id_b") == 900002)
    ).count()
    assert planted_pair == 1, "planted mid-similarity pair must survive"
    # the planted pair shares one split by construction
    got = {r.doc_id: r.split for r in sp.filter(
        F.col("doc_id").isin(900001, 900002)).collect()}
    assert len(got) == 2 and len(set(got.values())) == 1
    # all three splits still populated
    assert ds.select("split").distinct().count() == 3
    pairs.unpersist()


def test_curate_builds_bm25_index(spark, sf_dir, tmp_path):
    """--build-bm25-index ships the curated train split searchable: the
    index header counts exactly the train docs, and querying it equals
    direct bm25_scores over the same split."""
    from planet_dump_ng_spark.llm_pipeline import main
    from planet_dump_ng_spark.operators import text_index as ti
    from planet_dump_ng_spark.operators.text import bm25_scores

    src = str(tmp_path / "docs_src")
    table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).write.parquet(src)
    out = str(tmp_path / "ds")
    idx = str(tmp_path / "train_idx")
    assert main(["--input", src, "--output", out,
                 "--build-bm25-index", idx]) == 0

    train = spark.read.parquet(out).filter(F.col("split") == "train")
    assert ti.read_bm25_meta(idx)["n_docs"] == train.count() > 0

    terms = ["vector", "hash"]
    lp, ld, m = ti.read_bm25_index(spark, idx)
    served = {
        r.doc_id: r.score_q
        for r in ti.bm25_index_query(
            spark, lp, ld, terms, n_shards=m["n_shards"]
        ).collect()
    }
    direct = {
        r.doc_id: r.score_q for r in bm25_scores(train, terms).collect()
    }
    assert served == direct and len(served) > 0
