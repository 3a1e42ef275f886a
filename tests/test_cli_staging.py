"""CLI flag mapping + staging/resume behavior."""

import os
import shutil

import pytest

from planet_dump_ng_spark import staging
from planet_dump_ng_spark.cli import build_parser, outputs_from_args

REF = "/root/reference/test"


def test_cli_output_flags_map_to_specs():
    args = build_parser().parse_args(
        [
            "--dump-file", "d.sql",
            "--xml", "p.osm.bz2",
            "--history-pbf", "h.osm.pbf",
            "--changesets-no-userinfo", "c.osm",
        ]
    )
    outs = {(o.kind, o.anonymize): o.path for o in outputs_from_args(args)}
    assert outs == {
        ("planet", False): "p.osm.bz2",
        ("pbf-history", False): "h.osm.pbf",
        ("changesets", True): "c.osm",
    }


def test_cli_requires_an_output():
    args = build_parser().parse_args(["--dump-file", "d.sql"])
    assert outputs_from_args(args) == []


def test_stage_roundtrip_and_resume(spark, tmp_path):
    df = spark.range(5).withColumnRenamed("id", "x")
    stage_dir = str(tmp_path / "stage")
    out1 = staging.stage_table(spark, df, stage_dir, "t1")
    assert sorted(r.x for r in out1.collect()) == [0, 1, 2, 3, 4]
    assert staging.is_staged(stage_dir, "t1")

    # resume: the stale frame is NOT recomputed when the marker exists
    df2 = spark.range(3).withColumnRenamed("id", "x")
    out2 = staging.stage_table(spark, df2, stage_dir, "t1", resume=True)
    assert sorted(r.x for r in out2.collect()) == [0, 1, 2, 3, 4]

    # without resume: rebuilt
    out3 = staging.stage_table(spark, df2, stage_dir, "t1", resume=False)
    assert sorted(r.x for r in out3.collect()) == [0, 1, 2]


def test_resume_rebuilds_stage_of_another_dump(spark, tmp_path):
    dump_a, dump_b = tmp_path / "a.sql", tmp_path / "b.sql"
    dump_a.write_text("a\n")
    dump_b.write_text("bb\n")
    stage_dir = str(tmp_path / "stage")
    staging.claim_stage(stage_dir, str(dump_a))
    staging.stage_table(spark, spark.range(5).toDF("x"), stage_dir, "t1")

    # the same dump again keeps the stage
    staging.claim_stage(stage_dir, str(dump_a))
    assert staging.is_staged(stage_dir, "t1")

    # another dump: the stage is discarded, so resume rebuilds
    staging.claim_stage(stage_dir, str(dump_b))
    assert not staging.is_staged(stage_dir, "t1")
    out = staging.stage_table(
        spark, spark.range(3).toDF("x"), stage_dir, "t1", resume=True
    )
    assert sorted(r.x for r in out.collect()) == [0, 1, 2]

    # the same path rewritten is another dump too
    dump_b.write_text("changed\n")
    staging.claim_stage(stage_dir, str(dump_b))
    assert not staging.is_staged(stage_dir, "t1")


def test_resume_rebuilds_stage_with_changed_schema(spark, tmp_path):
    stage_dir = str(tmp_path / "stage")
    old = spark.range(5).toDF("x")
    staging.stage_table(spark, old, stage_dir, "t1")
    assert staging.is_staged(stage_dir, "t1", old.schema)

    new = spark.createDataFrame([(7, "a"), (8, "b")], "x bigint, y string")
    assert not staging.is_staged(stage_dir, "t1", new.schema)
    out = staging.stage_table(spark, new, stage_dir, "t1", resume=True)
    assert sorted(tuple(r) for r in out.collect()) == [(7, "a"), (8, "b")]
    assert staging.is_staged(stage_dir, "t1", new.schema)


def test_run_dump_resume_rebuilds_stage_of_another_dump(spark, tmp_path):
    """--resume over a stage made from another dump (here: the same path,
    regenerated) decodes the new dump: its output equals a fresh run's."""
    import sys

    from planet_dump_ng_spark import pipeline

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import gen_osm

    def changesets_xml(work, out, resume):
        out = str(tmp_path / out)
        spec = pipeline.OutputSpec(out, "changesets")
        pipeline.run_dump(spark, dump, [spec], str(tmp_path / work), resume=resume)
        with open(out, "rb") as fh:
            return fh.read()

    dump = str(tmp_path / "dump.sql")
    gen_osm.generate_planet(dump, 1, 300)
    first = changesets_xml("w", "a.osm", resume=False)
    gen_osm.generate_planet(dump, 2, 300)
    resumed = changesets_xml("w", "b.osm", resume=True)
    assert resumed != first
    assert resumed == changesets_xml("w2", "c.osm", resume=False)


def test_decoded_schema_is_the_declared_one(spark, tmp_path):
    """run_dump's all-staged check compares markers with the declared
    decode schemas, so the decoder must produce exactly those."""
    from planet_dump_ng_spark.pipeline import ELEMENT_TABLES
    from planet_dump_ng_spark.schemas import TABLES
    from planet_dump_ng_spark.sources import read_copy_table

    for t in ELEMENT_TABLES:
        schema = TABLES[t][0]
        path = tmp_path / f"{t}.copy"
        path.write_text(
            f"COPY public.{t} ({', '.join(f.name for f in schema)}) FROM stdin;\n\\.\n"
        )
        df = read_copy_table(spark, str(path), t)
        assert df.schema.simpleString() == schema.simpleString(), t


@pytest.mark.skipif(
    shutil.which("pg_restore") is None or not os.path.isdir(REF),
    reason="needs pg_restore + reference fixtures",
)
def test_cli_end_to_end(spark, tmp_path):
    import subprocess

    from planet_dump_ng_spark.cli import main

    sql = tmp_path / "bad.sql"
    subprocess.run(
        ["pg_restore", "-f", str(sql), "-a", f"{REF}/bad-character.dmp"], check=True
    )
    out = tmp_path / "cs.osm"
    rc = main(
        [
            "--dump-file", str(sql),
            "--changesets", str(out),
            "--generator", "planet-dump-ng test X.Y.Z",
            "--work-dir", str(tmp_path / "w"),
        ]
    )
    assert rc == 0
    import bz2

    with open(f"{REF}/changesets-badchar.xml.case/changesets.osm.bz2", "rb") as fh:
        golden = bz2.decompress(fh.read())
    assert out.read_bytes() == golden

    # resume run hits the staged tables and produces identical output
    out2 = tmp_path / "cs2.osm"
    rc = main(
        [
            "--dump-file", str(sql),
            "--changesets", str(out2),
            "--generator", "planet-dump-ng test X.Y.Z",
            "--work-dir", str(tmp_path / "w"),
            "--resume",
        ]
    )
    assert rc == 0 and out2.read_bytes() == golden


def test_meta_overrides_change_header():
    from datetime import datetime

    from planet_dump_ng_spark.sinks.xml_sink import format_osm_header

    default = format_osm_header("gen", datetime(2020, 1, 2, 3, 4, 5))
    assert 'license="http://opendatacommons.org/licenses/odbl/1-0/"' in default
    assert 'origin="http://www.openstreetmap.org/api/0.6"' in default
    assert 'timestamp="2020-01-02T03:04:05Z"' in default

    over = format_osm_header(
        "gen",
        None,
        meta={
            "license": "CC0",
            "copyright": "me",
            "attribution": "none",
            "source": "http://example.org/api",
        },
    )
    assert 'license="CC0"' in over and 'copyright="me"' in over
    assert 'attribution="none"' in over
    assert 'origin="http://example.org/api"' in over
    assert 'timestamp=""' in over


def test_cli_meta_flags_parse():
    from planet_dump_ng_spark.cli import build_parser, meta_from_args

    args = build_parser().parse_args(
        ["--dump-file", "d.sql", "--xml", "p.osm",
         "--meta-copyleft", "CC0", "--meta-source", "http://example.org"]
    )
    assert meta_from_args(args) == {"license": "CC0", "source": "http://example.org"}


@pytest.mark.skipif(
    shutil.which("pg_restore") is None or not os.path.isdir(REF),
    reason="needs pg_restore + reference fixtures",
)
def test_cli_meta_file_precedence_end_to_end(spark, tmp_path):
    """CLI flags beat --meta-file entries (reference planet-dump.cpp:105-114:
    boost po::store keeps the first-stored value, and the command line is
    stored before the config file) — checked through the real CLI on a real
    dump, not just meta_from_args."""
    import subprocess

    from planet_dump_ng_spark.cli import main

    sql = tmp_path / "bad.sql"
    subprocess.run(
        ["pg_restore", "-f", str(sql), "-a", f"{REF}/bad-character.dmp"], check=True
    )
    meta_file = tmp_path / "meta.conf"
    meta_file.write_text(
        "# planet metainfo\n"
        "meta-copyleft = FILE-LICENSE\n"
        "meta-attribution = file-attribution\n"
    )
    out = tmp_path / "cs.osm"
    rc = main(
        [
            "--dump-file", str(sql),
            "--changesets", str(out),
            "--work-dir", str(tmp_path / "w"),
            "--meta-file", str(meta_file),
            "--meta-copyleft", "FLAG-LICENSE",  # conflicts with the file
        ]
    )
    assert rc == 0
    header = out.read_bytes().split(b">", 2)[1].decode()  # the <osm ...> tag
    assert 'license="FLAG-LICENSE"' in header  # flag wins the conflict
    assert 'attribution="file-attribution"' in header  # file fills the rest
