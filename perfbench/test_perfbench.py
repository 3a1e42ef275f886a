"""Tests of the benchmark itself: seeded generators, their ground truth
read back through the program's COPY reader, and the output checker.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import bz2
import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

import check  # noqa: E402
import gen_docs  # noqa: E402
import gen_osm  # noqa: E402
import run  # noqa: E402


def _md5(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


@pytest.fixture(scope="module")
def spark():
    from planet_dump_ng_spark.session import get_spark

    return get_spark(
        "perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


@pytest.mark.parametrize("gen", [gen_osm.generate_planet, gen_osm.generate_discussions])
def test_osm_generators_are_deterministic(tmp_path, gen):
    a, b, c = (str(tmp_path / n) for n in ("a.sql", "b.sql", "c.sql"))
    assert gen(a, 7, 400) == gen(b, 7, 400)
    assert _md5(a) == _md5(b)
    gen(c, 8, 400)
    assert _md5(a) != _md5(c)


def test_docs_generator_is_deterministic(tmp_path):
    ta = gen_docs.generate(str(tmp_path / "a"), 3, 300)
    tb = gen_docs.generate(str(tmp_path / "b"), 3, 300)
    assert ta["planted"] == tb["planted"] and ta["rows"] == tb["rows"]
    for part in ("base", "batch", "bench"):
        assert _md5(ta["paths"][part]) == _md5(tb["paths"][part])
    assert all(ta["planted"][k] for k in gen_docs.SHARES)


def _tables(spark, dump: str, copy_dir: str):
    from planet_dump_ng_spark import pipeline
    from planet_dump_ng_spark.sources import split_dump_file

    split_dump_file(dump, copy_dir, list(pipeline.ELEMENT_TABLES))
    return pipeline.load_copy_tables(spark, copy_dir)


def test_planet_truth_matches_copy_reader(spark, tmp_path):
    from planet_dump_ng_spark import pipeline
    from planet_dump_ng_spark.operators import history

    dump = str(tmp_path / "p.sql")
    truth = gen_osm.generate_planet(dump, 5, 600)
    tables = _tables(spark, dump, str(tmp_path / "copy"))
    assert sum(df.count() for df in tables.values()) == truth["input"]["rows"]
    frames = pipeline.build_planet(spark, tables)
    for t in ("nodes", "ways", "relations"):
        df = getattr(frames, t)
        assert df.count() == truth[t]["history"], t
        assert history.current_view(df).count() == truth[t]["current"], t
        assert df.filter("user IS NOT NULL").count() == truth[t]["history_attributed"], t
    assert frames.changesets.count() == truth["changesets"]["count"]


def test_discussion_truth_matches_copy_reader(spark, tmp_path):
    from pyspark.sql import functions as F

    dump = str(tmp_path / "d.sql")
    truth = gen_osm.generate_discussions(dump, 5, 300)
    assert truth["input"]["escaped_share"] == 1.0
    tables = _tables(spark, dump, str(tmp_path / "copy"))
    comments = tables["changeset_comments"]
    cs = truth["changesets"]
    assert comments.count() == cs["comment_rows"]
    visible = comments.filter("visible")
    assert visible.count() == cs["comments_visible"]
    assert visible.select("changeset_id").distinct().count() == cs["with_discussion"]
    public = tables["users"].filter("data_public").select(F.col("id").alias("author_id"))
    assert visible.join(public, "author_id").count() == cs["comments_rendered"]
    assert tables["nodes"].count() == 0
    # every string came back unescaped: the generator ends each with a tab
    assert comments.filter(~F.col("body").endswith("\t")).count() == 0


def _rewrite(path: str, edit) -> None:
    with open(path, "rb") as fh:
        data = fh.read()
    with open(path, "wb") as fh:
        fh.write(edit(data))


def test_checker_flags_corrupted_outputs(spark, tmp_path):
    from workloads import PlanetFull

    wl = PlanetFull(300)
    wl.prepare(str(tmp_path / "in"), 9)
    res = wl.run(spark, str(tmp_path / "pass"))
    per_output, stats = wl.check(spark, res)
    assert all(not f for f, _ in per_output.values()), per_output
    assert stats["bz2_bytes"] and stats["pbf_bytes"]

    out = res["out_dir"]
    # one node fewer in the planet
    _rewrite(os.path.join(out, "planet.osm.bz2"),
             lambda d: bz2.compress(bz2.decompress(d).replace(b"\n <node ", b"\n <gone ", 1)))
    # a truncated history PBF
    _rewrite(os.path.join(out, "history.osm.pbf"), lambda d: d[: len(d) // 2])
    # user info where the changesets output should have none
    spec = next(s for s in res["specs"] if s.kind == "changesets")
    spec.anonymize = True
    bad, _ = wl.check(spark, res)
    failing = {name for name, (f, _) in bad.items() if f}
    assert failing == {"planet.osm.bz2", "history.osm.pbf", "changesets.osm.bz2"}


def test_digest_book_flags_changed_content(tmp_path):
    path = str(tmp_path / "d" / "seed.json")
    book = check.DigestBook(path)
    assert book.check("out", "aaa") == []
    book.save()
    again = check.DigestBook(path)
    assert again.check("out", "aaa") == []
    assert again.check("out", "bbb")


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_stolen_share():
    from tracing import stolen_share

    assert stolen_share((100, 10), (190, 20)) == pytest.approx(0.1)
    assert stolen_share((5, 5), (5, 5)) == 0.0
