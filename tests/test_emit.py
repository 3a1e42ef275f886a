"""The multicast emit end to end: one arrangement per element type, one
Spark job per output, crash-safe sinks, and the Python worker daemon."""

import bz2
import dataclasses
import os
import sys
import zipfile
import zipimport
import xml.etree.ElementTree as ET

import pytest

from planet_dump_ng_spark import llm_pipeline, pipeline
from planet_dump_ng_spark.operators import history
from planet_dump_ng_spark.session import DAEMON_MODULE
from planet_dump_ng_spark.sinks import pbf_sink, xml_sink
from planet_dump_ng_spark.sources import split_dump_file
from planet_dump_ng_spark.worker_daemon import StampedZipImporter, install

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)

import check  # noqa: E402
import gen_osm  # noqa: E402

TYPE_ORDER = {"changeset": 0, "node": 1, "way": 2, "relation": 3}


def _xml_elements(path: str) -> list:
    """(tag, id, version, attributes, children) of every top-level element,
    in file order."""
    with open(path, "rb") as fh:
        root = ET.fromstring(bz2.decompress(fh.read()))
    return [
        (e.tag, int(e.get("id")), int(e.get("version", 0)), dict(e.attrib),
         [(c.tag, dict(c.attrib), c.text) for c in e.iter() if c is not e])
        for e in root
        if e.tag in TYPE_ORDER
    ]


def _assert_stream_order(keys: list) -> None:
    """``keys``: (type ordinal, id, version) in file order."""
    assert keys == sorted(keys)
    assert len({k[0] for k in keys}) > 1


@pytest.fixture(scope="module")
def planet(spark, tmp_path_factory):
    """A tiny generated dump, split and assembled on a 4-partition session
    (AQE off, so every range shuffle keeps 4 partitions)."""
    s4 = spark.newSession()
    s4.conf.set("spark.sql.shuffle.partitions", "4")
    d = tmp_path_factory.mktemp("emit_planet")
    dump = str(d / "planet.sql")
    gen_osm.generate_planet(dump, 3, 300)
    split_dump_file(dump, str(d / "copy"), list(pipeline.ELEMENT_TABLES))
    tables = pipeline.load_copy_tables(s4, str(d / "copy"))
    return pipeline.build_planet(s4, tables)


@pytest.mark.parametrize("pre_arranged", [False, True])
def test_xml_union_keeps_stream_order(planet, tmp_path, pre_arranged):
    """One write job over the union of the four fragment streams must still
    emit changesets, then nodes, ways and relations, each in (id, version)
    order — whatever Spark's union does with partitionings."""
    frames = [
        (xml_sink.render_changesets(planet.changesets, planet.max_ts), ["id"]),
        (xml_sink.render_nodes(planet.nodes, True), ["id", "version"]),
        (xml_sink.render_ways(planet.ways, True), ["id", "version"]),
        (xml_sink.render_relations(planet.relations, True), ["id", "version"]),
    ]
    if pre_arranged:
        frames = [
            (df.repartitionByRange(4, *cols).sortWithinPartitions(*cols).persist(), cols)
            for df, cols in frames
        ]
        assert all(df.rdd.getNumPartitions() > 1 for df, _ in frames)
    out = str(tmp_path / "h.osm.bz2")
    try:
        xml_sink.write_xml_file(frames, out, max_ts=planet.max_ts, pre_arranged=pre_arranged)
    finally:
        for df, _ in frames:
            df.unpersist()
    elements = _xml_elements(out)
    _assert_stream_order([(TYPE_ORDER[t], i, v) for t, i, v, _, _ in elements])
    assert sorted(os.listdir(tmp_path)) == ["h.osm.bz2"]


@pytest.mark.parametrize("pre_arranged", [False, True])
def test_pbf_union_keeps_stream_order(planet, tmp_path, monkeypatch, pre_arranged):
    """The same for the three PBF encoders under one collect: blocks of
    nodes, then ways, then relations, each in (id, version) order."""
    blocks = []
    parse = pbf_sink._parse_block

    def parse_recording(payload, nodes, ways, relations):
        before = (len(nodes), len(ways), len(relations))
        parse(payload, nodes, ways, relations)
        after = (len(nodes), len(ways), len(relations))
        blocks.extend(k for k, (a, b) in enumerate(zip(before, after)) if b > a)

    monkeypatch.setattr(pbf_sink, "_parse_block", parse_recording)
    streams = [planet.nodes, planet.ways, planet.relations]
    if pre_arranged:
        streams = [
            df.repartitionByRange(4, "id", "version").sortWithinPartitions("id", "version").persist()
            for df in streams
        ]
    out = str(tmp_path / "h.osm.pbf")
    try:
        pbf_sink.write_pbf_file(*streams, out, history=True, max_ts=planet.max_ts,
                                pre_arranged=pre_arranged)
    finally:
        for df in streams:
            df.unpersist()
    got = pbf_sink.read_pbf(out)
    assert blocks == sorted(blocks) and set(blocks) == {0, 1, 2}
    for t in ("nodes", "ways", "relations"):
        keys = [(e[0], e[1]) for e in got[t]]
        assert keys == sorted(keys) and keys, t
    assert sorted(os.listdir(tmp_path)) == ["h.osm.pbf"]


# -- run_dump end to end under the production planner -----------------------


@pytest.fixture(scope="module")
def dumped(plan_session, tmp_path_factory):
    d = tmp_path_factory.mktemp("run_dump")
    dump = str(d / "planet.sql")
    truth = gen_osm.generate_planet(dump, 5, 400)
    out = d / "out"
    out.mkdir()
    specs = [
        pipeline.OutputSpec(str(out / "planet.osm.bz2"), "planet"),
        pipeline.OutputSpec(str(out / "history.osm.bz2"), "history"),
        pipeline.OutputSpec(str(out / "changesets.osm.bz2"), "changesets"),
        pipeline.OutputSpec(str(out / "planet.osm.pbf"), "pbf"),
        pipeline.OutputSpec(str(out / "history.osm.pbf"), "pbf-history"),
    ]
    frames = pipeline.run_dump(plan_session, dump, specs, str(d / "work"))
    return truth, specs, frames, out


def test_run_dump_outputs_pass_the_benchmark_checks(dumped):
    truth, specs, _, out = dumped
    for spec in specs:
        if spec.kind in ("pbf", "pbf-history"):
            failures, _, _ = check.pbf_output(spec.path, spec.kind == "pbf-history", truth)
        else:
            failures, _, _ = check.xml_output(spec.path, spec.kind, truth, spec.anonymize)
        assert failures == [], spec.path
    # committed outputs only: no temporary file, no parts directory
    assert sorted(os.listdir(out)) == sorted(os.path.basename(s.path) for s in specs)


def test_run_dump_planet_is_history_filtered(dumped):
    """planet = history reduced to each id's last version, if visible."""
    _, _, _, out = dumped
    hist = _xml_elements(str(out / "history.osm.bz2"))
    latest = {}
    for t, i, v, attrs, children in hist:
        if t != "changeset" and v > latest.get((t, i), (-1,))[0]:
            latest[(t, i)] = (v, attrs, children)
    want = [
        (t, i, v, {k: a for k, a in attrs.items() if k != "visible"}, children)
        for (t, i), (v, attrs, children) in latest.items()
        if attrs["visible"] == "true"
    ]
    got = [e for e in _xml_elements(str(out / "planet.osm.bz2")) if e[0] != "changeset"]
    assert got == sorted(want, key=lambda e: (TYPE_ORDER[e[0]], e[1]))
    assert len(got) < len(hist)


def test_current_view_over_arrangement_adds_no_exchange(dumped):
    """The current view is a filter on the cached arrangement: no Exchange,
    Sort or Window above the cache scan."""
    _, _, frames, _ = dumped
    arranged = pipeline.arrange_elements(frames.nodes).persist()
    try:
        plan = history.current_of(arranged)._jdf.queryExecution().executedPlan().toString()
    finally:
        arranged.unpersist()
    above_cache = plan[: plan.index("InMemoryRelation")]
    assert "InMemoryTableScan" in above_cache
    for op in ("Exchange", "Sort", "Window"):
        assert op not in above_cache, plan
    # the arrangement itself: the window over the range exchange's sort,
    # with no exchange or sort of its own
    inner = arranged._jdf.queryExecution().executedPlan().toString()
    above_range = inner[: inner.index("Exchange rangepartitioning")]
    assert "Window" in above_range and above_range.count("Sort [") == 1
    assert "Exchange" not in above_range


# -- crash safety -------------------------------------------------------------


def test_missing_changeset_fails_the_emit_before_any_output(planet, tmp_path):
    """With a strict PBF output, an element whose changeset is missing
    fails the emit once the shared arrangements are built, before any
    output is written."""
    missing = planet.nodes.select("changeset_id").first()[0]
    frames = dataclasses.replace(
        planet, changesets=planet.changesets.filter(f"id != {missing}")
    )
    specs = [
        pipeline.OutputSpec(str(tmp_path / "planet.osm.bz2"), "planet"),
        pipeline.OutputSpec(str(tmp_path / "history.osm.bz2"), "history"),
        pipeline.OutputSpec(str(tmp_path / "planet.osm.pbf"), "pbf"),
    ]
    with pytest.raises(ValueError, match="missing from the changesets table"):
        pipeline.write_outputs(frames, specs)
    assert os.listdir(tmp_path) == []


def test_xml_sink_failing_mid_write_leaves_nothing(planet, tmp_path, monkeypatch):
    out = tmp_path / "planet.osm.bz2"
    frames = [(xml_sink.render_nodes(planet.nodes), ["id", "version"])]
    real_copy = xml_sink.shutil.copyfileobj

    def copy_then_fail(src, dst, length=0):
        real_copy(src, dst, length)
        raise OSError("disk full")

    monkeypatch.setattr(xml_sink.shutil, "copyfileobj", copy_then_fail)
    with pytest.raises(OSError, match="disk full"):
        xml_sink.write_xml_file(frames, str(out), max_ts=planet.max_ts)
    assert os.listdir(tmp_path) == []


def test_pbf_sink_failing_mid_write_leaves_nothing(planet, tmp_path, monkeypatch):
    out = tmp_path / "planet.osm.pbf"

    def fail(*_args):
        raise RuntimeError("encoder crashed")

    monkeypatch.setattr(pbf_sink, "encode_header_block", fail)
    with pytest.raises(RuntimeError, match="encoder crashed"):
        pbf_sink.write_pbf_file(planet.nodes, planet.ways, planet.relations, str(out))
    assert os.listdir(tmp_path) == []


def test_failing_compress_command_leaves_nothing(planet, tmp_path):
    out = tmp_path / "planet.osm.zst"
    frames = [(xml_sink.render_nodes(planet.nodes), ["id", "version"])]
    with pytest.raises(RuntimeError, match="exited 3"):
        xml_sink.write_xml_file(
            frames, str(out), max_ts=planet.max_ts,
            compress_command="head -c 100 >/dev/null; exit 3",
        )
    assert os.listdir(tmp_path) == []


# -- the Python worker daemon -------------------------------------------------


def _zip(path, **modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_stamped_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    _zip(arc, old_mod="X = 1\n")
    finder = StampedZipImporter(arc)
    finder.invalidate_caches()
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))

    finder.invalidate_caches()
    assert reads == []  # unchanged: not re-read
    assert finder.find_spec("old_mod") is not None

    _zip(arc, old_mod="X = 1\n", new_mod="Y = 2\n")
    finder.invalidate_caches()
    assert reads == [arc]
    assert finder.find_spec("new_mod") is not None


def test_install_swaps_cached_zip_finders(tmp_path, monkeypatch):
    arc = str(tmp_path / "pkg.zip")
    _zip(arc, m="")
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        {**sys.path_importer_cache, arc: zipimport.zipimporter(arc)})
    install()
    assert type(sys.path_importer_cache[arc]) is StampedZipImporter
    assert StampedZipImporter in sys.path_hooks and zipimport.zipimporter not in sys.path_hooks


def test_python_tasks_run_on_the_package_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def zip_finders(batches):
        import sys
        import zipimport

        import pyarrow as pa

        names = sorted({type(f).__name__ for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)})
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"finders": [",".join(names)]})

    got = {r.finders for r in spark.range(4, numPartitions=2)
           .mapInArrow(zip_finders, "finders string").collect()}
    assert got == {"StampedZipImporter"}


# -- job context in the dedup artifact's pool ---------------------------------


def test_dedup_artifact_pool_jobs_carry_callers_description(spark, tmp_path):
    sc = spark.sparkContext
    seen = []

    def probe() -> None:
        from pyspark import TaskContext

        seen.extend(
            sc.parallelize([0], 1)
            .map(lambda _: TaskContext.get().getLocalProperty("spark.job.description"))
            .collect()
        )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "over the lazy dog again")],
        "doc_id long, text string",
    )
    sc.setJobDescription("curate:dedup-artifact")
    try:
        llm_pipeline._write_dedup_artifact(
            docs, str(tmp_path / "ds"), include_buckets=False, concurrent_extra=probe
        )
    finally:
        sc.setJobDescription(None)
    assert seen == ["curate:dedup-artifact"]
