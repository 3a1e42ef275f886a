"""Golden-file parity for the PBF sink: parse both files back and compare
canonical element streams (byte-identity is out of scope — block packing
differs; SURVEY.md section 4 item 2)."""

import os
import shutil
import subprocess

import pytest

from planet_dump_ng_spark import pipeline
from planet_dump_ng_spark.sinks.pbf_sink import read_pbf

REF = "/root/reference/test"

pytestmark = pytest.mark.skipif(
    shutil.which("pg_restore") is None or not os.path.isdir(REF),
    reason="needs pg_restore + reference test fixtures",
)


@pytest.fixture(scope="module")
def pbf_outputs(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("pbf")
    sql = work / "li.sql"
    subprocess.run(
        ["pg_restore", "-f", str(sql), "-a", f"{REF}/liechtenstein-2013-08-03.dmp"],
        check=True,
    )
    pipeline.run_dump(
        spark,
        str(sql),
        [
            pipeline.OutputSpec(str(work / "planet.osm.pbf"), "pbf"),
            pipeline.OutputSpec(str(work / "history.osm.pbf"), "pbf-history"),
        ],
        str(work / "w"),
        generator="planet-dump-ng test X.Y.Z",
    )
    return work


@pytest.mark.parametrize(
    "name,golden",
    [
        ("planet.osm.pbf", "planet.pbf.case/planet.osm.pbf"),
        ("history.osm.pbf", "history.pbf.case/history.osm.pbf"),
    ],
)
def test_pbf_semantic_parity(pbf_outputs, name, golden):
    mine = read_pbf(str(pbf_outputs / name))
    ref = read_pbf(f"{REF}/{golden}")
    assert mine["header"] == ref["header"]
    for kind in ("nodes", "ways", "relations"):
        assert sorted(mine[kind]) == sorted(ref[kind]), kind

