"""Round-7 PBF hardening: the ways stream gets the dense-nodes columnar
treatment — a mapInArrow encoder whose refs pack in one vectorized
delta+zigzag+LEB128 pass — pinned byte-identical to the row path, plus
unit pins for the new per-value / per-segment protowire fast paths."""

import random

from planet_dump_ng_spark.functions import protowire as pw


def test_protowire_roundtrip():
    vals = [0, 1, 127, 128, 300, 2**31, 2**63 - 1]
    for v in vals:
        buf = pw.varint(v)
        got, pos = pw.read_varint(buf, 0)
        assert got == v and pos == len(buf)
    svals = [0, -1, 1, -2**31, 2**31, -2**62]
    assert [pw.unzigzag(pw.zigzag(v)) for v in svals] == svals
    assert pw.delta_decode(pw.delta_encode([5, 3, 10, 10])) == [5, 3, 10, 10]
    msg = pw.field_varint(1, 42) + pw.field_string(2, "hé") + pw.packed_sint64s(3, [-1, 2])
    fields = list(pw.iter_fields(msg))
    assert fields[0] == (1, 0, 42)
    assert fields[1][2].decode() == "hé"
    assert pw.unpack_sint64s(fields[2][2]) == [-1, 2]


def test_varints_np_each_matches_scalar():
    rng = random.Random(11)
    extremes = [0, -1, 1, 127, 128, -128, 2**63 - 1, -(2**63), 2**31]
    vals = [
        rng.choice(extremes + [rng.randint(-(2**62), 2**62)])
        for _ in range(500)
    ]
    assert pw.varints_np_each(vals) == [pw.varint(v) for v in vals]
    assert pw.varints_np_each([]) == []


def test_packed_sint64s_segmented_matches_per_segment_scalar():
    """Byte-identical to packing each segment independently, including
    empty segments (b"", the packed-field elision) and the per-segment
    delta restart."""
    rng = random.Random(13)
    for _ in range(20):
        segs = [
            [rng.randint(-(2**31), 2**31) for _ in range(rng.choice([0, 1, 3, 8, 200]))]
            for _ in range(rng.randint(1, 30))
        ]
        flat = [v for s in segs for v in s]
        lens = [len(s) for s in segs]
        got = pw.packed_sint64s_segmented(8, flat, lens)
        want = [
            pw.packed_sint64s(8, pw.delta_encode(s)) if s else b""
            for s in segs
        ]
        assert got == want


def _ways_df(spark):
    import datetime as dt

    rows = []
    for i in range(1, 61):
        visible = i % 7 != 0
        nds = (
            [100 + i, 200 + i * 3, 150 + i, 100 + i]  # dup ref: delta 0/neg
            if i % 5 != 0
            else []
        )
        rows.append(
            (
                i,
                1 + (i % 3),
                100 + i,
                visible,
                dt.datetime(2013, 8, 3, 12, 0, i % 60),
                None,
                (
                    [{"k": "highway", "v": f"t{i % 4}"}, {"k": "name", "v": "x"}]
                    if i % 3 == 0
                    else []
                ),
                # invisible ways sometimes CARRY refs in the frame — the
                # encoder must still omit them (deleted-payload rule F10)
                nds if (visible or i % 14 == 0) else [],
                (i % 11) if i % 5 != 0 else None,
                f"user{i % 4}" if i % 5 != 0 else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "id long, version long, changeset_id long, visible boolean, "
        "timestamp timestamp, redaction_id long, "
        "tags array<struct<k:string,v:string>>, nds array<long>, "
        "uid int, user string",
    ).repartitionByRange(2, "id", "version").sortWithinPartitions(
        "id", "version"
    )


def test_arrow_ways_encoder_bytes_equal_row_encoder(spark, tmp_path, monkeypatch):
    """The columnar mapInArrow ways encoder must produce byte-identical
    part files to the row-at-a-time encoder on the same arranged stream
    — across block boundaries, invisible rows (with and without stale
    refs), empty/duplicate refs, null uids, tag string-table ordering,
    and both anonymize/history settings."""
    import os

    from planet_dump_ng_spark.sinks import pbf_sink

    monkeypatch.setitem(pbf_sink.BLOCK_LIMITS, "ways", 16)
    df = _ways_df(spark)

    for history in (False, True):
        for anonymize in (False, True):
            d_row = str(tmp_path / f"row-{history}-{anonymize}")
            d_arrow = str(tmp_path / f"arrow-{history}-{anonymize}")
            os.makedirs(d_row), os.makedirs(d_arrow)
            row_paths = sorted(
                df.rdd.mapPartitionsWithIndex(
                    pbf_sink._partition_encoder(
                        "ways", history, anonymize, d_row
                    )
                ).collect()
            )
            arrow_paths = sorted(
                r["path"]
                for r in df.mapInArrow(
                    pbf_sink._ways_arrow_encoder(history, anonymize, d_arrow),
                    schema="path string",
                ).collect()
            )
            assert [os.path.basename(p) for p in row_paths] == [
                os.path.basename(p) for p in arrow_paths
            ]
            for rp, ap in zip(row_paths, arrow_paths):
                with open(rp, "rb") as a, open(ap, "rb") as b:
                    assert a.read() == b.read(), (history, anonymize, rp)


def test_ways_block_encoder_parses_back(spark, tmp_path):
    """End-to-end: write_pbf_file (now routing ways through the columnar
    encoder) still round-trips through the reader with identical
    canonical ways."""
    import datetime as dt

    from planet_dump_ng_spark.sinks import pbf_sink

    df = _ways_df(spark)
    nodes = spark.createDataFrame(
        [],
        "id long, version long, changeset_id long, visible boolean, "
        "timestamp timestamp, redaction_id long, latitude int, "
        "longitude int, tags array<struct<k:string,v:string>>, "
        "uid int, user string",
    )
    rels = spark.createDataFrame(
        [],
        "id long, version long, changeset_id long, visible boolean, "
        "timestamp timestamp, redaction_id long, "
        "tags array<struct<k:string,v:string>>, "
        "members array<struct<member_type:string,member_id:long,"
        "member_role:string,sequence_id:int>>, uid int, user string",
    )
    out = str(tmp_path / "ways.osm.pbf")
    pbf_sink.write_pbf_file(
        nodes, df, rels, out, history=True,
        max_ts=dt.datetime(2013, 8, 3, tzinfo=dt.timezone.utc),
    )
    parsed = pbf_sink.read_pbf(out)
    assert len(parsed["ways"]) == 60
    by_id = {w[0]: w for w in parsed["ways"]}
    # a visible way keeps its refs, an invisible one loses even stale refs
    assert by_id[1][7] == (101, 203, 151, 101)
    assert by_id[14][7] == ()  # invisible with stale refs in the frame


def test_packed_varints_segmented_matches_per_segment_scalar():
    rng = random.Random(17)
    for _ in range(20):
        segs = [
            [rng.randint(0, 2**40) for _ in range(rng.choice([0, 1, 2, 7, 120]))]
            for _ in range(rng.randint(1, 25))
        ]
        flat = [v for s in segs for v in s]
        lens = [len(s) for s in segs]
        got = pw.packed_varints_segmented(10, flat, lens)
        want = [pw.packed_varints(10, s) if s else b"" for s in segs]
        assert got == want


def _relations_df(spark):
    import datetime as dt

    types = ["Node", "Way", "Relation"]
    rows = []
    for i in range(1, 41):
        visible = i % 6 != 0
        if i % 10 == 0:
            # NULL members — on a VISIBLE relation (i=10,20,40) the row
            # path's truthiness check encodes it member-less, and the
            # columnar path must byte-match, not raise
            members = None
        elif i % 5 == 0:
            members = []
        else:
            members = [
                {
                    "member_type": types[(i + j) % 3],
                    "member_id": 1000 * j + i,
                    "member_role": f"role{j % 3}" if j % 4 else "",
                    "sequence_id": j,
                }
                for j in range(i % 7)
            ]
        rows.append(
            (
                i,
                1 + (i % 2),
                200 + i,
                visible,
                dt.datetime(2013, 8, 3, 13, 0, i % 60),
                None,
                (
                    [{"k": "type", "v": "route"}, {"k": "ref", "v": str(i)}]
                    if i % 4 == 0
                    else []
                ),
                members,  # invisible relations may carry stale members
                (i % 9) if i % 5 != 1 else None,
                f"user{i % 3}" if i % 5 != 1 else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "id long, version long, changeset_id long, visible boolean, "
        "timestamp timestamp, redaction_id long, "
        "tags array<struct<k:string,v:string>>, "
        "members array<struct<member_type:string,member_id:long,"
        "member_role:string,sequence_id:int>>, uid int, user string",
    ).repartitionByRange(2, "id", "version").sortWithinPartitions(
        "id", "version"
    )


def test_arrow_relations_encoder_bytes_equal_row_encoder(
    spark, tmp_path, monkeypatch
):
    """Columnar relations encoder pinned byte-identical to the row path:
    roles/memids/types triples, empty member lists, invisible rows with
    stale members, empty-string roles, block-boundary cuts, both
    anonymize/history settings."""
    import os

    from planet_dump_ng_spark.sinks import pbf_sink

    monkeypatch.setitem(pbf_sink.BLOCK_LIMITS, "relations", 8)
    df = _relations_df(spark)

    for history in (False, True):
        for anonymize in (False, True):
            d_row = str(tmp_path / f"rrow-{history}-{anonymize}")
            d_arrow = str(tmp_path / f"rarrow-{history}-{anonymize}")
            os.makedirs(d_row), os.makedirs(d_arrow)
            row_paths = sorted(
                df.rdd.mapPartitionsWithIndex(
                    pbf_sink._partition_encoder(
                        "relations", history, anonymize, d_row
                    )
                ).collect()
            )
            arrow_paths = sorted(
                r["path"]
                for r in df.mapInArrow(
                    pbf_sink._relations_arrow_encoder(
                        history, anonymize, d_arrow
                    ),
                    schema="path string",
                ).collect()
            )
            assert [os.path.basename(p) for p in row_paths] == [
                os.path.basename(p) for p in arrow_paths
            ]
            for rp, ap in zip(row_paths, arrow_paths):
                with open(rp, "rb") as a, open(ap, "rb") as b:
                    assert a.read() == b.read(), (history, anonymize, rp)
