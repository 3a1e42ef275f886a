"""OSM PBF sink (reference operator S8, src/pbf_writer.cpp) — built on the
hand-rolled protobuf wire encoder (functions/protowire.py), no protobuf
library required.

Layout follows the public OSMPBF format: [int32-BE length][BlobHeader]
[Blob] framing; OSMHeader blob then OSMData blobs, each a PrimitiveBlock
with a per-block string table; dense nodes with delta-coded columns; ways
and relations with delta-coded refs/memids (pbf_writer.cpp:356-399,
delta helpers :84-90).  Header declares OsmSchema-V0.6 + DenseNodes
(+ HistoricalInformation for history output), Has_Metadata and
Sort.Type_then_ID, bbox, writingprogram, source, and the replication
timestamp = global max data timestamp (:149-171).

Distribution model: block packing is stateful ACROSS elements but PBF
blocks are self-contained (string table and delta bases reset per block),
so each partition of the (id, version)-range-sorted element stream encodes
its own complete sequence of blobs in parallel; the driver concatenates
header + partition files in range order (SURVEY.md section 4 item 2).
Byte-identity with the reference is NOT guaranteed (different block
boundaries); semantic identity is — tests parse both files back and
compare canonical element streams.

Anonymous / no-userinfo semantics (pbf_writer.cpp:309-327,373-397):
dense info writes uid=0 and user_sid=stringtable("")=0 for hidden users;
way/relation Info omits uid/user_sid.  Invisible elements carry no
tags/refs and nodes write lat=lon=0 (:341-349,580,604,637).
"""

from __future__ import annotations

import calendar
import functools
import os
import struct
import zlib
from datetime import datetime

from pyspark.sql import DataFrame, functions as F

from planet_dump_ng_spark.functions import protowire as pw
from planet_dump_ng_spark.sinks import committed

GRANULARITY = 100  # nanodeg per unit -> units == 1e-7-deg fixed-point ints
DATE_GRANULARITY = 1000  # ms per unit -> units == unix seconds
LONLAT_RESOLUTION = 1_000_000_000  # nanodegrees per degree
OSM_API_ORIGIN = "http://www.openstreetmap.org/api/0.6"

#: elements per OSMData block (the reference flushes on a byte budget with
#: per-type recheck cadences node 16000 / way 8000 / relation 200,
#: pbf_writer.cpp:107,124-128; fixed counts give comparable block sizes)
BLOCK_LIMITS = {"nodes": 16000, "ways": 8000, "relations": 4000}


def _epoch_seconds(ts: datetime | None) -> int:
    if ts is None:
        return 0
    return calendar.timegm(ts.timetuple())


def encode_blob(payload: bytes, blob_type: str) -> bytes:
    """[len BE][BlobHeader{type:1,datasize:3}][Blob{raw_size:2,zlib:3}]
    (framing pbf_writer.cpp:177-222; zlib level 9 :197-199)."""
    z = zlib.compress(payload, 9)
    blob = pw.field_varint(2, len(payload)) + pw.field_bytes(3, z)
    header = pw.field_string(1, blob_type) + pw.field_varint(3, len(blob))
    return struct.pack(">i", len(header)) + header + blob


def encode_header_block(
    generator: str,
    history: bool,
    max_ts: datetime | None,
    source: str = OSM_API_ORIGIN,
    dense_nodes: bool = True,
) -> bytes:
    bbox = (
        pw.field_varint(1, pw.zigzag(-180 * LONLAT_RESOLUTION))
        + pw.field_varint(2, pw.zigzag(180 * LONLAT_RESOLUTION))
        + pw.field_varint(3, pw.zigzag(90 * LONLAT_RESOLUTION))
        + pw.field_varint(4, pw.zigzag(-90 * LONLAT_RESOLUTION))
    )
    msg = pw.field_bytes(1, bbox)
    msg += pw.field_string(4, "OsmSchema-V0.6")
    if history:
        msg += pw.field_string(4, "HistoricalInformation")
    if dense_nodes:  # required feature only when dense (pbf_writer.cpp:163-165)
        msg += pw.field_string(4, "DenseNodes")
    msg += pw.field_string(5, "Has_Metadata")
    msg += pw.field_string(5, "Sort.Type_then_ID")
    msg += pw.field_string(16, generator)
    msg += pw.field_string(17, source)
    if max_ts is not None:
        msg += pw.field_varint(32, _epoch_seconds(max_ts))
    return encode_blob(msg, "OSMHeader")


class _StringTable:
    """Per-block string dedup table; index 0 reserved for ''
    (pbf_writer.cpp:33-79)."""

    def __init__(self) -> None:
        self.index: dict[str, int] = {"": 0}
        self.items: list[bytes] = [b""]

    def __call__(self, s: str) -> int:
        i = self.index.get(s)
        if i is None:
            i = len(self.items)
            self.index[s] = i
            self.items.append(s.encode("utf-8"))
        return i

    def encode(self) -> bytes:
        return pw.field_bytes(
            1, b"".join(pw.field_bytes(1, b) for b in self.items)
        )


def _primitive_block(st: _StringTable, group: bytes) -> bytes:
    msg = st.encode() + pw.field_bytes(2, group)
    if GRANULARITY != 100:
        msg += pw.field_varint(17, GRANULARITY)
    if DATE_GRANULARITY != 1000:
        msg += pw.field_varint(18, DATE_GRANULARITY)
    return encode_blob(msg, "OSMData")


def _info(
    st: _StringTable, row, history: bool, anonymize: bool
) -> bytes:
    msg = pw.field_varint(1, row["version"])
    msg += pw.field_varint(2, _epoch_seconds(row["timestamp"]))
    msg += pw.field_varint(3, row["changeset_id"])
    if not anonymize and row["uid"] is not None:
        msg += pw.field_varint(4, row["uid"])
        msg += pw.field_varint(5, st(row["user"]))
    if history:
        msg += pw.field_varint(6, 1 if row["visible"] else 0)
    return msg


def _encode_dense_nodes(rows: list, history: bool, anonymize: bool) -> bytes:
    st = _StringTable()
    ids, lats, lons, kvs = [], [], [], []
    versions, tss, css, uids, sids, vis = [], [], [], [], [], []
    for r in rows:
        ids.append(r["id"])
        visible = r["visible"]
        lats.append(r["latitude"] if visible else 0)
        lons.append(r["longitude"] if visible else 0)
        if visible:
            for t in r["tags"]:
                kvs.append(st(t["k"]))
                kvs.append(st(t["v"]))
        kvs.append(0)
        versions.append(r["version"])
        tss.append(_epoch_seconds(r["timestamp"]))
        css.append(r["changeset_id"])
        hidden = anonymize or r["uid"] is None
        uids.append(0 if hidden else r["uid"])
        sids.append(0 if hidden else st(r["user"]))
        vis.append(1 if visible else 0)
    info = (
        pw.packed_varints(1, versions)
        + pw.packed_sint64s(2, pw.delta_encode(tss))
        + pw.packed_sint64s(3, pw.delta_encode(css))
        + pw.packed_sint64s(4, pw.delta_encode(uids))
        + pw.packed_sint64s(5, pw.delta_encode(sids))
        + (pw.packed_varints(6, vis) if history else b"")
    )
    dense = (
        pw.packed_sint64s(1, pw.delta_encode(ids))
        + pw.field_bytes(5, info)
        + pw.packed_sint64s(8, pw.delta_encode(lats))
        + pw.packed_sint64s(9, pw.delta_encode(lons))
        + pw.packed_varints(10, kvs)
    )
    return _primitive_block(st, pw.field_bytes(2, dense))


def _dense_np_delta(a):
    """Running difference of an int64 ndarray (the wire sint64 delta) —
    same contract as protowire.delta_encode, kept as an array so the
    vectorized packer consumes it without a list round-trip."""
    import numpy as np

    d = np.empty_like(a)
    if len(a):
        d[0] = a[0]
        np.subtract(a[1:], a[:-1], out=d[1:])
    return d


def _encode_dense_block(
    ids, lats, lons, versions, tss, css, uids, vis,
    users, tags, hidden, history: bool,
) -> bytes:
    """One DenseNodes PrimitiveBlock from COLUMNS (int64 ndarrays +
    python lists for the string-bearing fields).  Byte-identical to
    _encode_dense_nodes over the same rows: the string table is filled
    in the same per-row order (a row's tag k/v pairs, then its user
    name), and every packed field uses the same delta+zigzag pipeline —
    only the per-row numeric bookkeeping is gone."""
    import numpy as np

    st = _StringTable()
    n = len(ids)
    kvs: list[int] = []
    sids = np.zeros(n, dtype=np.int64)
    for i in range(n):
        if vis[i]:
            for t in tags[i]:
                kvs.append(st(t["k"]))
                kvs.append(st(t["v"]))
        kvs.append(0)
        if not hidden[i]:
            sids[i] = st(users[i])
    info = (
        pw.packed_varints(1, versions)
        + pw.packed_sint64s(2, _dense_np_delta(tss))
        + pw.packed_sint64s(3, _dense_np_delta(css))
        + pw.packed_sint64s(4, _dense_np_delta(uids))
        + pw.packed_sint64s(5, _dense_np_delta(sids))
        + (pw.packed_varints(6, vis.astype(np.int64)) if history else b"")
    )
    dense = (
        pw.packed_sint64s(1, _dense_np_delta(ids))
        + pw.field_bytes(5, info)
        + pw.packed_sint64s(8, _dense_np_delta(lats))
        + pw.packed_sint64s(9, _dense_np_delta(lons))
        + pw.packed_varints(10, kvs)
    )
    return _primitive_block(st, pw.field_bytes(2, dense))


def _batch_common(batch, anonymize: bool, kind: str):
    """Shared column prep for every element-stream Arrow encoder: the
    accessor, loud null guards on the required numerics, visibility,
    the anonymize/null-uid hidden mask, raw uids, and epoch-second
    timestamps.  Returns (col, vis, hidden, uids, ts)."""
    import numpy as np
    import pyarrow as pa

    def col(name):
        return batch.column(batch.schema.get_field_index(name))

    for req in ("id", "version", "changeset_id"):
        if col(req).null_count:
            raise ValueError(f"null {req} in {kind} stream")
    vis = (
        col("visible").fill_null(False).to_numpy(zero_copy_only=False)
    ).astype(bool)
    uid_col = col("uid")
    uid_null = (
        uid_col.is_null().to_numpy(zero_copy_only=False).astype(bool)
        if uid_col.null_count
        else np.zeros(len(batch), dtype=bool)
    )
    hidden = uid_null | anonymize
    uids = uid_col.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    ts = (
        col("timestamp")
        .cast(pa.int64())
        .fill_null(0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
        // 1_000_000
    )
    return col, vis, hidden, uids, ts


def _np64(column):
    import numpy as np

    return column.to_numpy(zero_copy_only=False).astype(np.int64)


def _arrow_stream_encoder(
    kind: str,
    cols_of,
    np_keys: tuple,
    encode_block,
    out_dir: str,
    flat_keys: tuple = (),
    lens_key: str | None = None,
):
    """The shared mapInArrow buffering/block-cutting loop behind all
    three element encoders: per partition, buffer each batch's column
    dict, cut blocks of exactly ``BLOCK_LIMITS[kind]`` rows (the row
    path's boundaries), write the partition's complete blob sequence
    to one ``{kind}-NNNNN.pbfpart`` file, yield a 1-row batch with the
    path.

    ``np_keys`` merge via np.concatenate and slice by ROW; every other
    key is a python list sliced by row — except ``flat_keys``, the
    flattened per-row value streams (way refs, member ids/types) whose
    slice position is the SUM of ``lens_key`` over the rows taken
    (this take/nval split is the one piece of cut logic an off-by-one
    would silently corrupt, which is exactly why it lives here once).
    """
    import numpy as np
    import pyarrow as pa

    limit = BLOCK_LIMITS[kind]

    def run(batches):
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"{kind}-{idx:05d}.pbfpart")
        bufs: dict[str, list] = {}
        total = 0
        fh = None

        def encode_ready(flush: bool):
            nonlocal total, fh, bufs
            while total >= limit or (flush and total):
                merged = {
                    k: (
                        np.concatenate(bufs[k])
                        if k in np_keys or k in flat_keys
                        else [x for part in bufs[k] for x in part]
                    )
                    for k in bufs
                }
                take = min(limit, total)
                nval = (
                    int(merged[lens_key][:take].sum()) if lens_key else 0
                )
                block = {
                    k: (merged[k][:nval] if k in flat_keys
                        else merged[k][:take])
                    for k in merged
                }
                rest = {
                    k: [merged[k][nval:] if k in flat_keys
                        else merged[k][take:]]
                    for k in merged
                }
                if fh is None:
                    fh = open(path, "wb")
                fh.write(encode_block(block))
                bufs = rest
                total -= take

        try:
            for batch in batches:
                if len(batch) == 0:
                    continue
                for k, v in cols_of(batch).items():
                    bufs.setdefault(k, []).append(v)
                total += len(batch)
                encode_ready(flush=False)
            encode_ready(flush=True)
        finally:
            if fh is not None:
                fh.close()
        if fh is not None:
            yield pa.RecordBatch.from_pydict({"path": [path]})

    return run


def _dense_arrow_encoder(history: bool, anonymize: bool, out_dir: str):
    """mapInArrow worker factory for the dense-nodes stream: per
    partition, buffer the Arrow batches' COLUMNS (numpy for the eight
    numeric fields, python lists only for tags/user), cut blocks of
    exactly BLOCK_LIMITS['nodes'] rows (same boundaries as the row
    path), and write the partition's complete blob sequence to one part
    file.  Yields a 1-row batch with the path.

    This is the volume-dominant encoder at planet scale (~90% of bytes
    are dense nodes): column extraction replaces ~10 Python Row field
    reads + list appends per node, and the packers consume int64
    ndarrays directly (no list->array conversion), keeping only the
    string-table loop in Python.
    """

    def cols_of(batch):
        col, vis, hidden, uids, ts = _batch_common(batch, anonymize, "nodes")
        lats_col, lons_col = col("latitude"), col("longitude")
        for c in (lats_col, lons_col):
            if c.null_count:
                mask = c.is_null().to_numpy(zero_copy_only=False).astype(bool)
                if (mask & vis).any():
                    raise ValueError("null coordinate on a visible node")
        # _batch_common's astype() allocated a fresh array (same
        # guarantee lats/lons rely on below), so mutate in place
        uids[hidden] = 0
        lats = _np64(lats_col.fill_null(0))
        lons = _np64(lons_col.fill_null(0))
        lats[~vis] = 0
        lons[~vis] = 0
        return dict(
            ids=_np64(col("id")),
            lats=lats,
            lons=lons,
            versions=_np64(col("version")),
            tss=ts,
            css=_np64(col("changeset_id")),
            uids=uids,
            vis=vis,
            hidden=hidden,
            users=col("user").to_pylist(),
            tags=col("tags").to_pylist(),
        )

    np_keys = ("ids", "lats", "lons", "versions", "tss", "css", "uids",
               "vis", "hidden")

    def encode_block(b):
        return _encode_dense_block(
            b["ids"], b["lats"], b["lons"], b["versions"], b["tss"],
            b["css"], b["uids"], b["vis"], b["users"], b["tags"],
            b["hidden"], history,
        )

    return _arrow_stream_encoder(
        "nodes", cols_of, np_keys, encode_block, out_dir
    )


def _encode_plain_nodes(rows: list, history: bool, anonymize: bool) -> bytes:
    """--dense-nodes=false branch: one ``Node`` message per node
    (pbf_writer.cpp:334-353).  Node.id/lat/lon are sint64 (zigzag), unlike
    Way/Relation ids; invisible nodes write lat=lon=0 and no tags; Info
    omits uid/user_sid for hidden users, exactly like ways."""
    st = _StringTable()
    group = b""
    for r in rows:
        visible = r["visible"]
        msg = pw.field_varint(1, pw.zigzag(r["id"]))
        if visible:
            msg += pw.packed_varints(2, [st(t["k"]) for t in r["tags"]])
            msg += pw.packed_varints(3, [st(t["v"]) for t in r["tags"]])
        msg += pw.field_bytes(4, _info(st, r, history, anonymize))
        msg += pw.field_varint(8, pw.zigzag(r["latitude"] if visible else 0))
        msg += pw.field_varint(9, pw.zigzag(r["longitude"] if visible else 0))
        group += pw.field_bytes(1, msg)
    return _primitive_block(st, group)


def _encode_ways_block(
    ids, versions, tss, css, uids, vis, hidden, users, tags,
    nds_flat, nds_lens, history: bool,
) -> bytes:
    """One ways PrimitiveBlock from COLUMNS — byte-identical to
    :func:`_encode_ways` over the same rows (pinned in
    tests/test_round7_pbf.py).  The volume class is the refs: one
    vectorized delta+zigzag+LEB128 pass packs EVERY way's nds at once
    (protowire.packed_sint64s_segmented, delta restarting per way,
    pbf_writer.cpp:84-90,356-399), and the per-way Info varints are
    pre-encoded for the whole block (varints_np_each); Python touches
    each way only to fill the string table in row order and join the
    pre-cut pieces."""
    st = _StringTable()
    n = len(ids)
    id_b = pw.varints_np_each(ids)
    ver_b = pw.varints_np_each(versions)
    ts_b = pw.varints_np_each(tss)
    cs_b = pw.varints_np_each(css)
    uid_b = pw.varints_np_each(uids)
    ref_b = pw.packed_sint64s_segmented(8, nds_flat, nds_lens)
    ways = bytearray()
    for i in range(n):
        # string table fills in the row path's exact order: a visible
        # row's tag keys, then its tag values, then the user name
        if vis[i]:
            row_tags = tags[i] or ()
            kv = (
                pw.packed_varints(2, [st(t["k"]) for t in row_tags])
                + pw.packed_varints(3, [st(t["v"]) for t in row_tags])
            )
        else:
            kv = b""
        info = b"\x08" + ver_b[i] + b"\x10" + ts_b[i] + b"\x18" + cs_b[i]
        if not hidden[i]:
            info += b"\x20" + uid_b[i] + b"\x28" + pw.varint(st(users[i]))
        if history:
            info += b"\x30" + (b"\x01" if vis[i] else b"\x00")
        msg = (
            b"\x08" + id_b[i] + kv + pw.field_bytes(4, info)
            + (ref_b[i] if vis[i] else b"")
        )
        ways += pw.field_bytes(3, msg)
    return _primitive_block(st, bytes(ways))


def _ways_arrow_encoder(history: bool, anonymize: bool, out_dir: str):
    """mapInArrow worker factory for the ways stream — the dense-nodes
    recipe (pbf_sink._dense_arrow_encoder) applied to the next volume
    class: buffer the Arrow batches' columns (numpy for the numerics,
    the refs as ONE flattened int64 array + per-way lengths, python
    lists only for tags/user), cut blocks of exactly
    BLOCK_LIMITS['ways'] rows (the row path's boundaries), write the
    partition's complete blob sequence to one part file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def cols_of(batch):
        col, vis, hidden, uids, ts = _batch_common(batch, anonymize, "ways")
        nds_col = col("nds")
        if nds_col.null_count:
            nmask = (
                nds_col.is_null().to_numpy(zero_copy_only=False).astype(bool)
            )
            if (nmask & vis).any():
                # the row encoder would crash here too (delta over None);
                # fail loudly instead of silently encoding an empty way
                raise ValueError("null nds on a visible way")
        lens = (
            pc.list_value_length(nds_col)
            .cast(pa.int64())
            .fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        flat = nds_col.flatten().to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        if int(lens.sum()) != len(flat):
            # flatten() and list_value_length must agree on the slot
            # spans or every later way's refs shift silently
            raise ValueError("ways refs flatten/length mismatch")
        # the row encoder emits refs only for visible ways: drop an
        # invisible way's values from the flat stream, zero its length
        if (~vis).any():
            keep = np.repeat(vis, lens)
            flat = flat[keep]
            lens = np.where(vis, lens, 0)
        return dict(
            ids=_np64(col("id")),
            versions=_np64(col("version")),
            tss=ts,
            css=_np64(col("changeset_id")),
            uids=uids,
            vis=vis,
            hidden=hidden,
            nds_flat=flat,
            nds_lens=lens,
            users=col("user").to_pylist(),
            tags=col("tags").to_pylist(),
        )

    np_keys = ("ids", "versions", "tss", "css", "uids", "vis", "hidden",
               "nds_lens")

    def encode_block(b):
        return _encode_ways_block(
            b["ids"], b["versions"], b["tss"], b["css"], b["uids"],
            b["vis"], b["hidden"], b["users"], b["tags"],
            b["nds_flat"], b["nds_lens"], history,
        )

    return _arrow_stream_encoder(
        "ways", cols_of, np_keys, encode_block, out_dir,
        flat_keys=("nds_flat",), lens_key="nds_lens",
    )


def _encode_ways(rows: list, history: bool, anonymize: bool) -> bytes:
    st = _StringTable()
    ways = b""
    for r in rows:
        visible = r["visible"]
        msg = pw.field_varint(1, r["id"])
        if visible:
            msg += pw.packed_varints(2, [st(t["k"]) for t in r["tags"]])
            msg += pw.packed_varints(3, [st(t["v"]) for t in r["tags"]])
        msg += pw.field_bytes(4, _info(st, r, history, anonymize))
        if visible:
            msg += pw.packed_sint64s(8, pw.delta_encode(r["nds"]))
        ways += pw.field_bytes(3, msg)
    return _primitive_block(st, ways)


_MEMBER_TYPE = {"Node": 0, "Way": 1, "Relation": 2}


def _encode_relations_block(
    ids, versions, tss, css, uids, vis, hidden, users, tags,
    mem_roles, mem_ids_flat, mem_types_flat, mem_lens, history: bool,
) -> bytes:
    """One relations PrimitiveBlock from COLUMNS — byte-identical to
    :func:`_encode_relations` over the same rows.  memids (one
    vectorized delta+zigzag+LEB128 pass, delta restarting per relation)
    and member types (one plain-varint pass) pack for the whole block
    at once — the mega-relation volume; roles must thread the per-block
    string table so they stay a per-member Python loop, in the row
    path's exact st() order (tag keys, tag values, user, then roles)."""
    st = _StringTable()
    n = len(ids)
    id_b = pw.varints_np_each(ids)
    ver_b = pw.varints_np_each(versions)
    ts_b = pw.varints_np_each(tss)
    cs_b = pw.varints_np_each(css)
    uid_b = pw.varints_np_each(uids)
    mid_b = pw.packed_sint64s_segmented(9, mem_ids_flat, mem_lens)
    mty_b = pw.packed_varints_segmented(10, mem_types_flat, mem_lens)
    rels = bytearray()
    for i in range(n):
        if vis[i]:
            row_tags = tags[i] or ()
            kv = (
                pw.packed_varints(2, [st(t["k"]) for t in row_tags])
                + pw.packed_varints(3, [st(t["v"]) for t in row_tags])
            )
        else:
            kv = b""
        info = b"\x08" + ver_b[i] + b"\x10" + ts_b[i] + b"\x18" + cs_b[i]
        if not hidden[i]:
            info += b"\x20" + uid_b[i] + b"\x28" + pw.varint(st(users[i]))
        if history:
            info += b"\x30" + (b"\x01" if vis[i] else b"\x00")
        msg = b"\x08" + id_b[i] + kv + pw.field_bytes(4, info)
        if mem_lens[i]:
            msg += (
                pw.packed_varints(8, [st(r) for r in mem_roles[i]])
                + mid_b[i]
                + mty_b[i]
            )
        rels += pw.field_bytes(4, msg)
    return _primitive_block(st, bytes(rels))


def _relations_arrow_encoder(history: bool, anonymize: bool, out_dir: str):
    """mapInArrow worker for the relations stream — the ways recipe with
    THREE member columns: roles stay python lists (string-table bound),
    member ids flatten to one int64 array, member types map to their
    enum ints vectorized (pc.index_in against the label dictionary)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    labels = pa.array(["Node", "Way", "Relation"])

    def cols_of(batch):
        col, vis, hidden, uids, ts = _batch_common(
            batch, anonymize, "relations"
        )
        # NULL members behave like an EMPTY member list even on a
        # visible relation — the row encoder's `members or []`-shaped
        # truthiness check encodes such a relation member-less, and
        # this path is pinned byte-identical to it (unlike ways, where
        # the row path itself crashes on null refs, so the columnar
        # guard there raises to match).  fill_null(0) on the lengths
        # plus flatten() skipping nulls produces exactly that.
        mem_col = col("members")
        lens = (
            pc.list_value_length(mem_col)
            .cast(pa.int64())
            .fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        flat_struct = mem_col.flatten()
        mids = (
            flat_struct.field("member_id")
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        mty_idx = pc.index_in(flat_struct.field("member_type"), labels)
        if mty_idx.null_count:
            raise ValueError("unknown member_type in relations stream")
        mtys = mty_idx.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        roles_all = flat_struct.field("member_role").to_pylist()
        if int(lens.sum()) != len(mids):
            raise ValueError("relations members flatten/length mismatch")
        # the row encoder emits members only for visible relations
        if (~vis).any():
            keep = np.repeat(vis, lens)
            mids, mtys = mids[keep], mtys[keep]
            roles_all = [r for r, k in zip(roles_all, keep) if k]
            lens = np.where(vis, lens, 0)
        # roles re-nested per relation so block cuts slice by row
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        roles = [
            roles_all[offs[i]: offs[i + 1]] for i in range(len(lens))
        ]
        return dict(
            ids=_np64(col("id")),
            versions=_np64(col("version")),
            tss=ts,
            css=_np64(col("changeset_id")),
            uids=uids,
            vis=vis,
            hidden=hidden,
            mem_ids_flat=mids,
            mem_types_flat=mtys,
            mem_lens=lens,
            users=col("user").to_pylist(),
            tags=col("tags").to_pylist(),
            mem_roles=roles,
        )

    np_keys = ("ids", "versions", "tss", "css", "uids", "vis", "hidden",
               "mem_lens")

    def encode_block(b):
        return _encode_relations_block(
            b["ids"], b["versions"], b["tss"], b["css"], b["uids"],
            b["vis"], b["hidden"], b["users"], b["tags"],
            b["mem_roles"], b["mem_ids_flat"], b["mem_types_flat"],
            b["mem_lens"], history,
        )

    return _arrow_stream_encoder(
        "relations", cols_of, np_keys, encode_block, out_dir,
        flat_keys=("mem_ids_flat", "mem_types_flat"), lens_key="mem_lens",
    )


def _encode_relations(rows: list, history: bool, anonymize: bool) -> bytes:
    st = _StringTable()
    rels = b""
    for r in rows:
        visible = r["visible"]
        members = r["members"] if visible else []
        msg = pw.field_varint(1, r["id"])
        if visible:
            msg += pw.packed_varints(2, [st(t["k"]) for t in r["tags"]])
            msg += pw.packed_varints(3, [st(t["v"]) for t in r["tags"]])
        msg += pw.field_bytes(4, _info(st, r, history, anonymize))
        if members:
            msg += pw.packed_varints(8, [st(m["member_role"]) for m in members])
            msg += pw.packed_sint64s(
                9, pw.delta_encode([m["member_id"] for m in members])
            )
            msg += pw.packed_varints(
                10, [_MEMBER_TYPE[m["member_type"]] for m in members]
            )
        rels += pw.field_bytes(4, msg)
    return _primitive_block(st, rels)


_ENCODERS = {
    "nodes": _encode_dense_nodes,
    "ways": _encode_ways,
    "relations": _encode_relations,
}


def _partition_encoder(
    table: str, history: bool, anonymize: bool, out_dir: str, dense_nodes: bool = True
):
    limit = BLOCK_LIMITS[table]
    encode = _ENCODERS[table]
    if table == "nodes" and not dense_nodes:
        encode = _encode_plain_nodes

    def run(idx: int, rows_iter):
        path = os.path.join(out_dir, f"{table}-{idx:05d}.pbfpart")
        wrote = False
        buf: list = []
        fh = None
        try:
            for row in rows_iter:
                if fh is None:
                    fh = open(path, "wb")
                    wrote = True
                buf.append(row)
                if len(buf) >= limit:
                    fh.write(encode(buf, history, anonymize))
                    buf = []
            if fh is not None and buf:
                fh.write(encode(buf, history, anonymize))
        finally:
            if fh is not None:
                fh.close()
        if wrote:
            yield path

    return run


def _rows_arrow_encoder(
    table: str, history: bool, anonymize: bool, out_dir: str
):
    """mapInArrow adapter for the row encoders (the ``--dense-nodes=false``
    nodes stream): feeds each partition's rows, as dicts, to
    :func:`_partition_encoder` and yields its part path."""
    import pyarrow as pa

    encode = _partition_encoder(table, history, anonymize, out_dir, dense_nodes=False)

    def run(batches):
        from pyspark import TaskContext

        rows = (r for b in batches for r in b.to_pylist())
        for path in encode(TaskContext.get().partitionId(), rows):
            yield pa.RecordBatch.from_pydict({"path": [path]})

    return run


_STREAMS = ("nodes", "ways", "relations")


def _part_order(path: str) -> tuple[int, int]:
    """(stream, partition) of a ``{kind}-NNNNN.pbfpart`` file."""
    kind, idx = os.path.basename(path)[: -len(".pbfpart")].rsplit("-", 1)
    return _STREAMS.index(kind), int(idx)


def write_pbf_file(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    out_path: str,
    history: bool = False,
    anonymize: bool = False,
    generator: str = "planet-dump-ng-spark",
    max_ts: datetime | None = None,
    source: str = OSM_API_ORIGIN,
    pre_arranged: bool = False,
    dense_nodes: bool = True,
) -> None:
    """Emit one ordered .osm.pbf: header blob, then nodes, ways, relations
    in (id, version) order (Sort.Type_then_ID).  One job encodes all three
    streams — each range partition its own complete blobs, executor-side —
    and the driver concatenates them into a temporary file that is renamed
    onto ``out_path`` only when complete (``committed``).
    ``pre_arranged``: inputs are already range-sorted (shared across
    output variants) — skip the per-call shuffle."""
    import shutil

    out_dir = out_path + ".parts"
    with committed(out_path, out_dir) as tmp_path:
        os.makedirs(out_dir, exist_ok=True)
        encoders = {
            # columnar Arrow encoders, byte-identical to the row paths
            # (test_round7_pbf); dense nodes are ~90% of planet volume
            "nodes": (
                _dense_arrow_encoder
                if dense_nodes
                else functools.partial(_rows_arrow_encoder, "nodes")
            ),
            "ways": _ways_arrow_encoder,
            "relations": _relations_arrow_encoder,
        }
        streams = []
        for table, df in zip(_STREAMS, (nodes, ways, relations)):
            if not pre_arranged:
                cols = [F.col("id"), F.col("version")]
                df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
            streams.append(
                df.mapInArrow(
                    encoders[table](history, anonymize, out_dir),
                    schema="path string",
                )
            )
        # part names carry stream and partition, so the order holds
        # however the union lays out its partitions
        paths = sorted(
            (r["path"] for r in functools.reduce(DataFrame.union, streams).collect()),
            key=_part_order,
        )
        # stream part files through a bounded buffer (matches xml_sink's
        # fragment concat): a fat range partition at planet scale is a
        # multi-GB file, and part.read() would allocate all of it on the
        # driver at once.
        with open(tmp_path, "wb") as out:
            out.write(
                encode_header_block(generator, history, max_ts, source, dense_nodes)
            )
            for p in paths:
                with open(p, "rb") as part:
                    shutil.copyfileobj(part, out, 1 << 20)


# -- reader (verification path; also a usable source) ------------------------


def read_pbf(path: str) -> dict:
    """Parse a .osm.pbf back into canonical python structures.

    Returns {'header': {...}, 'nodes': [...], 'ways': [...],
    'relations': [...]} with tags as sorted (k, v) tuples — the canonical
    comparison form used by the golden-parity tests.  Handles dense and
    non-dense nodes, zlib or raw blobs.
    """
    header: dict = {}
    nodes: list = []
    ways: list = []
    relations: list = []
    with open(path, "rb") as fh:
        data = fh.read()
    pos = 0
    while pos < len(data):
        (hlen,) = struct.unpack(">i", data[pos : pos + 4])
        pos += 4
        bh = data[pos : pos + hlen]
        pos += hlen
        btype = ""
        dsize = 0
        for field, _, val in pw.iter_fields(bh):
            if field == 1:
                btype = val.decode()
            elif field == 3:
                dsize = val
        blob = data[pos : pos + dsize]
        pos += dsize
        payload = b""
        for field, _, val in pw.iter_fields(blob):
            if field == 1:
                payload = val
            elif field == 3:
                payload = zlib.decompress(val)
        if btype == "OSMHeader":
            header = _parse_header(payload)
        elif btype == "OSMData":
            _parse_block(payload, nodes, ways, relations)
    return {"header": header, "nodes": nodes, "ways": ways, "relations": relations}


def _parse_header(payload: bytes) -> dict:
    out = {"required_features": [], "optional_features": []}
    for field, _, val in pw.iter_fields(payload):
        if field == 4:
            out["required_features"].append(val.decode())
        elif field == 5:
            out["optional_features"].append(val.decode())
        elif field == 16:
            out["writingprogram"] = val.decode()
        elif field == 17:
            out["source"] = val.decode()
        elif field == 32:
            out["replication_ts"] = val
    return out


def _parse_block(payload: bytes, nodes, ways, relations) -> None:
    st: list[str] = []
    groups = []
    granularity, date_gran, lat_off, lon_off = 100, 1000, 0, 0
    for field, _, val in pw.iter_fields(payload):
        if field == 1:
            st = [
                v.decode("utf-8")
                for f2, _, v in pw.iter_fields(val)
                if f2 == 1
            ]
        elif field == 2:
            groups.append(val)
        elif field == 17:
            granularity = val
        elif field == 18:
            date_gran = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val

    def fix(raw: int, off: int) -> int:
        # canonical fixed-point 1e-7 degrees
        return (off + granularity * raw) // 100

    for g in groups:
        for field, _, val in pw.iter_fields(g):
            if field == 1:  # plain Node
                nodes.append(_parse_plain_node(val, st, fix, date_gran))
            elif field == 2:  # DenseNodes
                _parse_dense(val, st, fix, date_gran, nodes)
            elif field == 3:
                ways.append(_parse_way(val, st, date_gran))
            elif field == 4:
                relations.append(_parse_relation(val, st, date_gran))


def _parse_info(val: bytes, st: list[str], date_gran: int) -> dict:
    info = {"version": None, "ts": None, "changeset": None, "uid": None,
            "user": None, "visible": True}
    for f, _, v in pw.iter_fields(val):
        if f == 1:
            info["version"] = v
        elif f == 2:
            info["ts"] = v * date_gran // 1000
        elif f == 3:
            info["changeset"] = v
        elif f == 4:
            info["uid"] = v
        elif f == 5:
            info["user"] = st[v]
        elif f == 6:
            info["visible"] = bool(v)
    return info


def _parse_plain_node(val: bytes, st, fix, date_gran) -> tuple:
    nid = lat = lon = 0
    keys: list[int] = []
    vals: list[int] = []
    info: dict = {}
    for f, _, v in pw.iter_fields(val):
        if f == 1:
            nid = pw.unzigzag(v)  # Node.id is sint64, unlike Way/Relation ids
        elif f == 2:
            keys = pw.unpack_varints(v)
        elif f == 3:
            vals = pw.unpack_varints(v)
        elif f == 4:
            info = _parse_info(v, st, date_gran)
        elif f == 8:
            lat = pw.unzigzag(v)
        elif f == 9:
            lon = pw.unzigzag(v)
    tags = tuple(sorted((st[k], st[vv]) for k, vv in zip(keys, vals)))
    return (
        nid, info.get("version"), info.get("visible", True), info.get("ts"),
        info.get("changeset"), info.get("uid"), info.get("user"),
        fix(lat, 0), fix(lon, 0), tags,
    )


def _parse_dense(val: bytes, st, fix, date_gran, nodes) -> None:
    ids = lats = lons = []
    kvs: list[int] = []
    versions: list[int] = []
    tss: list[int] = []
    css: list[int] = []
    uids: list[int] = []
    sids: list[int] = []
    vis: list[int] | None = None
    for f, _, v in pw.iter_fields(val):
        if f == 1:
            ids = pw.delta_decode(pw.unpack_sint64s(v))
        elif f == 5:
            for f2, _, v2 in pw.iter_fields(v):
                if f2 == 1:
                    versions = pw.unpack_varints(v2)
                elif f2 == 2:
                    tss = pw.delta_decode(pw.unpack_sint64s(v2))
                elif f2 == 3:
                    css = pw.delta_decode(pw.unpack_sint64s(v2))
                elif f2 == 4:
                    uids = pw.delta_decode(pw.unpack_sint64s(v2))
                elif f2 == 5:
                    sids = pw.delta_decode(pw.unpack_sint64s(v2))
                elif f2 == 6:
                    vis = pw.unpack_varints(v2)
        elif f == 8:
            lats = pw.delta_decode(pw.unpack_sint64s(v))
        elif f == 9:
            lons = pw.delta_decode(pw.unpack_sint64s(v))
        elif f == 10:
            kvs = pw.unpack_varints(v)
    kv_pos = 0
    for i, nid in enumerate(ids):
        tags = []
        while kv_pos < len(kvs) and kvs[kv_pos] != 0:
            tags.append((st[kvs[kv_pos]], st[kvs[kv_pos + 1]]))
            kv_pos += 2
        kv_pos += 1
        visible = bool(vis[i]) if vis is not None else True
        uid = uids[i] if i < len(uids) else 0
        user = st[sids[i]] if i < len(sids) and sids[i] else None
        nodes.append(
            (
                nid, versions[i], visible,
                tss[i] * date_gran // 1000 if i < len(tss) else None,
                css[i] if i < len(css) else None,
                uid if uid else None, user,
                fix(lats[i], 0), fix(lons[i], 0), tuple(sorted(tags)),
            )
        )


def _parse_way(val: bytes, st, date_gran) -> tuple:
    wid = 0
    keys: list[int] = []
    vals: list[int] = []
    refs: list[int] = []
    info: dict = {}
    for f, _, v in pw.iter_fields(val):
        if f == 1:
            wid = v
        elif f == 2:
            keys = pw.unpack_varints(v)
        elif f == 3:
            vals = pw.unpack_varints(v)
        elif f == 4:
            info = _parse_info(v, st, date_gran)
        elif f == 8:
            refs = pw.delta_decode(pw.unpack_sint64s(v))
    tags = tuple(sorted((st[k], st[vv]) for k, vv in zip(keys, vals)))
    return (
        wid, info.get("version"), info.get("visible", True), info.get("ts"),
        info.get("changeset"), info.get("uid"), info.get("user"),
        tuple(refs), tags,
    )


_MEMBER_LABEL = {0: "Node", 1: "Way", 2: "Relation"}


def _parse_relation(val: bytes, st, date_gran) -> tuple:
    rid = 0
    keys: list[int] = []
    vals: list[int] = []
    roles: list[int] = []
    memids: list[int] = []
    types: list[int] = []
    info: dict = {}
    for f, _, v in pw.iter_fields(val):
        if f == 1:
            rid = v
        elif f == 2:
            keys = pw.unpack_varints(v)
        elif f == 3:
            vals = pw.unpack_varints(v)
        elif f == 4:
            info = _parse_info(v, st, date_gran)
        elif f == 8:
            roles = pw.unpack_varints(v)
        elif f == 9:
            memids = pw.delta_decode(pw.unpack_sint64s(v))
        elif f == 10:
            types = pw.unpack_varints(v)
    tags = tuple(sorted((st[k], st[vv]) for k, vv in zip(keys, vals)))
    members = tuple(
        (_MEMBER_LABEL[t], m, st[r]) for t, m, r in zip(types, memids, roles)
    )
    return (
        rid, info.get("version"), info.get("visible", True), info.get("ts"),
        info.get("changeset"), info.get("uid"), info.get("user"),
        members, tags,
    )
