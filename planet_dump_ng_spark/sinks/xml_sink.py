"""OSM XML sink (reference operator S7, src/xml_writer.cpp).

Every element renders to its XML fragment as a JVM-side string expression
(format_string / concat / transform — whole-stage codegen, no Python in the
row loop).  Semantics matched against the reference's golden outputs
(test/planet.xml.case etc.) and xml_writer.cpp:

- header <osm> attrs incl. data timestamp (:410-435), fixed <bound> line
- 1-space indent per level; attribute order as the writer emits it
- ISO-8601 Zulu timestamps (:81-123); NULL -> ""
- lat/lon fixed-point 1e-7 -> %.7f (:14,546-547)
- changeset: closed_at only when closed, open flag from closed_at vs the
  global max data timestamp (:454-460); bbox only when all 4 present
  (:474-479); comments_count of visible comments (:487-497)
- history variant adds visible="..."; deleted nodes lose lat/lon and no
  element emits children when invisible (:544-556,575,608)
- no-userinfo variant drops uid/user everywhere incl. comment authorship
  (:377-386,462-472,346-357)
- XML-invalid control chars scrub to '?' (:41-56,293-322); &<>" escape

Single ordered file at scale: fragments are written by one job as
per-partition bzip2 files under a range-partitioned global order, then
byte-concatenated
(multistream .bz2 is valid bzip2) — compression runs cluster-parallel,
unlike the reference's single external ``bzip2 -c`` pipe
(xml_writer.cpp:58-79).
"""

from __future__ import annotations

import bz2
import functools
import os
import shutil
from datetime import datetime

from pyspark.sql import Column, DataFrame, functions as F

from planet_dump_ng_spark.sinks import committed

#: default data metainfo — overridable like the reference's --meta-*
#: options (src/planet-dump.cpp:62-72: meta-author/source/copyleft/
#: attribution with OSM defaults)
OSM_LICENSE = "http://opendatacommons.org/licenses/odbl/1-0/"
OSM_COPYRIGHT = "OpenStreetMap and contributors"
OSM_ATTRIBUTION = "http://www.openstreetmap.org/copyright"
OSM_API_ORIGIN = "http://www.openstreetmap.org/api/0.6"

OSM_HEADER_ATTRS = (
    'license="{license}" '
    'copyright="{copyright}" version="0.6" '
    'generator="{generator}" '
    'attribution="{attribution}" '
    'timestamp="{timestamp}"'
)
BOUND_LINE = ' <bound box="-90,-180,90,180" origin="{origin}"/>'

#: XML 1.0 invalid control chars (allowed: tab, LF, CR) -> '?'
_BADCHAR = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def xml_escape(c: Column, quote: bool = True) -> Column:
    """Escape for attribute (quote=True) or text content, then scrub
    XML-invalid control characters to '?'."""
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    if quote:
        c = F.regexp_replace(c, '"', "&quot;")
    return F.regexp_replace(c, _BADCHAR, "?")


def iso_ts(c: Column) -> Column:
    return F.coalesce(F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'"), F.lit(""))


def degrees(c: Column) -> Column:
    """Fixed-point int 1e-7 -> '%.7f' string (xml_writer.cpp:14,546-547).
    Integer numerators terminate within 7 decimals: rounding is tie-free."""
    return F.format_string("%.7f", c / F.lit(10000000.0))


def _attr(name: str, value: Column) -> Column:
    return F.concat(F.lit(f' {name}="'), value, F.lit('"'))


def _opt(cond: Column, rendered: Column) -> Column:
    return F.when(cond, rendered).otherwise(F.lit(""))


def _user_attrs(anonymize: bool) -> Column:
    """user/uid pair; anonymous (NULL user) or no-userinfo emits neither."""
    if anonymize:
        return F.lit("")
    return _opt(
        F.col("user").isNotNull(),
        F.concat(
            _attr("user", xml_escape(F.col("user"))),
            _attr("uid", F.col("uid").cast("string")),
        ),
    )


def _tag_lines(indent: str) -> Column:
    """Child <tag k v/> lines, already in key-byte order from assembly."""
    return F.aggregate(
        F.col("tags"),
        F.lit(""),
        lambda acc, t: F.concat(
            acc,
            F.lit(f'\n{indent}<tag k="'),
            xml_escape(t["k"]),
            F.lit('" v="'),
            xml_escape(t["v"]),
            F.lit('"/>'),
        ),
    )


def _wrap(open_no_bracket: Column, children: Column, close_tag: str) -> Column:
    """'<x a=.../>' when childless else '<x a=...>...children...\\n </x>'."""
    return F.when(children == "", F.concat(open_no_bracket, F.lit("/>"))).otherwise(
        F.concat(open_no_bracket, F.lit(">"), children, F.lit(f"\n {close_tag}"))
    )


def render_nodes(df: DataFrame, history: bool = False, anonymize: bool = False) -> DataFrame:
    """xml_writer.cpp:536-560: deleted nodes lose lat/lon (:544-556) and
    emit no tags; visible attr only in history outputs."""
    latlon = _opt(
        F.col("visible"),
        F.concat(
            _attr("lat", degrees(F.col("latitude"))),
            _attr("lon", degrees(F.col("longitude"))),
        ),
    )
    open_tag = F.concat(
        F.lit(" <node"),
        _attr("id", F.col("id").cast("string")),
        latlon,
        _attr("timestamp", iso_ts(F.col("timestamp"))),
        _attr("version", F.col("version").cast("string")),
        _attr("changeset", F.col("changeset_id").cast("string")),
        _attr("visible", F.col("visible").cast("string")) if history else F.lit(""),
        _user_attrs(anonymize),
    )
    children = _opt(F.col("visible"), _tag_lines("  "))
    return df.withColumn("xml", _wrap(open_tag, children, "</node>"))


def render_ways(df: DataFrame, history: bool = False, anonymize: bool = False) -> DataFrame:
    """xml_writer.cpp:563-588: <nd ref/> children by sequence order (:576-586),
    suppressed for invisible ways (:575)."""
    open_tag = F.concat(
        F.lit(" <way"),
        _attr("id", F.col("id").cast("string")),
        _attr("timestamp", iso_ts(F.col("timestamp"))),
        _attr("version", F.col("version").cast("string")),
        _attr("changeset", F.col("changeset_id").cast("string")),
        _attr("visible", F.col("visible").cast("string")) if history else F.lit(""),
        _user_attrs(anonymize),
    )
    nd_lines = F.aggregate(
        F.col("nds"),
        F.lit(""),
        lambda acc, r: F.concat(acc, F.lit('\n  <nd ref="'), r.cast("string"), F.lit('"/>')),
    )
    children = _opt(F.col("visible"), F.concat(nd_lines, _tag_lines("  ")))
    return df.withColumn("xml", _wrap(open_tag, children, "</way>"))


def render_relations(df: DataFrame, history: bool = False, anonymize: bool = False) -> DataFrame:
    """xml_writer.cpp:591-630: <member type ref role/> by sequence order
    (:609-625); member_type labels lowercased node/way/relation (:614-620)."""
    open_tag = F.concat(
        F.lit(" <relation"),
        _attr("id", F.col("id").cast("string")),
        _attr("timestamp", iso_ts(F.col("timestamp"))),
        _attr("version", F.col("version").cast("string")),
        _attr("changeset", F.col("changeset_id").cast("string")),
        _attr("visible", F.col("visible").cast("string")) if history else F.lit(""),
        _user_attrs(anonymize),
    )
    member_lines = F.aggregate(
        F.col("members"),
        F.lit(""),
        lambda acc, m: F.concat(
            acc,
            F.lit('\n  <member type="'),
            F.lower(m["member_type"]),
            F.lit('" ref="'),
            m["member_id"].cast("string"),
            F.lit('" role="'),
            xml_escape(m["member_role"]),
            F.lit('"/>'),
        ),
    )
    children = _opt(F.col("visible"), F.concat(member_lines, _tag_lines("  ")))
    return df.withColumn("xml", _wrap(open_tag, children, "</relation>"))


def render_changesets(
    df: DataFrame,
    max_ts: datetime | None,
    anonymize: bool = False,
    discussions: bool = False,
) -> DataFrame:
    """xml_writer.cpp:440-532.  open = closed_at > data timestamp; closed_at
    emitted only when closed (:454-460); bbox only when all four corners are
    present (:474-479); discussion children only in the discussion variant
    (:507-531), comments pre-sorted by created_at with anonymous authorship
    for non-public users (:346-357)."""
    is_closed = (
        F.col("closed_at") <= F.lit(max_ts) if max_ts is not None else F.lit(True)
    )
    closed_open = F.when(
        is_closed,
        F.concat(
            _attr("closed_at", iso_ts(F.col("closed_at"))), F.lit(' open="false"')
        ),
    ).otherwise(F.lit(' open="true"'))
    bbox_present = (
        F.col("min_lat").isNotNull()
        & F.col("max_lat").isNotNull()
        & F.col("min_lon").isNotNull()
        & F.col("max_lon").isNotNull()
    )
    bbox = _opt(
        bbox_present,
        F.concat(
            _attr("min_lat", degrees(F.col("min_lat"))),
            _attr("min_lon", degrees(F.col("min_lon"))),
            _attr("max_lat", degrees(F.col("max_lat"))),
            _attr("max_lon", degrees(F.col("max_lon"))),
        ),
    )
    open_tag = F.concat(
        F.lit(" <changeset"),
        _attr("id", F.col("id").cast("string")),
        _attr("created_at", iso_ts(F.col("created_at"))),
        closed_open,
        _user_attrs(anonymize),
        bbox,
        _attr("num_changes", F.col("num_changes").cast("string")),
        _attr("comments_count", F.col("comments_count").cast("string")),
    )
    children = _tag_lines("  ")
    if discussions:
        comment_lines = F.aggregate(
            F.coalesce(
                F.col("comments"),
                F.array().cast(
                    "array<struct<created_at:timestamp,author_id:bigint,"
                    "author_name:string,body:string>>"
                ),
            ),
            F.lit(""),
            # a comment whose author is not a public user is skipped
            # entirely ("Ignoring", xml_writer.cpp:513-519) — in both
            # userinfo modes; it still counts in comments_count.
            lambda acc, c: F.when(c["author_name"].isNull(), acc).otherwise(
                F.concat(
                    acc,
                    F.lit("\n   <comment"),
                    (
                        F.lit("")
                        if anonymize
                        else F.concat(
                            _attr("uid", c["author_id"].cast("string")),
                            _attr("user", xml_escape(c["author_name"])),
                        )
                    ),
                    _attr("date", iso_ts(c["created_at"])),
                    F.lit(">\n    <text>"),
                    xml_escape(c["body"], quote=False),
                    F.lit("</text>\n   </comment>"),
                )
            ),
        )
        discussion = _opt(
            F.col("comments_count") > 0,
            F.concat(
                F.lit("\n  <discussion>"), comment_lines, F.lit("\n  </discussion>")
            ),
        )
        children = F.concat(children, discussion)
    return df.withColumn("xml", _wrap(open_tag, children, "</changeset>"))


def format_osm_header(
    generator: str, max_ts: datetime | None, meta: dict | None = None
) -> str:
    """``meta`` overrides {license, copyright, attribution, source}
    (the reference's --meta-copyleft/-author/-attribution/-source)."""
    meta = meta or {}
    ts = max_ts.strftime("%Y-%m-%dT%H:%M:%SZ") if max_ts else ""
    attrs = OSM_HEADER_ATTRS.format(
        generator=generator,
        timestamp=ts,
        license=meta.get("license", OSM_LICENSE),
        copyright=meta.get("copyright", OSM_COPYRIGHT),
        attribution=meta.get("attribution", OSM_ATTRIBUTION),
    )
    bound = BOUND_LINE.format(origin=meta.get("source", OSM_API_ORIGIN))
    return f'<?xml version="1.0" encoding="UTF-8"?>\n<osm {attrs}>\n{bound}\n'


def write_xml_file(
    rendered_in_order: list[tuple[DataFrame, list[str]]],
    out_path: str,
    generator: str = "planet-dump-ng-spark",
    max_ts: datetime | None = None,
    tmp_dir: str | None = None,
    pre_arranged: bool = False,
    meta: dict | None = None,
    compress_command: str | None = None,
) -> None:
    """Assemble the single ordered .osm(.bz2) file.

    ``rendered_in_order``: [(df_with_xml_col, sort_cols)] in output stream
    order (changesets, nodes, ways, relations — planet-dump.cpp:242-249).
    Each frame is range-partitioned + sorted on its keys; one job writes
    all of them as per-partition bz2 part files (global order = stream
    order, then partition-range order); the driver then streams header +
    parts + footer into one multistream .bz2 (or plain text when out_path
    lacks the .bz2 suffix).  The file is written under a temporary name
    and renamed onto ``out_path`` only when complete (``committed``).

    ``pre_arranged``: the caller already range-partitioned + sorted the
    frames (and typically persisted them so several output variants share
    one sort) — skip the per-call shuffle.
    """
    # multistream concatenation is legal for BOTH formats: bzip2 streams
    # and gzip members (RFC 1952 §2.2) concatenate into one valid file,
    # so per-partition executor-compressed parts + driver-side pure-I/O
    # concat covers the reference's two usual --compress-command targets.
    # Any OTHER compress_command (or a recognized one whose format does
    # not match the suffix-selected codec) falls back to the reference's
    # exact behavior (xml_writer.cpp:58-79): plain fragments, one
    # driver-side subprocess of the user's command over the concat.
    codec = (
        "bzip2"
        if out_path.endswith(".bz2")
        else "gzip" if out_path.endswith(".gz") else None
    )
    # dispatch rule: the two executor-parallel families (bzip2/gzip)
    # keep the engine's documented suffix-selected contract (a plain
    # suffix means plain text even under the default ``-c 'bzip2 -c'``,
    # and the CLI cross-check already rejects a contradicting suffix);
    # every OTHER command — an arbitrary filter, or a recognized
    # compressor with no executor-side codec (zstd/xz) — pipes the
    # plain concat through the user's command, the reference's popen
    # behavior.
    external: str | None = None
    if compress_command is not None:
        from planet_dump_ng_spark.cli import compressor_family

        fam = compressor_family(compress_command)
        if fam not in ("bz2", "gz"):
            external = compress_command
            codec = None
    tmp_dir = tmp_dir or out_path + ".parts"

    with committed(out_path, tmp_dir) as tmp_path:
        # one job for the whole file: the fragment streams, each cut to
        # its xml column, unioned in output order.  Union partitions
        # follow the children in order — the projection drops the sort
        # keys, so no child reports a partitioning that Spark's
        # unionOutputPartitioning could zip with a sibling's.
        streams = []
        for df, sort_cols in rendered_in_order:
            if not pre_arranged:
                cols = [F.col(c) for c in sort_cols]
                df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
            streams.append(df.select("xml"))
        writer = functools.reduce(DataFrame.union, streams).write.mode("overwrite")
        if codec:
            writer = writer.option("compression", codec)
        writer.text(tmp_dir)
        suffix = {"bzip2": ".bz2", "gzip": ".gz"}.get(codec, "")
        parts = sorted(
            n
            for n in os.listdir(tmp_dir)
            if n.startswith("part-") and n.endswith(f".txt{suffix}")
        )

        def comp(data: bytes) -> bytes:
            if codec == "bzip2":
                return bz2.compress(data)
            if codec == "gzip":
                import gzip

                # mtime=0: deterministic member bytes (gzip headers embed
                # a timestamp; golden compares decompress first, but
                # identical reruns should still produce identical files)
                return gzip.compress(data, mtime=0)
            return data

        def concat_into(sink) -> None:
            sink.write(comp(format_osm_header(generator, max_ts, meta).encode()))
            for n in parts:
                with open(os.path.join(tmp_dir, n), "rb") as part:
                    shutil.copyfileobj(part, sink, 1 << 20)
            sink.write(comp(b"</osm>\n"))

        with open(tmp_path, "wb") as out:
            if external is None:
                concat_into(out)
            else:
                _pipe_through(external, concat_into, out, out_path)


def _pipe_through(command: str, concat_into, out, out_path: str) -> None:
    """The reference's popen(compress_command) shape: the user's own
    command, shell semantics and all, fed the plain concat on stdin with
    the output file on stdout."""
    import subprocess

    proc = subprocess.Popen(command, shell=True, stdin=subprocess.PIPE, stdout=out)
    try:
        # a command that dies mid-stream breaks the pipe; swallow that
        # here so the loud diagnostic below (with the exit code) is what
        # the caller sees, not a bare EPIPE
        try:
            concat_into(proc.stdin)
        except BrokenPipeError:
            pass
    finally:
        try:
            proc.stdin.close()
        except BrokenPipeError:
            pass
    if proc.wait() != 0:
        raise RuntimeError(
            f"--compress-command {command!r} exited "
            f"{proc.returncode} for {out_path!r}"
        )
