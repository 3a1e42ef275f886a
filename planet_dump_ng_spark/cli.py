"""Command-line entry point mirroring the reference's flag surface
(src/planet-dump.cpp:27-114).

    python -m planet_dump_ng_spark.cli \\
        --dump-file liechtenstein.sql \\
        --xml planet.osm.bz2 --history-pbf history.osm.pbf

Differences from the reference, by design:
- ``--dump-file`` takes a plain-format dump (``pg_restore -f -`` output)
  or, named ``*.dmp``, a custom-format archive, which is extracted by
  one ``pg_restore -a -t <table>`` subprocess per table, all concurrent
  (``sources.extract_tables_parallel``; needs pg_restore on PATH).
- ``--compress-command``: bzip2/gzip-family commands whose format
  matches the output suffix run cluster-parallel inside the XML sink
  (multistream bz2 / multi-member gz — no shell in the executors); any
  OTHER command falls back to the reference's exact behavior
  (xml_writer.cpp:58-79): plain fragments are concatenated through ONE
  driver-side subprocess of the user's command.  A known compressor
  family that CONTRADICTS an output suffix (e.g. ``gzip -c`` with a
  .bz2 path) is rejected loudly instead of silently mis-encoding.
- ``--max-concurrency`` maps to shuffle partitions (the Spark analog of
  per-table sort threads).
- ``--resume`` reuses the staged per-table parquet (operator S9) instead
  of re-splitting/re-parsing the dump.
"""

from __future__ import annotations

import argparse
import sys

from planet_dump_ng_spark import pipeline
from planet_dump_ng_spark.session import get_spark

#: (flag, kind, anonymize) — one output file per supplied flag, matching
#: the reference's writer list construction (planet-dump.cpp:180-240).
OUTPUT_FLAGS = [
    ("xml", "planet", False),
    ("xml_no_userinfo", "planet", True),
    ("history_xml", "history", False),
    ("history_xml_no_userinfo", "history", True),
    ("pbf", "pbf", False),
    ("pbf_no_userinfo", "pbf", True),
    ("history_pbf", "pbf-history", False),
    ("history_pbf_no_userinfo", "pbf-history", True),
    ("changesets", "changesets", False),
    ("changesets_no_userinfo", "changesets", True),
    ("changeset_discussions", "discussions", False),
    ("changeset_discussions_no_userinfo", "discussions", True),
]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="planet-dump-ng-spark",
        description="Convert an OpenStreetMap database dump to planet files.",
    )
    p.add_argument("--dump-file", "-f", required=True,
                   help="plain-format pg dump, or a custom-format archive named *.dmp")
    p.add_argument(
        "--dense-nodes",
        "-d",
        type=_parse_bool,
        default=True,
        metavar="BOOL",
        help="use dense nodes for PBF output (default true)",
    )
    p.add_argument("--work-dir", default=None, help="staging dir (default: <dump>.work)")
    p.add_argument("--generator", default="planet-dump-ng-spark")
    p.add_argument("--resume", action="store_true", help="reuse staged tables")
    p.add_argument("--max-concurrency", type=int, default=32, help="shuffle partitions")
    p.add_argument("--xml", "-x")
    p.add_argument("--history-xml", "-X")
    p.add_argument("--pbf", "-p")
    p.add_argument("--history-pbf", "-P")
    p.add_argument("--changesets", "-C")
    p.add_argument("--changeset-discussions", "-D")
    p.add_argument("--xml-no-userinfo")
    p.add_argument("--history-xml-no-userinfo")
    p.add_argument("--pbf-no-userinfo")
    p.add_argument("--history-pbf-no-userinfo")
    p.add_argument("--changesets-no-userinfo")
    p.add_argument("--changeset-discussions-no-userinfo")
    # data metainfo overrides (reference: planet-dump.cpp:62-72)
    p.add_argument("--meta-author", help="copyright attr override")
    p.add_argument("--meta-source", help="bound origin / PBF source override")
    p.add_argument("--meta-copyleft", help="license attr override")
    p.add_argument("--meta-attribution", help="attribution attr override")
    p.add_argument(
        "--meta-file", "-M", help="data metainfo configuration file (key=value)"
    )
    p.add_argument(
        "--compress-command",
        "-c",
        default="bzip2 -c",
        help="compression filter (reference planet-dump.cpp:34-35); "
        "bzip2/gzip matching the output suffix run cluster-parallel in "
        "the sink, anything else pipes the driver-side concat through "
        "the command",
    )
    return p


#: program basename -> compressed-format family (for the parallel fast
#: path and the suffix cross-check)
_COMPRESSOR_FAMILY = {
    "bzip2": "bz2",
    "pbzip2": "bz2",
    "lbzip2": "bz2",
    "gzip": "gz",
    "pigz": "gz",
    "zstd": "zst",
    "xz": "xz",
    "lzma": "xz",
}

_SUFFIX_FAMILY = {"bz2": "bz2", "gz": "gz", "zst": "zst", "xz": "xz"}


def compressor_family(cmd: str) -> str | None:
    """Format family of a compressor command's program, or None when the
    program is not a recognized compressor (an arbitrary filter)."""
    prog = (cmd or "").strip().split()
    return None if not prog else _COMPRESSOR_FAMILY.get(prog[0].rsplit("/", 1)[-1])


def check_compress_command(cmd: str, xml_paths: tuple[str, ...] | list[str] = ()) -> None:
    """Validate --compress-command against the XML output paths.

    Empty commands are rejected (nothing to pipe through).  When the
    command's program is a RECOGNIZED compressor, its format family must
    not contradict any XML output path whose suffix implies a different
    known family — ``gzip -c`` with a ``.bz2`` output would silently
    write gzip bytes under a bzip2 name (the mis-encode the reference's
    free-form popen allows; rejected loudly here).  Unrecognized
    commands pass: the sink pipes the plain concat through them
    verbatim, the reference's exact behavior (xml_writer.cpp:58-79),
    and the bytes are whatever the user's filter emits."""
    if not (cmd or "").strip():
        raise SystemExit(
            "--compress-command must be a non-empty command to pipe through"
        )
    fam = compressor_family(cmd)
    if fam is None:
        return
    for path in xml_paths:
        sfam = _SUFFIX_FAMILY.get(path.rsplit(".", 1)[-1].lower())
        if sfam is not None and sfam != fam:
            raise SystemExit(
                f"--compress-command {cmd!r} writes {fam} bytes but output "
                f"{path!r} implies {sfam}: refusing to mis-encode (rename "
                "the output or change the command)"
            )


def _parse_bool(s: str) -> bool:
    """boost::program_options bool_switch value grammar
    (accepts the same spellings the reference's -d flag does)."""
    v = s.strip().lower()
    if v in ("1", "true", "yes", "on"):
        return True
    if v in ("0", "false", "no", "off"):
        return False
    raise argparse.ArgumentTypeError(f"invalid bool: {s!r}")


#: meta-file key -> meta dict key (same mapping as the CLI flags)
_META_KEYS = {
    "meta-author": "copyright",
    "meta-source": "source",
    "meta-copyleft": "license",
    "meta-attribution": "attribution",
}


def parse_meta_file(path: str) -> dict:
    """Parse the --meta-file config (reference planet-dump.cpp:105-114:
    boost parse_config_file — ``key = value`` lines, ``#`` comments).

    Returns a meta dict with the same keys meta_from_args produces.
    Unknown keys error, matching boost's strict option registry."""
    out: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for lineno, raw in enumerate(fh, 1):
            line = raw.split("#", 1)[0].strip()
            if not line or (line.startswith("[") and line.endswith("]")):
                continue  # section headers don't apply to our flat keys
            if "=" not in line:
                raise ValueError(f"{path}:{lineno}: expected key=value, got {raw!r}")
            k, v = (s.strip() for s in line.split("=", 1))
            if k not in _META_KEYS:
                raise ValueError(f"{path}:{lineno}: unknown metainfo key {k!r}")
            out[_META_KEYS[k]] = v
    return out


def meta_from_args(args: argparse.Namespace) -> dict:
    # boost po::store keeps the first-stored value, so explicit CLI flags
    # beat --meta-file entries (planet-dump.cpp:105-114): start from the
    # file and let flags overwrite.
    out = (
        parse_meta_file(args.meta_file)
        if getattr(args, "meta_file", None)
        else {}
    )
    for flag, key in _META_KEYS.items():
        v = getattr(args, flag.replace("-", "_"), None)
        if v:
            out[key] = v
    return out


def outputs_from_args(args: argparse.Namespace) -> list[pipeline.OutputSpec]:
    outs = []
    for attr, kind, anon in OUTPUT_FLAGS:
        path = getattr(args, attr, None)
        if path:
            outs.append(pipeline.OutputSpec(path, kind, anonymize=anon))
    return outs


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    outputs = outputs_from_args(args)
    check_compress_command(
        args.compress_command,
        [o.path for o in outputs if not o.kind.startswith("pbf")],
    )
    if not outputs:
        print("at least one output flag is required", file=sys.stderr)
        return 2  # mirrors the reference's usage error (planet-dump.cpp:92-98)
    spark = get_spark("planet-dump-ng-spark", shuffle_partitions=args.max_concurrency)
    work_dir = args.work_dir or args.dump_file + ".work"
    pipeline.run_dump(
        spark,
        args.dump_file,
        outputs,
        work_dir,
        generator=args.generator,
        resume=args.resume,
        meta=meta_from_args(args),
        dense_nodes=args.dense_nodes,
        compress_command=args.compress_command,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
