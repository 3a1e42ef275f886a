"""Output checks.  Each check returns ``(failures, digest, stats)``:
``failures`` lists what is wrong (empty when the output is correct),
``digest`` fingerprints the decoded content so runs of one seed can be
compared, and ``stats`` carries sizes the traced run reports."""

from __future__ import annotations

import bz2
import hashlib
import json
import os


def xml_output(path: str, kind: str, truth: dict, anonymize: bool = False):
    """Counts a multistream ``.bz2`` OSM XML file's elements against the
    ground truth; a no-userinfo variant must carry no ``uid=``/``user=``."""
    failures = []
    with open(path, "rb") as fh:
        raw = fh.read()
    data = bz2.decompress(raw)
    hist = kind == "history"
    view = "history" if hist else "current"
    expect = {b"\n <changeset ": truth["changesets"]["count"]}
    attributed = truth["changesets"]["attributed"]
    if kind in ("planet", "history"):
        for t, tag in (("nodes", b"\n <node "), ("ways", b"\n <way "),
                       ("relations", b"\n <relation ")):
            expect[tag] = truth[t][view]
            attributed += truth[t][f"{view}_attributed"]
    for tag, n in expect.items():
        got = data.count(tag)
        if got != n:
            failures.append(f"{os.path.basename(path)}: {got} x {tag.strip()!r}, expected {n}")
    n_user = data.count(b' user="')
    if anonymize and (n_user or b' uid="' in data):
        failures.append(f"{os.path.basename(path)}: user info in a no-userinfo output")
    if not anonymize and n_user != attributed:
        failures.append(f"{os.path.basename(path)}: {n_user} attributed, expected {attributed}")
    if not data.endswith(b"</osm>\n"):
        failures.append(f"{os.path.basename(path)}: truncated document")
    stats = {"xml_bytes": len(data), "bz2_bytes": len(raw)}
    return failures, hashlib.sha256(data).hexdigest(), stats


def pbf_output(path: str, history: bool, truth: dict):
    """Decodes a PBF file with ``sinks.pbf_sink.read_pbf`` and counts its
    elements.  The digest is over the decoded content, not the file bytes:
    compressed block sizes differ from run to run."""
    from planet_dump_ng_spark.sinks.pbf_sink import read_pbf

    decoded = read_pbf(path)
    view = "history" if history else "current"
    failures = []
    for t in ("nodes", "ways", "relations"):
        got, n = len(decoded[t]), truth[t][view]
        if got != n:
            failures.append(f"{os.path.basename(path)}: {got} {t}, expected {n}")
    digest = hashlib.sha256(repr(decoded).encode()).hexdigest()
    return failures, digest, {"pbf_bytes": os.path.getsize(path)}


def curated_dataset(spark, dataset_dir: str, report, inc_report, appended: int,
                    curated_rows: int, planted: dict):
    """A curated dataset must hold each ``doc_id`` once, no two docs with
    the same dedup fingerprint, no planted contaminated doc, and exactly the
    rows curate plus the increment reported.  The digest covers the stage
    counts and the surviving ids, which must repeat for a seed."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(dataset_dir)
        .select("doc_id", "split", F.lower(F.regexp_replace("text", r"\s+", " ")).alias("fp"))
        .collect()
    )
    failures = []
    ids = [r.doc_id for r in rows]
    if len(ids) != len(set(ids)):
        failures.append(f"{len(ids) - len(set(ids))} doc_id(s) appear twice")
    fps = [r.fp.strip() for r in rows]
    if len(fps) != len(set(fps)):
        failures.append(f"{len(fps) - len(set(fps))} exact duplicate(s) survived")
    dirty = set(planted["contaminated"]) & set(ids)
    if dirty:
        failures.append(f"{len(dirty)} contaminated doc(s) survived")
    if len(ids) != curated_rows + appended:
        failures.append(f"{len(ids)} rows, expected {curated_rows} + {appended} appended")
    content = {
        "curate": report.stages,
        "increment": inc_report.stages,
        "ids": sorted((r.split, r.doc_id) for r in rows),
    }
    digest = hashlib.sha256(json.dumps(content).encode()).hexdigest()
    return failures, digest, {}


class DigestBook:
    """Decoded-output digests per seed, kept in a file in the checkout so
    every run of a seed is compared with the first one."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.known = {}
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                self.known = json.load(fh)

    def check(self, output: str, digest: str) -> list[str]:
        if not digest:  # undecodable: already a failure, nothing to record
            return []
        first = self.known.setdefault(output, digest)
        return [] if first == digest else [f"{output}: decoded content differs from an earlier run"]

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(self.known, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
