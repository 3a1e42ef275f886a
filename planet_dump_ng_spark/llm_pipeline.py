"""End-to-end training-data curation: the composed pipeline a user runs
over a raw document corpus, chaining the engine's operators into the
standard curation sequence:

    raw docs
      -> exact dedup (first-occurrence survivors)
      -> near-dup removal (MinHash-LSH candidates, exact-Jaccard verify,
         keep the smallest doc id per dup pair)
      -> optional semantic dedup (SemDeDup: IVF-cell-blocked embedding
         cosine, lowest id per near-dup group survives)
      -> benchmark-contamination filter (containment vs an eval set)
      -> PII scrub (mask emails/IPs/long digit runs/phones — a
         transform, not a filter)
      -> quality filter (token count / stopword / punctuation bands
         + Gopher-style repetition gates)
      -> optional weighted source mixing (per-source keep fractions)
      -> deterministic xxhash split + partitioned parquet materialization
      -> optional sequence-packing manifest for the train split
         (global token offsets in deterministic order)

Every stage is an operator of ``operators/``; this module only
wires them.  Scale shape: stages communicate through DataFrames (no
driver materialization); the only collect is the final per-split
manifest.  Each stage logs its row attrition so a curation run is
auditable — silent data loss is the cardinal sin of training pipelines.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from planet_dump_ng_spark.operators import dedup as dd
from planet_dump_ng_spark.operators import text as tx
from planet_dump_ng_spark.operators.dataset import (
    materialize_splits,
    pack_contiguous,
    read_split,
)
from planet_dump_ng_spark.operators.sampling import weighted_mix


@dataclass
class CurationReport:
    """Row counts entering each stage, in order — the attrition audit.

    ``tokens`` carries the parallel per-stage TOKEN mass: doc counts
    alone under-report stages that rewrite text (span dedup excises
    boilerplate from surviving pages — the docs column barely moves
    while the token column shows exactly what was cut).

    ``phase_s`` carries wall seconds per pipeline section (both
    :func:`curate` and :func:`curate_increment` record them, one entry
    per stage checkpoint plus the setup, probe and write sections) —
    the attribution that turns "the increment got slower" into "the LSH
    probe got slower"."""

    stages: list[tuple[str, int]] = field(default_factory=list)
    tokens: list[tuple[str, int]] = field(default_factory=list)
    phase_s: dict[str, float] = field(default_factory=dict)
    #: concrete LSH emission mode the run used ("pairs"/"star") — under
    #: lsh_mode="auto" this is the probe's decision, and lsh_auto_widest
    #: carries the evidence (the widest LSH bucket the probe saw).
    lsh_mode_resolved: str | None = None
    lsh_auto_widest: int | None = None

    def log(self, stage: str, n: int, n_tokens: int | None = None) -> None:
        self.stages.append((stage, n))
        if n_tokens is not None:
            self.tokens.append((stage, n_tokens))


def _dedup_artifact_dir(dataset_dir: str) -> str:
    return dataset_dir.rstrip("/") + "_dedup"


def _dsir_model_dir(dataset_dir: str) -> str:
    return dataset_dir.rstrip("/") + "_dsir"


def _lm_model_dir(dataset_dir: str) -> str:
    """The frozen bigram-LM artifact a ``max_surprisal_bits`` dataset
    persists beside itself (operators.lm.write_bigram_lm) — the
    surprisal twin of the ``_dsir`` domain model."""
    return dataset_dir.rstrip("/") + "_lm"


def _pindex_dir(dataset_dir: str) -> str:
    """The corpus prefix-index artifact a ``near_dedup="exact"`` dataset
    persists beside itself (operators.dedup.write_prefix_index) — the
    exact twin of the ``_dedup`` LSH bucket artifact."""
    return dataset_dir.rstrip("/") + "_pindex"


#: the ONE definition of the dedup probe geometry — artifact writer and
#: increment prober both read these, so they can never silently diverge
#: (divergent band params would make every LSH probe miss and quietly
#: disable near-dedup; the meta.json header below catches an artifact
#: written by different code).
_DEDUP_LSH = {"num_hashes": 64, "bands": 16, "k": 3, "seed": 42}
_DEDUP_META = {
    "format": "dedup-artifact-v1",
    "fingerprint": "md5-casefold-ws-collapse",
    **_DEDUP_LSH,
}


def _write_dedup_artifact(
    docs: DataFrame,
    dataset_dir: str,
    mode: str = "overwrite",
    extra_meta: dict | None = None,
    max_bucket: int | None = None,
    include_buckets: bool = True,
    buckets: DataFrame | None = None,
    url_col: str | None = None,
    concurrent_extra=None,
) -> None:
    """Persist the dataset's dedup probe tables beside it — the corpus
    fingerprint set (16-byte digests) and the LSH bucket table
    ``(id, band, bh)`` — plus a ``meta.json`` header recording the
    probe geometry (the same header discipline as the BM25 and
    tokenizer artifacts: a prober must never have to guess the band
    parameters, because mismatched bands make every probe miss
    SILENTLY).  Built
    once per curation (one survivor-sized pass) so every later
    increment probes these artifacts instead of re-deriving
    corpus-sized signatures per batch; increments APPEND their own
    survivors, keeping the artifact exactly in step with the dataset.

    ``include_buckets=False`` (near_dedup="exact" datasets) skips the
    LSH bucket table — those datasets probe the ``_pindex`` prefix
    artifact instead, so the corpus-sized signature pass would be pure
    waste; the fingerprint commit-marker discipline is unchanged.

    Write order is the crash-safety contract: META first, BUCKETS next,
    URLS next (``url_col`` datasets only — the canonical-URL hash
    table increments probe), FINGERPRINTS last, because the
    stale-artifact repair in
    :func:`curate_increment` uses the fingerprint row count as the
    commit marker (write the idempotence key last).  A crash anywhere
    before the fingerprints append leaves the fingerprint count short
    (or the table absent), which the next increment detects and
    repairs by rebuild; writing fingerprints earlier would let the
    count check pass with the
    buckets table silently missing rows (every later LSH probe would
    miss those docs' near-dups) or with the meta header — and its
    recorded split fractions — missing, so later increments would
    inherit nothing and mis-split with defaults.

    ``extra_meta`` records curation-level parameters (split fractions,
    leakage_free) on a fresh write; appends never rewrite an existing
    header, so the original curation's record survives increments.

    ``max_bucket`` bakes the representative cap into the bucket table
    at build time (operators.dedup.cap_lsh_buckets: the ``max_bucket``
    smallest ids per (band, bh)), the once-at-build discipline
    cap_lsh_buckets documents — probes then meet O(cap) rows per bucket
    with NO per-probe re-rank.  On appends the cap applies within the
    appended batch; the probe side re-caps the union (cheap: already
    near-capped) so cross-append accumulation stays bounded, and
    dedup_compact restores the exact global smallest-id invariant.

    ``concurrent_extra``: an independent sibling-artifact build (the
    exact family's ``write_prefix_index``) to overlap with this
    artifact's writes; it must COMPLETE before the fingerprints commit
    and the ``_synced`` marker, so the marker's "everything landed"
    meaning is unchanged.

    CONCURRENCY vs the crash contract: the independent tables write in
    parallel (each is its own Spark job chain; at bench scale the phase
    wall is job-launch latency, and on a cluster the concurrent jobs
    back-fill each other's stragglers — guide §2.6).  The commit-marker
    ORDER is preserved structurally: in overwrite mode the old
    fingerprints table is DELETED first and the new one builds in a
    sibling ``fingerprints.build`` dir, renamed into place strictly
    after every other write completes — so every crash window leaves
    the artifact fingerprint-less (the stale state curate_increment
    rebuilds from), which is strictly SAFER than the old sequential
    shape, where a re-curate crash mid-buckets left the PREVIOUS
    same-count fingerprints table in place to vouch for half-written
    buckets.  Append mode cannot commit by rename, so there the
    fingerprints append stays strictly last (buckets ∥ urls still
    overlap — a crash between them leaves the fingerprint count short
    either way)."""
    import json
    import os
    import shutil

    from planet_dump_ng_spark.session import run_side_by_side

    d = _dedup_artifact_dir(dataset_dir)
    os.makedirs(d, exist_ok=True)
    meta_path = f"{d}/meta.json"
    if mode == "overwrite" or not os.path.exists(meta_path):
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump({**_DEDUP_META, **(extra_meta or {})}, fh)

    def _write_buckets() -> None:
        if not include_buckets:
            # near_dedup="exact" datasets probe the _pindex artifact
            # instead and skip this corpus-sized signature pass entirely
            return
        # ``buckets``: a precomputed _DEDUP_LSH bucket table of exactly
        # ``docs`` (the increment passes its already-materialized batch
        # buckets semi-joined to the survivors, so the dominant
        # per-batch cost — the signature map — runs once per increment,
        # not twice)
        bkt = (
            buckets
            if buckets is not None
            else dd.lsh_buckets(docs, **_DEDUP_LSH)
        )
        if max_bucket is not None:
            bkt = dd.cap_lsh_buckets(bkt, max_bucket)
        bkt.write.mode(mode).parquet(f"{d}/buckets")

    def _write_urls() -> None:
        if url_col is None:
            return
        # canonical-URL fingerprint table (url_col datasets): what each
        # increment batch anti-joins against instead of
        # re-canonicalizing the corpus.  Lands BEFORE the fingerprints
        # commit so the commit-marker order holds.
        _url_hashes(docs, url_col).write.mode(mode).parquet(f"{d}/urls")

    fp_df = docs.select(
        F.col("doc_id"), tx.fingerprint("text").alias("fp")
    )
    extras = {"concurrent_extra": concurrent_extra} if concurrent_extra else {}
    if mode == "overwrite":
        fp_tmp = f"{d}/fingerprints.build"
        shutil.rmtree(f"{d}/fingerprints", ignore_errors=True)
        shutil.rmtree(fp_tmp, ignore_errors=True)
        run_side_by_side(docs.sparkSession, {
            "buckets": _write_buckets,
            "urls": _write_urls,
            "fingerprints": lambda: fp_df.write.mode("overwrite").parquet(fp_tmp),
            **extras,
        })
        os.rename(fp_tmp, f"{d}/fingerprints")
    elif include_buckets or url_col is not None:
        run_side_by_side(
            docs.sparkSession, {"buckets": _write_buckets, "urls": _write_urls, **extras}
        )
        fp_df.write.mode(mode).parquet(f"{d}/fingerprints")
    else:
        # exact-family append: no same-directory table precedes the
        # commit-marker append, and the concurrent_extra (the prefix
        # index) carries its OWN header + n_docs crash check that
        # curate_increment's stale pass validates independently — so
        # the fingerprints append may overlap it; _synced still lands
        # only after both complete
        run_side_by_side(docs.sparkSession, {
            **extras,
            "fingerprints": lambda: fp_df.write.mode(mode).parquet(f"{d}/fingerprints"),
        })
    # known-clean marker, written strictly after the commit-marker table:
    # its presence lets the next increment skip the dataset-vs-artifact
    # count check entirely (curate_increment deletes it before every
    # dataset append, so any crash window falls back to the full check)
    with open(f"{d}/_synced", "w", encoding="utf-8") as fh:
        fh.write("{}")


def _check_dedup_meta(art: str) -> None:
    """Raise if an artifact's recorded geometry contradicts this
    code's probe parameters (pre-header artifacts pass)."""
    import json
    import os

    path = f"{art}/meta.json"
    if not os.path.exists(path):
        return
    with open(path, encoding="utf-8") as fh:
        meta = json.load(fh)
    mismatched = {
        k: (meta.get(k), v) for k, v in _DEDUP_META.items()
        if meta.get(k) != v
    }
    if mismatched:
        raise ValueError(
            f"dedup artifact {art} was written with different probe "
            f"geometry {mismatched} — probing it with this build would "
            "silently miss every candidate; re-run a full curation to "
            "rebuild it"
        )


def _read_dedup_meta(art: str) -> dict:
    """The artifact's recorded header, {} when absent (pre-header
    artifacts and artifact-less datasets)."""
    import json
    import os

    path = f"{art}/meta.json"
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def dedup_compact(spark, dataset_dir: str) -> dict:
    """Rewrite the ``<dataset>_dedup`` probe tables at full width — the
    maintenance pass for an artifact grown by many ``curate_increment``
    appends (each append leaves a handful of small parquet files; probe
    scan cost becomes file-count-bound).  Content untouched: same rows,
    so increments probe identically before and after (pinned in tests).
    Fingerprints range-shard on doc_id and buckets on (band, bh) — the
    probe join keys, so file min/max stats stay selective.  The rewrite
    lands in a sibling ``.compact`` directory and swaps in via a
    two-rename (``src`` -> ``.old``, ``.compact`` -> ``src``) with a
    recovery preamble, so every crash window is self-healing on the
    next call: a crash between the renames leaves ``.old`` holding the
    live table and ``src`` absent — the preamble renames it back; a
    crash after the swap but before cleanup leaves a populated ``.old``
    beside the live table — the preamble deletes it (without the
    preamble the next ``os.rename(src, old)`` would die ENOTEMPTY and
    wedge compaction).  An increment that lands inside the
    mid-swap window recovers independently: curate_increment treats a
    missing fingerprints table as the stale-artifact state and
    rebuilds.  Buckets swap first, fingerprints last — the same
    fingerprints-are-the-commit-marker order as _write_dedup_artifact.
    Returns {files_before, files_after}.
    """
    import os
    import shutil

    art = _dedup_artifact_dir(dataset_dir)
    _check_dedup_meta(art)
    keys = {
        "buckets": ["band", "bh"],
        "urls": ["ufp"],
        "fingerprints": ["doc_id"],
    }
    # recovery preamble: heal the crash windows of a PRIOR compact
    for t in keys:
        src, tmp, old = f"{art}/{t}", f"{art}/{t}.compact", f"{art}/{t}.old"
        if os.path.exists(old):
            if not os.path.exists(src):
                os.rename(old, src)  # died between the two renames
            else:
                shutil.rmtree(old)  # died before cleanup
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # stale rewrite; redo it below
    if not os.path.exists(f"{art}/fingerprints"):
        raise ValueError(f"{art} has no dedup artifact to compact")
    n = spark.sparkContext.defaultParallelism

    def _nfiles(path: str) -> int:
        return sum(
            1
            for _root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    cap = _read_dedup_meta(art).get("max_bucket")
    before = after = 0
    for t, cols in keys.items():
        src, tmp, old = f"{art}/{t}", f"{art}/{t}.compact", f"{art}/{t}.old"
        if not os.path.exists(src):
            continue  # exact-mode artifacts carry no buckets table
        before += _nfiles(src)
        tbl = spark.read.parquet(src)
        # a recorded max_bucket means the artifact's invariant is "the
        # cap SMALLEST ids per bucket"; per-increment appends cap only
        # within their batch, so compaction is where the exact global
        # invariant is restored (content otherwise untouched)
        if t == "buckets" and cap is not None:
            tbl = dd.cap_lsh_buckets(tbl, cap)
        (
            tbl
            .repartitionByRange(n, *[F.col(c) for c in cols])
            .sortWithinPartitions(*cols)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old)
        after += _nfiles(src)
    return {"files_before": before, "files_after": after}


def compact_artifacts(spark, dataset_dir: str) -> dict:
    """The ONE maintenance entry point for a dataset's probe artifacts:
    :func:`dedup_compact` on the ``_dedup`` tables plus, when the
    dataset carries the exact-family ``_pindex`` artifact, its
    :func:`operators.dedup.prefix_index_compact` — so the CLI's
    ``--compact-dedup`` never misses one of the artifacts.  Returns
    {"dedup": {...}, "pindex": {...}|None}."""
    import os

    stats = {"dedup": dedup_compact(spark, dataset_dir), "pindex": None}
    pind = _pindex_dir(dataset_dir)
    if os.path.exists(f"{pind}/meta.json"):
        stats["pindex"] = dd.prefix_index_compact(spark, pind)
    return stats


#: The curation record: every policy :func:`curate` writes into the
#: ``_dedup`` header and :func:`curate_increment` inherits or refuses —
#: the xxhash split gate is content-stable only under the original
#: fraction boundaries, and the dataset's dedup guarantees hold only if
#: every increment dedups the same way.  Per field: the value an
#: increment assumes when the dataset recorded none (pre-header
#: datasets), the type values compare and are recorded in, and why a
#: contradicting value is refused.
_POLICIES = {
    "fractions": (
        None, dict,
        "the content-stable split gate only holds when the boundaries "
        "match",
    ),
    "leakage_free": (
        False, bool,
        "a dataset curated one way cannot take increments split the "
        "other way",
    ),
    "near_dedup": (
        "lsh", str,
        "a dataset deduped under one detection family cannot take "
        "increments deduped under the other (the dedup guarantee would "
        "silently change mid-dataset)",
    ),
    "lsh_mode": (
        "pairs", str,
        "appends never rewrite meta.json, so accepting this would leave "
        "the header misdescribing how increments were actually "
        "self-deduped",
    ),
    "jaccard_threshold": (
        0.8, float,
        "increments deduped at a different threshold would silently "
        "change the dataset's near-dup guarantee mid-dataset",
    ),
    "split_jaccard": (
        0.3, float,
        "the leakage-free guarantee ('no pair >= split_jaccard straddles "
        "splits') holds at ONE similarity level",
    ),
    "max_bucket": (
        None, int,
        "the persisted bucket artifact was capped at build time with the "
        "recorded value",
    ),
    "dsir_min_bits": (
        None, float, "the gate threshold is part of the curation contract"
    ),
    # recorded beside the DSIR gate; no argument sets it
    "dsir_target_desc": (None, str, None),
    "max_surprisal_bits": (
        None, float, "the gate ceiling is part of the curation contract"
    ),
    "url_col": (
        None, str,
        "the standing corpus was URL-deduped on the recorded column",
    ),
}
#: The stages an increment can only apply as recorded (a frozen model, or
#: a dedup the standing docs went through): passing one the dataset
#: never recorded refuses.  Value: what the record would have held.
_GATES = {
    "dsir_min_bits": "DSIR gate — there is no frozen model to score "
    "under; train one at curate() time with dsir_target",
    "max_surprisal_bits": "surprisal gate — there is no frozen bigram LM "
    "to score under; enable the gate at curate() time",
    "url_col": "URL-dedup stage — the standing docs were never "
    "URL-deduped, so the guarantee would start mid-dataset; enable it "
    "at curate() time",
}
#: Fields whose pre-header default is the dataset's true history, not a
#: guess (every pre-header dataset was curated with LSH pairs, before
#: star mode and the exact family existed), so an increment records
#: them even when nothing was passed or recorded.
_HISTORY = ("near_dedup", "lsh_mode")


def _resolve_policies(passed: dict, recorded: dict) -> tuple[dict, set]:
    """Inherit-or-refuse for every field of the curation record.

    Returns (value per field, the fields whose value is KNOWN: passed,
    recorded, or a :data:`_HISTORY` default).  Known-ness is taken
    BEFORE defaulting: the record an increment writes must carry only
    known values — a pre-header dataset whose increment runs on defaults
    must NOT have those defaults enshrined as "the curation record", or
    a later increment passing the dataset's true custom values would be
    refused against a fabricated one.  A passed value that contradicts
    the record raises instead of silently mis-splitting appended docs
    (or de-syncing the header from how increments were actually
    deduped — appends never rewrite meta.json)."""
    values, known = {}, set(_HISTORY)
    for name, (default, cast, why) in _POLICIES.items():
        mine, theirs = passed.get(name), recorded.get(name)
        if mine is not None and theirs is None and name in _GATES:
            raise ValueError(
                f"{name} passed but the dataset records no {_GATES[name]}"
            )
        if mine is not None and theirs is not None and (
            cast(mine) != cast(theirs)
        ):
            raise ValueError(
                f"{name}={mine!r} contradicts the dataset's recorded "
                f"{name}={theirs!r} — {why}; omit {name} to inherit the "
                "recorded value"
            )
        value = mine if mine is not None else theirs
        if value is not None:
            known.add(name)
        value = default if value is None else value
        values[name] = None if value is None else cast(value)
    return values, known


def _curation_record(values: dict, known: set | None = None) -> dict:
    """The ``_dedup`` header's curation record: each known, set field of
    :data:`_POLICIES` that takes effect — ``lsh_mode`` only under LSH
    (the exact family runs no banding) and ``split_jaccard`` only when
    leakage-free (recording an inert value would make a later
    restatement of it refusable for no reason)."""
    live = {
        "lsh_mode": values["near_dedup"] != "exact",
        "split_jaccard": bool(values["leakage_free"]),
    }
    return {
        name: cast(values[name])
        for name, (_, cast, _) in _POLICIES.items()
        if (known is None or name in known)
        and values.get(name) is not None
        and live.get(name, True)
    }


def _check_family(near_dedup: str, lsh_mode: str | None, modes) -> None:
    """Refuse an unknown detection family or emission mode, and a
    concrete emission mode under the exact family, which runs no
    banding (silently discarding the mode would let a caller believe a
    policy was applied that never ran)."""
    if near_dedup not in ("lsh", "exact"):
        raise ValueError(
            f"near_dedup must be 'lsh' or 'exact', got {near_dedup!r}"
        )
    if near_dedup == "exact" and lsh_mode is not None:
        raise ValueError(
            f"lsh_mode={lsh_mode!r} with near_dedup='exact': the exact "
            "family runs no banding, so a concrete emission mode cannot "
            "take effect — omit lsh_mode"
        )
    if lsh_mode is not None and lsh_mode not in modes:
        raise ValueError(f"lsh_mode must be one of {modes}, got {lsh_mode!r}")


class _StageLog:
    """The stage checkpoints and attrition audit both curation paths
    share.

    Each filtering stage persists its survivor set, counts it for the
    audit FROM THE CACHE, and releases the previous stage's cache.
    Without this, every stage's count() — and the final
    materialization — recomputes the whole upstream chain (dedup joins
    included), making the pipeline O(stages^2) work; with it each stage
    runs once (measured ~2x end-to-end at sf0.1).  The checkpoints are
    the actions, so the wall seconds between them (``report.phase_s``)
    attribute real work.

    ``audit_tokens``: one aggregate per checkpoint gives both audit
    columns (docs, tokens).  Stages carry the per-doc token count as the
    hidden ``__ntok`` column (recomputed only where the TEXT changes,
    :func:`_with_ntok`), so every audit after the raw one sums a cached
    long column instead of re-running the regex tokenizer over the
    surviving corpus.  Off, the doc count comes off the stage cache for
    free."""

    def __init__(self, report: CurationReport, audit_tokens: bool) -> None:
        self.report = report
        self.audit_tokens = audit_tokens
        self.prev: DataFrame | None = None
        self.t_last = time.perf_counter()

    def tick(self, phase: str) -> None:
        now = time.perf_counter()
        self.report.phase_s[phase] = round(
            self.report.phase_s.get(phase, 0.0) + (now - self.t_last), 3
        )
        self.t_last = now

    def counts(self, df: DataFrame) -> tuple[int, int | None]:
        if not self.audit_tokens:
            return df.count(), None
        tok = (
            F.col("__ntok")
            if "__ntok" in df.columns
            else tx.token_count("text").cast("bigint")
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(tok).cast("bigint").alias("t"),
        ).first()
        return row["n"], row["t"] or 0

    def checkpoint(self, stage: str, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.report.log(stage, *self.counts(df))
        self.release()
        self.prev = df
        self.tick(stage)
        return df

    def keep(self, stage: str, docs: DataFrame, ids: DataFrame) -> DataFrame:
        """Checkpoint the docs whose ``doc_id`` is in ``ids``."""
        return self.checkpoint(stage, docs.join(ids, "doc_id", "left_semi"))

    def drop(self, stage: str, docs: DataFrame, ids: DataFrame) -> DataFrame:
        """Checkpoint the docs whose ``doc_id`` is not in ``ids``."""
        return self.checkpoint(stage, docs.join(ids, "doc_id", "left_anti"))

    def release(self) -> None:
        if self.prev is not None:
            self.prev.unpersist()


def _with_ntok(df: DataFrame) -> DataFrame:
    """(Re)derive the audit column — at entry, and after any stage that
    rewrites text (span dedup, PII scrub), so the audit sums stay
    bit-identical to tokenizing the stage's actual text."""
    return df.withColumn("__ntok", tx.token_count("text").cast("bigint"))


def _url_firsts(docs: DataFrame, url_col: str) -> tuple[DataFrame, DataFrame]:
    """Within-set canonical-URL dedup: (the min-id doc per canonical URL,
    the docs with a NULL url), both carrying the canonical URL as
    ``_curl``.  NULL urls carry no URL evidence and pass through
    (mixed-source crawls routinely lack URLs; grouping them would
    collapse every url-less doc into one arbitrary survivor) — the
    content stages downstream still dedup them."""
    curled = docs.withColumn("_curl", tx.canonical_url(F.col(url_col)))
    keep = (
        curled.filter(F.col("_curl").isNotNull())
        .groupBy("_curl")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        curled.join(keep.select("doc_id"), "doc_id", "left_semi"),
        curled.filter(F.col("_curl").isNull()),
    )


def _url_hashes(docs: DataFrame, url_col: str) -> DataFrame:
    """(doc_id, ufp): the 8-byte xxhash64 of each doc's canonical URL —
    the ``urls`` probe table.  NULL urls are EXCLUDED before hashing:
    xxhash64(NULL) is the seed CONSTANT, not NULL, so one stored null-url
    row would anti-join away every future null-url batch doc."""
    return docs.select(
        F.col("doc_id"), tx.canonical_url(F.col(url_col)).alias("_cu")
    ).filter(F.col("_cu").isNotNull()).select(
        F.col("doc_id"), F.xxhash64("_cu").alias("ufp")
    )


def _contaminated(docs: DataFrame, bench: DataFrame, threshold: float):
    """ids of docs containing too much of an eval item (asymmetric
    containment, eval side broadcast)."""
    return dd.containment_pairs(
        docs, bench, k=_DEDUP_LSH["k"], threshold=threshold
    ).select(F.col("train_id").alias("doc_id")).distinct()


def _rule_quality_keep(
    docs: DataFrame, min_tokens: int, max_stopword_ratio: float
) -> DataFrame:
    """ids inside the token-stat bands that pass the repetition gates
    (fused extractor: one tokenizer pass)."""
    return tx.rule_quality_features(docs).filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
        & F.col("repetition_keep")
    ).select("doc_id")


def _surprisal_keep(scored: DataFrame, max_surprisal_bits: float):
    """ids whose mean per-bigram surprisal is at most the ceiling."""
    return scored.filter(
        F.col("mean_bits") <= F.lit(float(max_surprisal_bits))
    ).select("doc_id")


def _dsir_keep(scored: DataFrame, dsir_min_bits: float) -> DataFrame:
    """ids whose MEAN per-feature DSIR weight (the summed weight is in
    units of 2^-20 bits) clears the threshold."""
    return scored.filter(
        (F.col("logw_q20").cast("double") / F.col("n_feats") / F.lit(1048576.0))
        >= F.lit(float(dsir_min_bits))
    ).select("doc_id")


def _pairs_within(
    docs: DataFrame,
    threshold: float,
    near_dedup: str,
    lsh_mode: str | None = None,
    max_bucket: int | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs ``(id_a < id_b)`` inside one doc set:
    the prefix-filtered SSJoin under ``near_dedup="exact"`` (identical to
    exhaustive all-pairs Jaccard), else LSH candidates in ``lsh_mode``
    (over ``buckets`` when the caller already built the bucket table)
    verified with exact Jaccard."""
    if near_dedup == "exact":
        return dd.ngram_jaccard_pairs(
            docs, k=_DEDUP_LSH["k"], threshold=threshold, prefix_filter=True
        )
    cands = dd.minhash_lsh_candidates(
        docs, **_DEDUP_LSH, mode=lsh_mode, max_bucket=max_bucket,
        buckets=buckets,
    )
    return dd.ngram_jaccard_pairs(
        docs, k=_DEDUP_LSH["k"], threshold=threshold, candidates=cands
    )


def _pairs_against_corpus(
    docs: DataFrame,
    corpus: DataFrame,
    threshold: float,
    near_dedup: str,
    dataset_dir: str,
    have_pindex: bool,
    max_bucket: int | None,
    buckets: DataFrame | None,
) -> DataFrame:
    """Verified near-dup pairs ``(batch id_a, corpus id_b)``, each an
    asymmetric join whose per-batch cost follows the batch.  Exact
    family: the prefix join SERVED from the persisted ``_pindex``
    artifact when present, derived from the corpus otherwise (a
    ``write_dedup_artifact=False`` dataset).  LSH family: the corpus
    side is the precomputed bucket artifact when present, and only
    corpus docs that appear as candidates get shingled for the verify;
    ``buckets`` is the batch's bucket table."""
    if near_dedup == "exact":
        if have_pindex:
            return dd.ngram_jaccard_join(
                docs, k=_DEDUP_LSH["k"], threshold=threshold,
                corpus_index=_pindex_dir(dataset_dir),
            )
        return dd.ngram_jaccard_join(
            docs, corpus.select("doc_id", "text"),
            k=_DEDUP_LSH["k"], threshold=threshold,
        )
    import os

    art_buckets = f"{_dedup_artifact_dir(dataset_dir)}/buckets"
    cands = dd.minhash_lsh_join(
        docs, corpus, **_DEDUP_LSH,
        corpus_buckets=(
            corpus.sparkSession.read.parquet(art_buckets)
            if os.path.exists(art_buckets)
            else None
        ),
        # re-apply a recorded cap at probe time: appends cap within
        # their batch, so the UNION of capped writes can exceed the cap
        # per bucket between compactions — re-ranking near-capped
        # buckets is cheap and restores the O(cap) probe bound
        max_bucket=max_bucket,
        new_buckets=buckets,
    )
    corpus_needed = corpus.select("doc_id", "text").join(
        cands.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    return dd.ngram_jaccard_pairs(
        docs.select("doc_id", "text").unionByName(corpus_needed),
        k=_DEDUP_LSH["k"], threshold=threshold, candidates=cands,
    )


def _components(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id, component) over ``docs`` with ``pairs`` as the edges."""
    from planet_dump_ng_spark.operators.graph import connected_components

    return connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    )


def _print_attrition(report: CurationReport) -> None:
    toks = dict(report.tokens)
    for stage, n in report.stages:
        t = f" tokens={toks[stage]}" if stage in toks else ""
        print(f"{stage:16s} {n}{t}")


def curate(
    docs: DataFrame,
    out_dir: str,
    bench: DataFrame | None = None,
    jaccard_threshold: float = 0.8,
    containment_threshold: float = 0.5,
    min_tokens: int = 20,
    max_stopword_ratio: float = 0.7,
    fractions: dict[str, float] | None = None,
    scrub_pii: bool = True,
    mix_weights: dict[str, float] | None = None,
    pack_capacity: int | None = None,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.9,
    classifier_margin: float | None = None,
    leakage_free: bool = False,
    split_jaccard: float = 0.3,
    lang_temperature: float | None = None,
    span_dedup_tokens: int | None = None,
    quality_temper: tuple[float, float, float, float] | None = None,
    token_budget: int | None = None,
    write_dedup_artifact: bool = True,
    lsh_mode: str | None = None,
    max_bucket: int | None = None,
    auto_star_width: int = 256,
    dsir_target: "Column | str | None" = None,
    dsir_min_bits: float | None = None,
    near_dedup: str = "lsh",
    max_surprisal_bits: float | None = None,
    url_col: str | None = None,
) -> tuple[DataFrame, CurationReport]:
    """Run the full curation sequence; returns (split manifest, report).

    ``bench`` is the eval set to decontaminate against (defaults to none).
    Thresholds follow common curation practice: near-dups at Jaccard 0.8,
    contamination at 50% containment of an eval item's shingles.
    ``write_dedup_artifact=False`` skips the ``<out_dir>_dedup`` probe
    tables (one survivor-sized fingerprint+signature pass) for datasets
    that will never take increments.

    ``lsh_mode`` selects the near-dedup candidate emission
    (operators.dedup.minhash_lsh_candidates; ``None`` — the default —
    resolves to ``"star"`` under the LSH family, and is the ONLY legal
    value under ``near_dedup="exact"``, which runs no banding: passing
    any concrete mode alongside the exact family raises instead of
    being silently discarded, the same refuse-loudly discipline as
    every other contradictory policy pair): ``"star"`` (—
    each bucket emits members paired with its minimum id, O(B) per
    bucket instead of O(B^2); the shape a crawl-scale corpus with
    viral-boilerplate clusters REQUIRES, and curation's survivor rule
    is a pure connectivity consumer so the min-id election is
    unchanged) or ``"pairs"`` (exhaustive opt-in — every bucket-sharing
    pair is Jaccard-verified; bounded corpora only: one 10^6-doc
    boilerplate bucket emits ~5*10^11 candidate rows).  The recall
    trade of star mode: only star edges reach the verifier, so a
    transitive chain A~B~C where the bucket minimum A misses the
    threshold against C keeps C.  At the dedup threshold (0.8)
    in-bucket docs are mutually near-identical and the survivor sets
    agree in practice — but the SAME mode governs the leakage-free
    component pass, which verifies at ``split_jaccard`` (0.3), where
    in-bucket docs are NOT mutually near-identical: a pair B~C whose
    bucket-minimum edges fail verification is never linked, so under
    star mode two near-dup docs can land in different splits.  A
    dataset whose leakage guarantee must be exhaustive should pass
    ``lsh_mode="pairs"`` (and accept the quadratic candidate mass, or
    bound it with ``max_bucket``).

    ``max_bucket`` (optional) bounds LSH bucket width: in pairs mode,
    buckets larger than this are dropped before the self-join (docs
    still pair through their other bands); it is also BAKED into the
    persisted ``_dedup`` bucket artifact (cap_lsh_buckets smallest-id
    representatives) and recorded in its meta header, so every later
    increment probes O(cap) representatives per bucket and inherits
    the cap.  Ignored by star-mode candidate emission (already linear).

    ``lsh_mode="auto"`` measures instead of guessing: the near-dedup
    stage builds the LSH bucket table once, probes its WIDEST bucket
    (one map-side-combinable aggregate over the table the candidate
    join needs anyway), and picks ``"pairs"`` when every bucket is at
    most ``auto_star_width`` docs wide (worst bucket emits <=
    width^2/2 pairs — exhaustive verification is affordable, so take
    it) else ``"star"``.  The DECISION is concrete everywhere it
    lands: ``report.lsh_mode_resolved`` / ``report.lsh_auto_widest``
    carry it with its evidence, the artifact meta records the resolved
    mode (never "auto"), and the leakage-free split pass reuses it —
    increments inherit a measured policy, not the probe.

    ``dsir_target`` (a SQL boolean expression or Column) enables the
    DSIR domain gate (operators.dsir): the hashed n-gram importance
    model trains on this run's post-quality survivors, persists at
    ``<out_dir>_dsir`` (the frozen model every increment scores
    under), and docs keep iff their MEAN per-feature weight >=
    ``dsir_min_bits`` (``None`` resolves to 0.0 when the gate is on:
    "looks more target than raw on average").  Passing ``dsir_min_bits``
    WITHOUT ``dsir_target`` raises — no model would be trained, so no
    gate would run, and an API caller who believes they configured a
    gate must not silently get none (the CLI and the increment path
    refuse the same half-specification).  The gate threshold and
    target provenance are recorded in the dedup-artifact header with
    the same inherit-or-refuse discipline as the other policies.

    ``near_dedup`` selects the near-dup detection family: ``"lsh"``
    (DEFAULT — MinHash banding candidates, the recall-trading scale
    path above) or ``"exact"`` — the prefix-filtered SSJoin/ppjoin
    self-join (operators.dedup.ngram_jaccard_pairs(prefix_filter=True)),
    whose output is IDENTICAL to the exhaustive all-pairs Jaccard at
    the threshold: for pipelines whose dedup guarantee cannot accept
    LSH's recall trade.  Under exact mode the leakage-free component
    pass is exact too (so the split guarantee is exhaustive, closing
    the star-mode caveat documented above), and the dataset persists a
    corpus PREFIX INDEX artifact at ``<out_dir>_pindex``
    (write_prefix_index) instead of relying on the LSH bucket table
    for increments — built at the LOWEST threshold any increment will
    probe (``split_jaccard`` when leakage_free, else
    ``jaccard_threshold``; the index threshold is a floor, higher
    probes only over-index).  The mode is recorded in the artifact
    header and inherited by every increment under the same
    inherit-or-refuse discipline as the other policies.

    ``max_surprisal_bits`` enables the CCNet-style LM-surprisal quality
    gate (operators.lm): a bigram LM trains on this run's post-quality
    survivors, persists at ``<out_dir>_lm`` (the frozen model every
    increment scores under — the fluency definition must not drift
    batch by batch), and docs keep iff their MEAN per-bigram surprisal
    under that model is <= the ceiling (bits, integer-exact bit-length
    arithmetic — text whose word transitions the corpus finds
    surprising is boilerplate/spam/noise even when its vocabulary
    looks ordinary).  Docs that emit no bigram (<2 tokens) carry no
    transition evidence and drop — unreachable whenever
    ``min_tokens >= 2``, since the rule gate runs first.  The ceiling
    is recorded in the artifact header with the same inherit-or-refuse
    discipline as ``dsir_min_bits``.

    ``url_col`` enables canonical-URL exact dedup as the FIRST stage —
    the cheapest gate a crawl pipeline runs: re-crawls of the same
    page differ in tracking params / fragment / host case long before
    content hashing can catch them (after template drift the content
    hash misses entirely; the URL never drifts).  One doc survives per
    canonical URL (operators.text.canonical_url; min doc_id), the
    dataset's ``_dedup`` artifact gains a ``urls`` table of 8-byte
    canonical-URL hashes each increment batch anti-joins against (no
    corpus re-canonicalization per batch), and the column name is
    recorded with the usual inherit-or-refuse discipline.
    """
    _check_family(near_dedup, lsh_mode, ("pairs", "star", "auto"))
    if near_dedup == "lsh" and lsh_mode is None:
        lsh_mode = "star"
    if dsir_min_bits is not None and dsir_target is None:
        raise ValueError(
            "dsir_min_bits without dsir_target: no model would be "
            "trained, so no gate would run — pass dsir_target to "
            "enable the DSIR domain gate"
        )
    report = CurationReport()
    log = _StageLog(report, audit_tokens=True)
    docs = _with_ntok(docs)
    report.log("raw", *log.counts(docs))
    log.tick("raw")

    # 0. optional canonical-URL dedup, FIRST: strictly cheaper than any
    # content stage (regexp/array ops on the URL string, one 8-byte-key
    # group), and removing re-crawls up front shrinks everything after.
    if url_col is not None:
        firsts, no_url = _url_firsts(docs, url_col)
        docs = log.checkpoint(
            "url_dedup", firsts.unionByName(no_url).drop("_curl")
        )

    # 1. exact dedup: keep the first occurrence per canonical fingerprint
    docs = log.checkpoint("exact_dedup", dd.dedup_keep_first(docs))

    # 1b. optional C4-style span dedup: REWRITE each doc to only the
    # spans whose first corpus-wide occurrence it owns (repeated
    # boilerplate is excised, the unique remainder survives); docs left
    # empty drop.  Runs before near-dedup so boilerplate mass can no
    # longer vote two otherwise-distinct pages into near-duplicates.
    if span_dedup_tokens is not None:
        docs = log.checkpoint(
            "span_dedup",
            _with_ntok(
                dd.span_dedup_rewrite(docs, span_tokens=span_dedup_tokens)
            ),
        )

    # 2. near-dup removal: the larger doc id of every verified pair
    # drops (min-id survivor rule, consistent with exact dedup).
    # near_dedup="exact": prefix-filtered SSJoin self-join — output
    # identical to exhaustive all-pairs Jaccard, no LSH recall trade.
    # near_dedup="lsh": LSH candidates -> exact-Jaccard verify.
    bkts = None
    if lsh_mode == "auto":
        # one lazy localCheckpoint: the stats probe and the candidate
        # join read the SAME materialized bucket table (no second
        # signature pass, no stranded CacheManager entry)
        bkts = dd.lsh_buckets(docs, **_DEDUP_LSH).localCheckpoint(eager=False)
        widest = (
            bkts.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("w"))
            .agg(F.max("w"))
            .first()[0]
            or 0
        )
        lsh_mode = "pairs" if widest <= auto_star_width else "star"
        report.lsh_auto_widest = int(widest)
        log.tick("lsh_auto_probe")
    report.lsh_mode_resolved = lsh_mode
    pairs = _pairs_within(
        docs, jaccard_threshold, near_dedup, lsh_mode, max_bucket, bkts
    )
    docs = log.drop(
        "near_dedup", docs, pairs.select(F.col("id_b").alias("doc_id")).distinct()
    )

    # 2b. optional semantic dedup (SemDeDup): embeddings keyed by doc_id
    # cluster under the IVF coarse quantizer; inside a cell, any doc with
    # a lower-id neighbour above the cosine threshold drops.  Catches
    # paraphrase-level duplication the lexical stages cannot.
    if embeddings is not None:
        from planet_dump_ng_spark.operators.ivf import semantic_dedup

        # Scope to the docs that SURVIVED the lexical stages first: a
        # vector whose only close lower-id neighbour was already removed
        # upstream must not still count it as a reason to drop — that
        # would leave its semantic group with zero survivors.  (Also
        # cheaper: the dedup pair space shrinks to the survivors.)
        emb = embeddings.join(
            docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        head = emb.select("embedding").first()
        if head is not None:  # no surviving vectors => stage is a no-op
            verdict = semantic_dedup(
                emb, dim=len(head["embedding"]), threshold=semantic_threshold
            )
            # docs without an embedding pass through (left_anti on the
            # drops, not semi on the keeps — absence of a vector is not
            # evidence)
            drop_ids = verdict.filter(~F.col("kept")).select(
                F.col("vec_id").alias("doc_id")
            )
            docs = docs.join(drop_ids, "doc_id", "left_anti")
        docs = log.checkpoint("semantic_dedup", docs)

    # 3. decontamination: drop any training doc containing too much of an
    # eval item
    if bench is not None:
        docs = log.drop(
            "decontaminated", docs,
            _contaminated(docs, bench, containment_threshold),
        )

    # 4. PII scrub: a text TRANSFORM (no rows drop) — masks applied
    # before any text leaves the pipeline
    if scrub_pii:
        docs = _with_ntok(docs.withColumn("text", tx.scrub_pii("text")))

    # 5. quality filter: token-stat bands + repetition gates, one
    # combined map stage feeding a single semi join
    docs = log.keep(
        "quality", docs,
        _rule_quality_keep(docs, min_tokens, max_stopword_ratio),
    )

    # 5b. optional learned quality gate: the weighted linear classifier
    # (operators.text.linear_quality_score) ON TOP of the rule bands —
    # the rule gate removes degenerate text, the model ranks the rest;
    # docs keep iff margin > classifier_margin.  Map-only + one semi join.
    if classifier_margin is not None:
        scored = tx.linear_quality_score(docs)
        docs = log.keep(
            "classifier", docs,
            scored.filter(
                F.col("quality_margin") > F.lit(float(classifier_margin))
            ).select("doc_id"),
        )

    # 5b2. optional LM-surprisal quality gate (CCNet-style,
    # operators.lm): train the bigram LM on THIS RUN's survivors in one
    # tokenize scan (bigram_lm_train_and_score shares the materialized
    # instance table between the count aggregate, the artifact write
    # and the score joins), persist it beside the dataset, keep docs
    # whose mean per-bigram surprisal clears the ceiling.  Runs after
    # the rule/classifier gates so the model's transition statistics
    # come from text that could actually ship, before DSIR/mixing so
    # domain selection acts on fluent docs.
    if max_surprisal_bits is not None:
        from planet_dump_ng_spark.operators import lm as blm

        _, sc = blm.bigram_lm_train_and_score(docs, _lm_model_dir(out_dir))
        docs = log.keep(
            "surprisal_gate", docs, _surprisal_keep(sc, max_surprisal_bits)
        )

    # 5c. optional DSIR domain gate (operators.dsir): train the hashed
    # n-gram importance model ON THIS RUN's survivors against the
    # target predicate, persist it beside the dataset (the frozen
    # model every increment scores under — the domain definition must
    # not drift batch by batch), and keep docs whose MEAN per-feature
    # weight clears dsir_min_bits.  Runs after the quality gates so
    # the model's raw distribution is the text that could actually
    # ship, before mixing so mix weights act on domain-matched docs.
    # Docs that emit no scored feature (nothing the model ever saw)
    # carry no domain evidence and drop.
    tgt_desc = None
    if dsir_target is not None:
        from planet_dump_ng_spark.operators import dsir as dsr

        dsir_min_bits = 0.0 if dsir_min_bits is None else float(dsir_min_bits)
        tgt = (
            F.expr(dsir_target) if isinstance(dsir_target, str)
            else dsir_target
        )
        tgt_desc = (
            dsir_target if isinstance(dsir_target, str) else "custom-predicate"
        )
        # one feature scan trains the model, persists it AND scores the
        # corpus (dsir_train_and_score shares the materialized feature
        # table) — the gate must not pay the tokenize+explode pass twice
        _, w = dsr.dsir_train_and_score(
            docs, tgt, _dsir_model_dir(out_dir), target_desc=tgt_desc
        )
        docs = log.keep("dsir_gate", docs, _dsir_keep(w, dsir_min_bits))

    # 6. optional dataset mixing: per-source keep fractions
    if mix_weights:
        docs = log.checkpoint(
            "mixed",
            weighted_mix(docs, "doc_id", "source", mix_weights).drop("bucket"),
        )

    # 6b. optional language-mix tempering (mT5-style, downsample-only):
    # runs AFTER quality/mix so the tempered shares reflect what actually
    # survives, not the raw feed.
    if lang_temperature is not None:
        from planet_dump_ng_spark.operators.sampling import temperature_resample

        docs = log.checkpoint(
            "lang_tempered",
            temperature_resample(
                docs, "doc_id", "lang", alpha=lang_temperature
            ).drop("bucket", "keep_threshold"),
        )

    # 6c. optional quality tempering (soft quality gate): keep a rising
    # hash-gated fraction of each token-count quartile instead of a hard
    # cutoff — tilts the mix toward substantial documents while keeping
    # some short-text robustness mass.
    if quality_temper is not None:
        from planet_dump_ng_spark.operators.sampling import (
            quality_weighted_sample,
        )

        # __ntok is exactly token_count of the CURRENT text (re-derived
        # at every text rewrite), so the tempering score reuses it
        # instead of tokenizing the corpus again
        scored = docs.withColumn("_qt_score", F.col("__ntok"))
        docs = log.checkpoint(
            "quality_tempered",
            quality_weighted_sample(
                scored, "_qt_score", "doc_id", quotas=tuple(quality_temper)
            ).drop("_qt_score", "tier", "bucket", "keep_threshold"),
        )

    # 6d. optional token budget: greedy best-documents-first (classifier-
    # margin bins) until the budget is spent — the LAST filter, so the
    # budget buys the highest-quality mass that survived everything else.
    if token_budget is not None:
        from planet_dump_ng_spark.operators.sampling import (
            select_token_budget,
        )

        g = (
            tx.linear_quality_score(docs)
            .withColumn(
                "_tb_bin",
                F.floor(F.col("quality_margin") * 100).cast("int"),
            )
            .withColumn("_tb_tok", F.col("__ntok"))
        )
        kept = select_token_budget(
            g, "_tb_bin", "_tb_tok", "doc_id", token_budget
        )
        docs = log.checkpoint("token_budget", kept.select(*docs.columns))

    # the audit column never leaves the pipeline: the materialized
    # splits and every artifact below see exactly the pre-round-10
    # schema
    docs = docs.drop("__ntok")

    # 7. split + materialize (partitioned parquet, per-split manifest).
    # A RE-curate into an existing out_dir first drops any prior run's
    # known-clean marker: from here until this run's artifact write (or
    # forever, under write_dedup_artifact=False) the old _dedup tables
    # no longer describe the dataset, and a surviving stale marker
    # would make the next increment SKIP the dataset-vs-artifact count
    # check and probe the new dataset against the old fingerprints.
    import os as _os

    try:
        _os.remove(f"{_dedup_artifact_dir(out_dir)}/_synced")
    except FileNotFoundError:
        pass
    # leakage_free: hash the near-dup CLUSTER representative instead of the
    # doc id, so surviving docs that are still similar (the band between
    # split_jaccard and the dedup threshold) can never straddle
    # train/test — the eval-contamination channel a row-level split
    # leaves open.  Reuses the LSH+components machinery on the survivors;
    # under exact mode the component edges are exhaustive, so the leakage
    # guarantee has no star-emission recall caveat.
    if leakage_free:
        comp = _components(
            docs,
            _pairs_within(
                docs, split_jaccard, near_dedup, lsh_mode, max_bucket
            ),
        )
        docs = docs.join(
            comp.select(F.col("id").alias("doc_id"), "component"), "doc_id"
        )
        # materialize the component-joined survivors ONCE: this plan
        # re-derives the split-guard pair stage (the most expensive
        # stage under near_dedup="exact"), and without the checkpoint
        # materialize_splits, write_prefix_index AND
        # _write_dedup_artifact below would each re-execute it — the
        # same eager-checkpoint discipline as the increment path
        docs = docs.localCheckpoint(eager=True)
        manifest = materialize_splits(
            docs, out_dir, "doc_id", fractions, split_key="component"
        )
    else:
        manifest = materialize_splits(docs, out_dir, "doc_id", fractions)
    log.tick("materialize")

    # 8. optional packing manifest over the materialized train split:
    # global token offsets in deterministic order, written beside the
    # dataset (NOT inside it — out_dir stays a clean partitioned layout)
    if pack_capacity:
        train = read_split(docs.sparkSession, out_dir, "train")
        packed = pack_contiguous(
            train.select("doc_id", tx.bpe_ish_token_count("text").alias("n_tok")),
            "doc_id",
            "n_tok",
            capacity=pack_capacity,
        )
        packed.write.mode("overwrite").parquet(f"{out_dir.rstrip('/')}_pack")
        log.tick("pack")
    # dedup artifact beside the dataset: what curate_increment probes.
    # The header also records the curation policies (_POLICIES): the
    # xxhash split gate is content-stable only if increments use the
    # same fraction boundaries (and leakage discipline), and the dedup
    # thresholds and gates are the dataset's guarantee ("no pair >=
    # jaccard_threshold survives"), so curate_increment defaults from —
    # and validates against — this record.
    if write_dedup_artifact:
        record = _curation_record({
            "fractions": fractions or {"train": 0.8, "val": 0.1, "test": 0.1},
            "leakage_free": leakage_free,
            "near_dedup": near_dedup,
            "lsh_mode": lsh_mode,
            "jaccard_threshold": jaccard_threshold,
            "split_jaccard": split_jaccard,
            "max_bucket": max_bucket,
            "dsir_min_bits": dsir_min_bits,
            "dsir_target_desc": tgt_desc,
            "max_surprisal_bits": max_surprisal_bits,
            "url_col": url_col,
        })
        pindex_task = None
        if near_dedup == "exact":
            # the exact twin of the LSH bucket artifact: every increment
            # equi-joins its batch prefix against this instead of
            # re-deriving corpus shingles.  Built at the lowest threshold
            # increments will probe (the index threshold is a floor).
            # Runs CONCURRENTLY with the _dedup tables (docs is cached,
            # both scan the same persisted survivors); the fingerprints
            # commit + _synced marker still land strictly after it, so
            # a crash mid-build leaves the fingerprint-less stale state
            # both artifacts rebuild from.
            def pindex_task() -> None:
                dd.write_prefix_index(
                    docs,
                    _pindex_dir(out_dir),
                    k=_DEDUP_LSH["k"],
                    threshold=(
                        split_jaccard if leakage_free else jaccard_threshold
                    ),
                )
        _write_dedup_artifact(
            docs, out_dir, extra_meta=record, max_bucket=max_bucket,
            include_buckets=(near_dedup != "exact"),
            url_col=url_col,
            concurrent_extra=pindex_task,
        )
        log.tick("dedup_artifact")
    log.release()  # the dataset is on disk; release the last cache
    return manifest, report


def curate_increment(
    new_docs: DataFrame,
    dataset_dir: str,
    bench: DataFrame | None = None,
    jaccard_threshold: float | None = None,
    containment_threshold: float = 0.5,
    min_tokens: int = 20,
    max_stopword_ratio: float = 0.7,
    scrub_pii: bool = True,
    fractions: dict[str, float] | None = None,
    leakage_free: bool | None = None,
    split_jaccard: float | None = None,
    lsh_mode: str | None = None,
    max_bucket: int | None = None,
    audit_tokens: bool = False,
    dsir_min_bits: float | None = None,
    near_dedup: str | None = None,
    max_surprisal_bits: float | None = None,
    url_col: str | None = None,
) -> tuple[DataFrame, CurationReport]:
    """Incremental curation: run a NEW batch through the curation gates
    AGAINST the standing curated dataset and append the survivors — the
    continuous-ingest shape where re-curating the whole corpus per batch
    is the thing a 100 TB pipeline cannot afford.

    Per-batch cost discipline: every corpus-sized interaction is the
    asymmetric ingest form — already-present ids anti-join away (a
    retried batch appends NOTHING, so the operation is idempotent),
    exact dedup probes the corpus FINGERPRINT set (16-byte digests, the
    only corpus-derived table this stage shuffles), near-dedup is the
    batch-vs-corpus banded LSH join (operators.dedup.minhash_lsh_join —
    per-batch cost proportional to the batch, the corpus side a
    precomputable bucket artifact), and the standing dataset is only
    ever READ.  Survivors take their split from the same content-stable
    xxhash gate the original run used, so the grown dataset is
    split-consistent with a from-scratch curation; the append lands via
    ``materialize_splits(mode="append")``.

    ``fractions``, ``leakage_free``, ``jaccard_threshold``,
    ``split_jaccard``, ``lsh_mode`` and ``max_bucket``
    DEFAULT from the dedup artifact's recorded curation parameters
    (written by :func:`curate`) — the xxhash split gate is
    content-stable only if the fraction boundaries match the original
    run's, so passing nothing inherits the right ones, and passing a
    value that CONTRADICTS the record raises instead of silently
    mis-splitting appended docs (or silently de-syncing the header
    from how increments were actually deduped — appends never rewrite
    meta.json, so an accepted contradiction would falsify the record).
    ``lsh_mode`` governs the WITHIN-BATCH self-dedup candidates (the
    batch-vs-corpus side is the asymmetric join, already linear in the
    batch): a dataset curated with star emission takes its increments
    the same way, so a boilerplate-heavy batch can't reintroduce the
    B^2 cost the original run avoided.  A recorded ``max_bucket``
    means the persisted bucket artifact is CAPPED (smallest-id
    representatives); increments append their batch buckets capped the
    same way and probe with the cap re-applied, so a hot boilerplate
    bucket hands each batch doc O(cap) candidates forever.

    ``dsir_min_bits`` and ``max_surprisal_bits`` inherit the recorded
    gate thresholds and apply the FROZEN persisted models (an increment
    never retrains a gate); passing either without a recorded gate
    raises — there is no model to score under.

    ``near_dedup`` inherits the recorded detection family the same way:
    a dataset curated with ``near_dedup="exact"`` takes its increments
    exactly — within-batch via the prefix-filtered self-join, batch-vs-
    corpus via ``ngram_jaccard_join`` against the persisted
    ``<dataset>_pindex`` prefix-index artifact (extended with this
    batch's survivors by ``prefix_index_add`` after the append, and
    rebuilt from the corpus when a crash window left it headerless or
    out of step) — and a contradicting flag raises.  Probing at a
    threshold below the index's recorded floor raises inside
    ``ngram_jaccard_join`` rather than silently losing pairs.

    Returns (increment manifest, attrition report) — the report carries
    the same per-stage doc-count audit as :func:`curate`, plus wall
    seconds per section in ``report.phase_s``.  The per-stage TOKEN
    mass is opt-in here (``audit_tokens=True``): each token column
    costs a text-scanning aggregate per checkpoint, a real fraction of
    per-batch ingest cost, while the doc counts (cache-side
    ``count()``) carry the attrition audit for free.
    """
    passed = dict(locals())  # the policy arguments carry the record's names
    import os

    spark = new_docs.sparkSession
    corpus = spark.read.parquet(dataset_dir)
    report = CurationReport()
    log = _StageLog(report, audit_tokens)
    if lsh_mode == "auto":
        raise ValueError(
            "lsh_mode='auto' resolves at curate() time (the probe ran "
            "over the FULL corpus and its decision is in the artifact "
            "header); increments inherit the recorded concrete mode — "
            "omit the flag"
        )
    art = _dedup_artifact_dir(dataset_dir)
    recorded = _read_dedup_meta(art)
    # the DSIR and surprisal gates apply the FROZEN models curate()
    # persisted at the recorded thresholds — an increment can never
    # retrain a gate (the domain and fluency definitions must not drift
    # batch by batch); the dedup thresholds are only as strong as the
    # weakest increment, and the _pindex floor check catches only a
    # LOWER probe threshold
    policy, known = _resolve_policies(passed, recorded)
    # exact datasets record no lsh_mode, so no contradiction fires for
    # them: refuse the contradictory pair curate() refuses
    _check_family(policy["near_dedup"], lsh_mode, ("pairs", "star"))
    (
        fractions, leakage_free, near_dedup, lsh_mode, jaccard_threshold,
        split_jaccard, max_bucket, dsir_min_bits, max_surprisal_bits,
        url_col,
    ) = (policy[k] for k in (
        "fractions", "leakage_free", "near_dedup", "lsh_mode",
        "jaccard_threshold", "split_jaccard", "max_bucket", "dsir_min_bits",
        "max_surprisal_bits", "url_col",
    ))
    lsh_family = near_dedup != "exact"
    # the _pindex threshold: the lowest one an increment probes
    pindex_floor = split_jaccard if leakage_free else jaccard_threshold

    report.log("raw", *log.counts(new_docs))
    log.tick("setup")

    # 1. idempotence + within-batch exact dedup: ids the dataset already
    # holds drop first (a redelivered batch is a no-op), then the batch
    # keeps one doc per canonical fingerprint.  The PII scrub runs HERE
    # — before any fingerprint/shingle probe — because the dataset
    # stores SCRUBBED text: probing it with raw-batch fingerprints
    # would miss every stored doc whose text the scrub rewrote, letting
    # exact duplicates through.  (Span-rewritten datasets keep the same
    # caveat for the rewritten docs themselves: a raw re-crawl of an
    # excised page is a NEAR-dup, caught by the Jaccard stage, not an
    # exact-fingerprint match.)
    docs = new_docs.join(corpus.select("doc_id"), "doc_id", "left_anti")
    if scrub_pii:
        docs = docs.withColumn("text", tx.scrub_pii("text"))
    if audit_tokens:
        # derive the audit column once, post-scrub (the text never
        # changes again in this path)
        docs = _with_ntok(docs)
    docs = log.checkpoint("batch_exact", dd.dedup_keep_first(docs))

    # 2. exact dedup vs the corpus: probe the fingerprint set — digests,
    # never text, cross the shuffle.  The persisted _dedup artifact
    # (written by curate(), extended by every increment) makes this a
    # read of precomputed digests; without it, fall back to one
    # corpus-sized derivation.
    _check_dedup_meta(art)
    # exact-mode artifacts carry no buckets table (they probe _pindex),
    # so artifact presence is either probe table; the fingerprint
    # commit-marker discipline below is unchanged
    have_art = os.path.exists(f"{art}/buckets") or os.path.exists(
        f"{art}/fingerprints"
    )
    pind = _pindex_dir(dataset_dir)
    # _synced is the known-clean marker: deleted BEFORE every dataset
    # append and re-created only after the artifact appends land, so its
    # presence (plus a live fingerprints table — a mid-compact crash can
    # leave the marker with the table swapped out) proves the last
    # append committed fully and the two count jobs below are redundant.
    # Any crash window deletes or predates it, falling back to the full
    # count check and its rebuild path.
    synced = f"{art}/_synced"
    # the family's FULL probe-table set must be live for _synced to
    # short-circuit: a crash between dedup_compact's two bucket renames
    # leaves fingerprints + _synced intact with buckets parked at
    # buckets.old — skipping the check there would let the append below
    # write a batch-only buckets table that every later probe trusts as
    # the corpus (and the next compact preamble would delete the real
    # one as .old debris)
    probe_tables_ok = (
        os.path.exists(f"{art}/fingerprints")
        and (
            os.path.exists(f"{art}/buckets")
            if lsh_family
            else os.path.isdir(f"{pind}/pindex")
        )
        and (url_col is None or os.path.exists(f"{art}/urls"))
    )
    if have_art and not (os.path.exists(synced) and probe_tables_ok):
        # repair a STALE artifact (a crash between a prior increment's
        # dataset append and its artifact append): fingerprint rows must
        # match the dataset row-for-row, else rebuild from the dataset —
        # the redelivered batch can't repair it (its ids anti-join away).
        # fingerprints is the LAST table _write_dedup_artifact lands, so
        # a crash mid-write can leave buckets without it — or with only
        # the committer's _temporary/ debris (a kill mid-job), which
        # exists on disk but has no readable parquet.  Treat BOTH as
        # count -1 so the same rebuild fires instead of an
        # unreadable-parquet crash that no retry would ever clear.
        # AnalysisException ONLY: path-missing and no-readable-parquet
        # both surface as it; a transient IO/permission error must
        # propagate, not masquerade as staleness and trigger a
        # corpus-sized rebuild that buries the real fault.
        from pyspark.errors import AnalysisException

        try:
            n_fp = spark.read.parquet(f"{art}/fingerprints").count()
        except AnalysisException:
            n_fp = -1
        n_corpus = corpus.count()
        if (
            n_fp != n_corpus
            or (lsh_family and not os.path.exists(f"{art}/buckets"))
            or (url_col is not None and not os.path.exists(f"{art}/urls"))
        ):
            # rebuild preserves the recorded curation parameters — the
            # repair must not erase the fractions/leakage_free record.
            # The buckets-missing-with-fingerprints-intact case is the
            # mid-compact-swap crash above: counts agree, so without the
            # explicit table check no rebuild would fire
            import shutil as _shutil

            # clear compact debris first: a parked buckets.old must not
            # survive the rebuild for a later compact preamble to
            # "restore" over the fresh table
            for t in ("buckets", "urls", "fingerprints"):
                for sfx in (".old", ".compact"):
                    _shutil.rmtree(f"{art}/{t}{sfx}", ignore_errors=True)
            _write_dedup_artifact(
                corpus,
                dataset_dir,
                mode="overwrite",
                extra_meta={k: recorded[k] for k in _POLICIES if k in recorded},
                max_bucket=recorded.get("max_bucket"),
                include_buckets=lsh_family,
                url_col=url_col,
            )
        if not lsh_family:
            # the prefix index has its own crash windows (a kill inside
            # prefix_index_add leaves it headerless; one between the
            # dataset append and the add leaves it short) — same
            # dataset-vs-artifact count check, same rebuild-from-corpus
            # repair
            # AnalysisException: a mid-prefix_index_compact crash parks
            # a table at .old with the header intact — the eager parquet
            # read inside read_prefix_index surfaces it; rebuild, same
            # as a headerless index
            pmeta: dict = {}
            try:
                _, _, pmeta = dd.read_prefix_index(spark, pind)
                pindex_ok = pmeta.get("n_docs") == n_corpus
            except (ValueError, AnalysisException):
                pindex_ok = False
            if not pindex_ok:
                # rebuild at the INDEX's recorded floor when the header
                # survived (count-mismatch staleness): the repair must
                # not silently RAISE the floor to this call's threshold
                # — later probes at the original (valid) threshold
                # would start refusing.  Only the headerless case falls
                # back to the call-time threshold (which, under the
                # inherit-or-refuse defaulting above, is the recorded
                # curation threshold anyway).
                want = pindex_floor
                if "threshold" in pmeta:
                    want = min(float(pmeta["threshold"]), want)
                dd.write_prefix_index(
                    corpus, pind, k=_DEDUP_LSH["k"], threshold=want
                )
    log.tick("stale_check")

    # 2a. canonical-URL dedup (url_col datasets), cheapest probe first:
    # within-batch min-id per canonical URL, then anti-join the batch's
    # 8-byte URL hashes against the artifact's ``urls`` table (present
    # whenever the gate is recorded — the stale check above rebuilds a
    # missing one); the fallback derivation canonicalizes the corpus's
    # url column once (artifact-less write_dedup_artifact=False
    # datasets only).  NULL urls pass through both probes untouched.
    if url_col is not None:
        firsts, no_url = _url_firsts(docs, url_col)
        corp_u = (
            spark.read.parquet(f"{art}/urls")
            if os.path.exists(f"{art}/urls")
            else _url_hashes(corpus, url_col)
        ).select(F.col("ufp").alias("_ufp")).distinct()
        docs = log.checkpoint(
            "url_dedup",
            firsts.withColumn("_ufp", F.xxhash64("_curl"))
            .join(corp_u, "_ufp", "left_anti")
            .unionByName(no_url.withColumn("_ufp", F.lit(None).cast("bigint")))
            .drop("_ufp", "_curl"),
        )

    corp_fp = (
        spark.read.parquet(f"{art}/fingerprints").select(
            F.col("fp").alias("_fp")
        )
        if have_art
        else corpus.select(tx.fingerprint("text").alias("_fp"))
    ).distinct()
    docs = log.checkpoint(
        "corpus_exact",
        docs.withColumn("_fp", tx.fingerprint("text"))
        .join(corp_fp, "_fp", "left_anti")
        .drop("_fp"),
    )

    # 3. near-dedup: within-batch self-dedup plus the asymmetric
    # batch-vs-corpus join, per the inherited detection family.
    have_pindex = not lsh_family and os.path.exists(f"{pind}/meta.json")

    def batch_buckets(docs: DataFrame) -> DataFrame | None:
        # LSH family: ONE batch signature pass feeds both the
        # within-batch self-join and the batch-vs-corpus probe
        # (localCheckpoint, not persist — blocks release on GC, no
        # CacheManager entry per ingest batch); at ingest scale the
        # batch signature map is the dominant per-batch cost
        if not lsh_family:
            return None
        return dd.lsh_buckets(docs, **_DEDUP_LSH).localCheckpoint(eager=False)

    def within(docs, threshold, bkts) -> DataFrame:
        return _pairs_within(
            docs, threshold, near_dedup, lsh_mode, max_bucket, bkts
        )

    def against_corpus(docs, threshold, bkts) -> DataFrame:
        return _pairs_against_corpus(
            docs, corpus, threshold, near_dedup, dataset_dir, have_pindex,
            max_bucket, bkts,
        )

    bkts = batch_buckets(docs)
    self_losers = within(docs, jaccard_threshold, bkts).select(
        F.col("id_b").alias("doc_id")
    ).distinct()
    cross_losers = against_corpus(docs, jaccard_threshold, bkts).select(
        F.col("id_a").alias("doc_id")
    ).distinct()
    docs = log.drop(
        "near_dedup",
        docs.join(self_losers, "doc_id", "left_anti"),
        cross_losers,
    )

    # 4. decontamination / quality gates — the same rules as curate()
    if bench is not None:
        docs = log.drop(
            "decontaminated", docs,
            _contaminated(docs, bench, containment_threshold),
        )
    docs = log.keep(
        "quality", docs,
        _rule_quality_keep(docs, min_tokens, max_stopword_ratio),
    )

    # 4a0. LM-surprisal gate under the FROZEN bigram LM curate()
    # persisted — same stage position and mean-bits semantics as the
    # original run, so an appended doc faces exactly the fluency gate
    # the standing docs passed.  A recorded gate whose model directory
    # is missing/half-written raises loudly inside read_bigram_lm.
    if max_surprisal_bits is not None:
        from planet_dump_ng_spark.operators import lm as blm

        sc = blm.score_with_bigram_lm(docs, _lm_model_dir(dataset_dir))
        docs = log.keep(
            "surprisal_gate", docs, _surprisal_keep(sc, max_surprisal_bits)
        )

    # 4a. DSIR domain gate under the FROZEN model curate() persisted —
    # same stage position and threshold semantics as the original run
    # (mean per-feature bits), so an appended doc faces exactly the
    # gate the standing docs passed.  A recorded gate whose model
    # directory is missing/half-written raises loudly inside
    # read_dsir_model (crash-window discipline: refuse, don't
    # silently skip a recorded contract).
    if dsir_min_bits is not None:
        from planet_dump_ng_spark.operators import dsir as dsr

        w = dsr.dsir_score_with_model(docs, _dsir_model_dir(dataset_dir))
        docs = log.keep("dsir_gate", docs, _dsir_keep(w, dsir_min_bits))

    # 4b. leakage-free split inheritance: a dataset curated with
    # leakage_free=True guarantees no near-dup pair above split_jaccard
    # straddles train/test; a plain hash split on appended docs would
    # reopen that channel (a batch doc at Jaccard 0.5 vs a train doc
    # could hash into test).  So: batch docs inherit the split of their
    # existing near-dup partner (min corpus id, elected per batch-side
    # connected component so linked batch docs stay together), docs in
    # a component whose partners ALREADY straddle splits (bridge docs —
    # history the increment cannot rewrite) are dropped, and unpartnered
    # components hash on their component representative.
    forced_split_col = None
    split_key = None
    if leakage_free:
        # docs has shrunk since the near-dedup stage (gates dropped
        # rows), so this stage derives its OWN shared bucket table.
        # Under the exact family the split guard's edges are exhaustive
        # too — the _pindex floor is split_jaccard for leakage-free
        # datasets, so the lower-threshold probe is in-contract
        bkts = batch_buckets(docs)
        comp = _components(docs, within(docs, split_jaccard, bkts))
        cp2 = against_corpus(docs, split_jaccard, bkts)
        # ALL partner rows, not a per-doc election: the distinct-split
        # count below must see every partner's split, or a doc bridging
        # train and test content would count a single (elected) split
        # and slip through
        part = (
            cp2.select(F.col("id_a").alias("id"), F.col("id_b").alias("pid"))
            .join(
                corpus.select(
                    F.col("doc_id").alias("pid"), F.col("split").alias("ps")
                ),
                "pid",
            )
        )
        cstat = (
            comp.join(part, "id", "left")
            .groupBy("component")
            .agg(
                F.min(
                    F.when(F.col("pid").isNotNull(), F.struct("pid", "ps"))
                ).alias("w"),
                F.countDistinct("ps").alias("nsplits"),
            )
        )
        assign = comp.join(cstat, "component").select(
            F.col("id").alias("doc_id"),
            F.col("component"),
            F.col("w.ps").alias("_forced_split"),
            "nsplits",
        )
        docs = log.checkpoint(
            "split_guard",
            docs.join(assign, "doc_id").filter(F.col("nsplits") <= 1).drop(
                "nsplits"
            ),
        )
        forced_split_col = "_forced_split"
        split_key = "component"

    # 5. append with the same content-stable split gate.
    # localCheckpoint first: every stage above reads dataset_dir, and the
    # append below triggers Spark's recache-by-path — a lazy survivor
    # plan would be recomputed against the GROWN dataset (the id
    # anti-join then sees its own output and the manifest collapses to
    # zero).  Checkpointing materializes the survivors and cuts the
    # lineage to the dataset path.  The audit column stays out of the
    # appended dataset (same schema discipline as curate()).
    docs = docs.drop("__ntok").localCheckpoint(eager=True)
    log.release()
    # drop the known-clean marker BEFORE the dataset grows: from here
    # until the artifact appends land, a crash leaves dataset/artifact
    # out of step and the next increment must take the full count check
    try:
        os.remove(synced)
    except FileNotFoundError:
        pass
    manifest = materialize_splits(
        docs, dataset_dir, "doc_id", fractions, mode="append",
        split_key=split_key, forced_split_col=forced_split_col,
    )
    # collect the manifest driver-side (one row per split) and hand the
    # caller a literal DataFrame: forces materialization BEFORE the
    # artifact appends below without leaving a persist() cached for the
    # session's lifetime, and severs any lineage back to dataset_dir
    manifest_rows = manifest.collect()
    manifest = spark.createDataFrame(manifest_rows, manifest.schema)
    log.tick("append")
    # extend the dedup artifact with the appended docs so the NEXT
    # increment probes them too; docs is checkpointed, so the artifact
    # appends cannot be poisoned by their own writes.  A pre-artifact
    # dataset gets a one-time backfill from the GROWN dataset (a fresh
    # read, so it already includes this increment exactly once); its
    # header records only what is KNOWN (_resolve_policies).
    pindex_task = None
    if not lsh_family:
        # extend the prefix index with the appended survivors.  Runs
        # CONCURRENTLY with the _dedup fingerprints append (passed as
        # concurrent_extra): _synced is still created only after BOTH
        # land, and a crash between them is covered independently — the
        # fingerprint count check repairs the _dedup side, the pindex
        # header + n_docs check repairs a half-extended index.  A
        # missing index (pre-pindex exact dataset or crash debris)
        # backfills from the grown corpus.
        if have_pindex:
            def pindex_task() -> None:
                dd.prefix_index_add(docs, pind)
        else:
            def pindex_task() -> None:
                dd.write_prefix_index(
                    spark.read.parquet(dataset_dir),
                    pind,
                    k=_DEDUP_LSH["k"],
                    threshold=pindex_floor,
                )
    if have_art:
        # bake only a RECORDED cap into the appended buckets — an
        # explicit probe-only cap on a capless dataset must not leave
        # the artifact partially capped against its own header.
        # Reuse the batch bucket table the near-dedup (or split-guard)
        # stage already materialized, filtered to the survivors: the
        # append must not pay the batch signature map a second time.
        target, mode, cap = docs, "append", recorded.get("max_bucket")
        if bkts is not None:
            bkts = bkts.join(
                docs.select(F.col("doc_id").alias("id")), "id", "left_semi"
            )
    else:
        target, mode, cap = (
            spark.read.parquet(dataset_dir), "overwrite", max_bucket
        )
        bkts = None
    _write_dedup_artifact(
        target, dataset_dir, mode=mode,
        extra_meta=_curation_record(policy, known), max_bucket=cap,
        include_buckets=lsh_family,
        buckets=bkts,
        url_col=url_col,
        concurrent_extra=pindex_task,
    )
    # _write_dedup_artifact re-created the _synced marker after its
    # fingerprints append — the artifact is in step with the dataset again
    log.tick("artifact_extend")
    return manifest, report


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m planet_dump_ng_spark.llm_pipeline --input docs.parquet
    --output ./curated [--bench eval.parquet]``"""
    import argparse

    from planet_dump_ng_spark.session import get_spark

    p = argparse.ArgumentParser(
        prog="planet-dump-ng-spark-curate",
        description="Curate a raw document corpus into a training dataset.",
    )
    p.add_argument(
        "--input",
        help="documents input path (required except with --compact-dedup)",
    )
    p.add_argument(
        "--input-format",
        choices=("parquet", "jsonl"),
        default="parquet",
        help="jsonl reads with the explicit documents schema and "
        "quarantines malformed lines to <output>_quarantine "
        "(auditable ingest; never silent drops)",
    )
    p.add_argument("--output", required=True, help="dataset output dir")
    p.add_argument(
        "--increment",
        action="store_true",
        help="treat --input as a NEW batch and APPEND its survivors to "
        "the existing --output dataset (idempotent continuous ingest: "
        "exact/near dedup run batch-vs-corpus, never a corpus rescan; "
        "splits stay content-consistent).  Stage flags beyond the dedup/"
        "decontamination/quality gates are ignored in this mode.",
    )
    p.add_argument("--bench", help="eval-set parquet to decontaminate against")
    p.add_argument(
        "--embeddings",
        help="optional embeddings parquet (vec_id = doc_id) enabling the "
        "SemDeDup semantic-dedup stage",
    )
    p.add_argument("--semantic-threshold", type=float, default=0.9)
    # None default: a fresh curate resolves to 0.8; an --increment
    # inherits the dataset's recorded threshold (contradicting it raises)
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument("--containment-threshold", type=float, default=0.5)
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument("--max-stopword-ratio", type=float, default=0.7)
    p.add_argument(
        "--no-pii-scrub",
        action="store_true",
        help="skip the PII masking transform (on by default)",
    )
    p.add_argument(
        "--mix-weights",
        help="per-source keep fractions, e.g. 'src0=1.0,src1=0.5' "
        "(sources not listed are dropped)",
    )
    p.add_argument(
        "--pack-capacity",
        type=int,
        help="also write a <output>_pack manifest of global token "
        "offsets at this bin capacity (e.g. 2048)",
    )
    p.add_argument(
        "--export-jsonl",
        help="after materializing the parquet dataset, also export it as "
        "split-partitioned JSONL (gzip) to this directory — the format "
        "most training loaders ingest directly; the parquet layout "
        "stays the canonical dataset",
    )
    p.add_argument(
        "--leakage-free-split",
        action="store_true",
        help="assign splits on the near-dup cluster representative so "
        "similar docs never straddle train/test (see --split-jaccard)",
    )
    p.add_argument(
        "--split-jaccard",
        type=float,
        default=None,
        help="similarity level that must not cross splits when "
        "--leakage-free-split is on (default 0.3; with --increment, "
        "omitted = inherit the dataset's recorded value, contradicting "
        "it raises)",
    )
    p.add_argument(
        "--classifier-margin",
        type=float,
        help="enable the learned linear quality gate: keep docs whose "
        "classifier margin exceeds this value (0.0 = the model's own "
        "decision boundary; off when omitted)",
    )
    p.add_argument(
        "--lang-temperature",
        type=float,
        help="temper the language mix toward count**alpha shares by "
        "deterministic downsampling (0.5 = mT5's sqrt rule, 1.0 = no-op "
        "natural mix; off when omitted)",
    )
    p.add_argument(
        "--quality-temper",
        help="soft quality gate: comma list of 4 keep fractions for the "
        "token-count quartiles bottom-to-top, e.g. '0.25,0.5,0.75,1.0' "
        "(off when omitted; a hard cutoff is --min-tokens)",
    )
    p.add_argument(
        "--token-budget",
        type=int,
        help="cap the curated corpus at this many whitespace tokens, "
        "keeping the highest classifier-margin documents first (the "
        "budget boundary cuts exactly; runs last, before the split)",
    )
    p.add_argument(
        "--span-dedup-tokens",
        type=int,
        help="enable C4-style span dedup: rewrite each document to only "
        "the N-token spans whose first corpus-wide occurrence it owns "
        "(repeated boilerplate is excised, not the whole page; docs "
        "left empty drop; off when omitted — 10 is a typical N)",
    )
    p.add_argument(
        "--lsh-mode",
        choices=("pairs", "star", "auto"),
        default=None,
        help="near-dedup candidate emission: 'star' (the fresh-curation "
        "default) pairs bucket members with the bucket-minimum id — "
        "O(B) per bucket instead of O(B^2), the mode crawl-scale "
        "corpora with viral-boilerplate clusters require; 'pairs' "
        "verifies every bucket-sharing pair (exhaustive opt-in — use "
        "when the leakage-free split guard must be exhaustive at low "
        "similarity, and bound it with --max-bucket); 'auto' measures "
        "the widest LSH bucket and picks pairs when exhaustive "
        "verification is affordable (<= 256 docs wide), star "
        "otherwise — the artifact records the resolved mode.  With "
        "--increment, omitted = inherit the dataset's recorded mode "
        "('auto' is curate-time only and raises)",
    )
    p.add_argument(
        "--near-dedup",
        choices=("lsh", "exact"),
        default=None,
        help="near-dup detection family: 'lsh' (the fresh-curation "
        "default — MinHash banding candidates, recall-trading scale "
        "path) or 'exact' — prefix-filtered SSJoin whose output is "
        "identical to exhaustive all-pairs Jaccard at the threshold; "
        "exact datasets persist a <output>_pindex prefix-index artifact "
        "their increments probe.  With --increment, omitted = inherit "
        "the dataset's recorded family (contradicting it raises)",
    )
    p.add_argument(
        "--max-bucket",
        type=int,
        default=None,
        help="LSH bucket cap: drop (pairs mode) or representative-cap "
        "buckets wider than this; baked into the dataset's _dedup "
        "bucket artifact and inherited by increments (contradicting a "
        "recorded cap raises).  Off when omitted",
    )
    p.add_argument(
        "--dsir-target",
        default=None,
        help="enable the DSIR domain gate: SQL boolean expression over "
        "the input's columns marking target-distribution rows (e.g. "
        "\"lang = 'en'\"); curate() trains the hashed n-gram importance "
        "model on its survivors, persists it at <output>_dsir, gates "
        "on mean per-feature weight, and records the policy — "
        "increments apply the FROZEN model (the flag is curate-time "
        "only and refused with --increment)",
    )
    p.add_argument(
        "--dsir-min-bits",
        type=float,
        default=None,
        help="DSIR gate threshold in mean log2-bits per feature "
        "(default 0.0 at curate time: keep docs that look more target "
        "than raw on average).  With --increment, omitted = inherit "
        "the recorded threshold; contradicting it raises",
    )
    p.add_argument(
        "--max-surprisal-bits",
        type=float,
        default=None,
        help="enable the CCNet-style LM-surprisal quality gate: train a "
        "bigram LM on this run's survivors, persist it at <output>_lm, "
        "and keep docs whose mean per-bigram surprisal under it is <= "
        "this many bits (integer-exact bit-length arithmetic).  With "
        "--increment, omitted = inherit the recorded ceiling and score "
        "under the FROZEN model; contradicting the record raises",
    )
    p.add_argument(
        "--url-col",
        default=None,
        help="enable canonical-URL exact dedup as the FIRST stage: one "
        "doc survives per canonicalized value of this column "
        "(lowercased scheme+host, fragment/tracking-params/default-"
        "port/trailing-slash stripped); the _dedup artifact gains a "
        "'urls' hash table increments probe.  With --increment, "
        "omitted = inherit the recorded column; contradicting it (or "
        "enabling on a dataset that never recorded it) raises",
    )
    p.add_argument(
        "--compact-dedup",
        action="store_true",
        help="maintenance mode: rewrite the <output>_dedup probe artifact "
        "at full width (many increments leave many small files; probe "
        "cost becomes file-count-bound).  Rename-swap crash safety; "
        "content and probe results are unchanged.  Runs alone — no "
        "--input needed.",
    )
    p.add_argument(
        "--build-bm25-index",
        metavar="DIR",
        help="after materialization, build the persisted BM25 index "
        "(operators.text_index) over the curated TRAIN split into DIR — "
        "ship the dataset searchable",
    )
    p.add_argument(
        "--train-tokenizer",
        metavar="DIR",
        help="after materialization, train a BPE tokenizer on the "
        "curated TRAIN split and persist the artifact "
        "(operators.tokenizer) into DIR — ship the dataset with the "
        "tokenizer trained on it",
    )
    p.add_argument(
        "--tokenizer-merges",
        type=int,
        default=32,
        help="merge rounds for --train-tokenizer (default 32)",
    )
    args = p.parse_args(argv)
    if args.compact_dedup:
        from planet_dump_ng_spark.session import get_spark as _gs

        stats = compact_artifacts(_gs("planet-dump-ng-spark-curate"), args.output)
        print(
            f"{'dedup_compact':16s} files {stats['dedup']['files_before']} "
            f"-> {stats['dedup']['files_after']}"
        )
        if stats["pindex"] is not None:
            print(
                f"{'pindex_compact':16s} files "
                f"{stats['pindex']['files_before']} -> "
                f"{stats['pindex']['files_after']}"
            )
        return 0
    if not args.input:
        p.error("--input is required (except with --compact-dedup)")
    mix = None
    if args.mix_weights:
        mix = {
            k: float(v)
            for k, v in (kv.split("=", 1) for kv in args.mix_weights.split(","))
        }

    spark = get_spark("planet-dump-ng-spark-curate")
    n_quarantined = 0
    if args.input_format == "jsonl":
        from planet_dump_ng_spark.sources import read_documents_jsonl

        docs, bad = read_documents_jsonl(spark, args.input)
        n_quarantined = bad.count()
        if n_quarantined:
            bad.write.mode("overwrite").json(args.output + "_quarantine")
    else:
        docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench) if args.bench else None
    embeddings = (
        spark.read.parquet(args.embeddings) if args.embeddings else None
    )
    if args.increment:
        if args.dsir_target is not None:
            raise SystemExit(
                "--dsir-target is curate-time only: increments score "
                "under the dataset's frozen model (omit the flag; use "
                "--dsir-min-bits only to restate the recorded threshold)"
            )
        manifest, report = curate_increment(
            docs,
            args.output,
            bench=bench,
            jaccard_threshold=args.jaccard_threshold,
            containment_threshold=args.containment_threshold,
            min_tokens=args.min_tokens,
            max_stopword_ratio=args.max_stopword_ratio,
            scrub_pii=not args.no_pii_scrub,
            # absent flag = None = inherit the dataset's recorded policy
            # (an increment must not silently downgrade a leakage-free
            # dataset just because the flag was omitted)
            leakage_free=True if args.leakage_free_split else None,
            split_jaccard=args.split_jaccard,
            lsh_mode=args.lsh_mode,
            max_bucket=args.max_bucket,
            dsir_min_bits=args.dsir_min_bits,
            near_dedup=args.near_dedup,
            max_surprisal_bits=args.max_surprisal_bits,
            url_col=args.url_col,
        )
        _print_attrition(report)
        for r in manifest.collect():
            print(f"split={r.split:6s} appended={r.n_rows}")
        return 0
    if args.dsir_min_bits is not None and args.dsir_target is None:
        # the increment path refuses the analogous half-specification
        # ("records no DSIR gate"); a fresh curate must not silently
        # skip a gate the user believes they configured
        raise SystemExit(
            "--dsir-min-bits without --dsir-target: no model would be "
            "trained, so no gate would run — pass --dsir-target to "
            "enable the DSIR domain gate"
        )
    manifest, report = curate(
        docs,
        args.output,
        bench=bench,
        jaccard_threshold=(
            0.8 if args.jaccard_threshold is None else args.jaccard_threshold
        ),
        containment_threshold=args.containment_threshold,
        min_tokens=args.min_tokens,
        max_stopword_ratio=args.max_stopword_ratio,
        scrub_pii=not args.no_pii_scrub,
        mix_weights=mix,
        pack_capacity=args.pack_capacity,
        embeddings=embeddings,
        semantic_threshold=args.semantic_threshold,
        classifier_margin=args.classifier_margin,
        leakage_free=args.leakage_free_split,
        split_jaccard=(
            0.3 if args.split_jaccard is None else args.split_jaccard
        ),
        lang_temperature=args.lang_temperature,
        span_dedup_tokens=args.span_dedup_tokens,
        quality_temper=tuple(
            float(x) for x in args.quality_temper.split(",")
        ) if args.quality_temper else None,
        token_budget=args.token_budget,
        lsh_mode=args.lsh_mode,
        max_bucket=args.max_bucket,
        dsir_target=args.dsir_target,
        dsir_min_bits=args.dsir_min_bits,
        near_dedup=args.near_dedup or "lsh",
        max_surprisal_bits=args.max_surprisal_bits,
        url_col=args.url_col,
    )
    if args.export_jsonl:
        (
            spark.read.parquet(args.output)
            .write.mode("overwrite")
            .partitionBy("split")
            .option("compression", "gzip")
            .json(args.export_jsonl)
        )
    if args.build_bm25_index:
        from planet_dump_ng_spark.operators import text_index as ti

        train = spark.read.parquet(args.output).filter(
            F.col("split") == "train"
        )
        postings, doclen = ti.build_bm25_index(train)
        ti.write_bm25_index(postings, doclen, args.build_bm25_index)
        meta = ti.read_bm25_meta(args.build_bm25_index)
        print(f"{'bm25_index':16s} {meta['n_docs']} docs indexed")
    if args.train_tokenizer:
        from planet_dump_ng_spark.operators import tokenizer as tk

        train = spark.read.parquet(args.output).filter(
            F.col("split") == "train"
        )
        tmeta = tk.write_bpe_tokenizer(
            train, args.train_tokenizer, n_merges=args.tokenizer_merges
        )
        print(f"{'tokenizer':16s} {tmeta['n_rules']} rules learned")
    if n_quarantined:
        print(f"{'quarantined':16s} {n_quarantined}")
    _print_attrition(report)
    for r in manifest.collect():
        print(f"split={r.split:6s} rows={r.n_rows} ids={r.n_ids}")
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main())
