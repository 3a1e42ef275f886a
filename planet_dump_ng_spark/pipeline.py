"""End-to-end planet pipeline (reference lifecycle, SURVEY.md section 3).

Mirrors src/planet-dump.cpp:154-271 as a DataFrame program:

  phase 1  extract:  per-table COPY decode -> typed frames (optionally
           staged to parquet for resume, operator S9)
  phase 2  assemble: filters + inner joins + attribution per element type
  phase 3  emit:     one arrangement per element type — range-partitioned
           on id, sorted on (id, version), the latest version flagged —
           is both the history stream and, filtered, the current stream
           (history_filter.cpp's single sorted pass); arrangements read
           by several outputs are persisted, so N outputs = N Spark jobs
           on one lineage (the reference's multicast barrier machinery,
           copy_elements.cpp:372-415, becomes .persist()).

The reference's fixed inter-type ordering (changesets before elements so
writers learn changeset->uid, planet-dump.cpp:242-249) dissolves into an
explicit join in attribute_elements — no ordering constraint remains.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from planet_dump_ng_spark.operators import assembly, history
from planet_dump_ng_spark.schemas import TABLES
from planet_dump_ng_spark.sinks import pbf_sink, xml_sink
from planet_dump_ng_spark.sources import (
    extract_tables_parallel,
    read_copy_table,
    split_dump_file,
)

ELEMENT_TABLES = (
    "users",
    "changesets",
    "changeset_tags",
    "changeset_comments",
    "nodes",
    "node_tags",
    "ways",
    "way_nodes",
    "way_tags",
    "relations",
    "relation_members",
    "relation_tags",
)

ELEMENT_TYPES = ("nodes", "ways", "relations")


@dataclass
class PlanetFrames:
    """The engine's central IR: assembled + attributed per-type frames."""

    changesets: DataFrame  # id, ..., tags, comments, comments_count, uid, user
    nodes: DataFrame  # id, version, ..., tags, uid, user
    ways: DataFrame  # + nds
    relations: DataFrame  # + members
    max_ts: datetime | None  # A2 global data timestamp


def load_copy_tables(
    spark: SparkSession, copy_dir: str, tables: tuple[str, ...] = ELEMENT_TABLES
) -> dict[str, DataFrame]:
    """Phase 1: one typed frame per table from per-table COPY text files
    (<copy_dir>/<table>.copy, as produced by sources.split_dump_file)."""
    out = {}
    for t in tables:
        path = os.path.join(copy_dir, f"{t}.copy")
        out[t] = read_copy_table(spark, path, t)
    return out


def build_planet(spark: SparkSession, tables: dict[str, DataFrame]) -> PlanetFrames:
    """Phase 2: assemble every element type and compute the data timestamp."""
    max_ts_row = assembly.max_data_timestamp(
        (tables["changesets"], "created_at"),
        (tables["nodes"], "timestamp"),
        (tables["ways"], "timestamp"),
        (tables["relations"], "timestamp"),
        (tables["changeset_comments"], "created_at"),
    ).collect()[0]
    max_ts = max_ts_row["max_ts"]

    nodes = assembly.attribute_elements(
        assembly.assemble_elements(tables["nodes"], tables["node_tags"], "nodes"),
        tables["changesets"],
        tables["users"],
    )
    ways = assembly.attribute_elements(
        assembly.assemble_elements(
            tables["ways"], tables["way_tags"], "ways", inners=tables["way_nodes"]
        ),
        tables["changesets"],
        tables["users"],
    )
    relations = assembly.attribute_elements(
        assembly.assemble_elements(
            tables["relations"],
            tables["relation_tags"],
            "relations",
            inners=tables["relation_members"],
        ),
        tables["changesets"],
        tables["users"],
    )
    changesets = assembly.assemble_changesets(
        tables["changesets"],
        tables["changeset_tags"],
        tables["changeset_comments"],
        tables["users"],
    )
    return PlanetFrames(changesets, nodes, ways, relations, max_ts)


@dataclass
class OutputSpec:
    """One requested output file (one CLI flag in the reference)."""

    path: str
    kind: str  # 'planet' | 'history' | 'changesets' | 'discussions'
    #        | 'pbf' | 'pbf-history'
    anonymize: bool = False  # the -no-userinfo variants (F9)


def arrange_elements(df: DataFrame) -> DataFrame:
    """One element type's arrangement for the emit: range-partitioned on
    id, sorted on (id, version) within partitions, with
    ``history.LATEST`` flagged.  All versions of an id share a partition
    and sit in order, so the flag's window reuses this layout (no Exchange
    or Sort of its own).  The arrangement IS the history stream;
    ``history.current_of`` filters it to the current stream."""
    return history.flag_latest(
        df.repartitionByRange(F.col("id")).sortWithinPartitions("id", "version")
    )


def write_outputs(
    frames: PlanetFrames,
    outputs: list[OutputSpec],
    generator: str = "planet-dump-ng-spark",
    meta: dict | None = None,
    dense_nodes: bool = True,
    compress_command: str | None = None,
) -> None:
    """Phase 3: one ordered single-file write per output spec.

    'planet' applies the current-view filter (A1+F5); 'history' keeps all
    versions; 'changesets'/'discussions' consume only the changesets frame
    (F7).  Each element type is arranged once (:func:`arrange_elements`)
    and each output is one Spark job over the arrangements; those read by
    more than one output are persisted (multicast).
    """
    # Scope canChangeCachedPlanOutputPartitioning=true over the WHOLE
    # phase: the conf is captured when each InMemoryRelation is created
    # (the .persist() of each arrangement), so it must be live before the
    # arrangements are built, not just around the write jobs.  With the
    # default (false) the persisted arrangements are frozen at the static
    # shuffle width, so a small dump pays width-many tasks + part files
    # per frame per output (measured ~2x on the 5-output fixture emit,
    # 12.4 -> 6.9 s best-of-4 interleaved A/B).  AQE coalescing follows
    # the advisory size, so at planet scale the arrangements keep their
    # thousands of ~advisory-sized partitions — scale-adaptive.  NOT set
    # globally: it hides cache partitioning from consumers, which costs
    # plans that REUSE it (each round of graph.connected_components
    # re-shuffles its persisted label state).  The emit's consumers
    # only scan the arrangements in partition order, so here the
    # unknown-partitioning trade costs nothing.
    _CACHED_REPART = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    spark_for_conf = frames.changesets.sparkSession
    _prev_repart = spark_for_conf.conf.get(_CACHED_REPART, None)
    spark_for_conf.conf.set(_CACHED_REPART, "true")
    try:
        _write_outputs_body(
            frames, outputs, generator, meta, dense_nodes, compress_command
        )
    finally:
        if _prev_repart is None:
            spark_for_conf.conf.unset(_CACHED_REPART)
        else:
            spark_for_conf.conf.set(_CACHED_REPART, _prev_repart)


def _write_outputs_body(
    frames: PlanetFrames,
    outputs: list[OutputSpec],
    generator: str,
    meta: dict | None,
    dense_nodes: bool,
    compress_command: str | None,
) -> None:
    """The body of :func:`write_outputs` (split out so the cached-
    repartitioning conf scope above wraps the arrangement persists AND
    the write jobs — InMemoryRelation captures the conf at persist
    time)."""
    # -- shared arrangements: sort each stream ONCE ----------------------
    # Every output variant consumes the same (id, version)-ordered stream;
    # the current view, rendering and anonymization are order-preserving
    # filters and projections, so one range-partition + sort per element
    # type (persisted when >1 output reads it) feeds every sink — the
    # reference's single-pass multicast (copy_elements.cpp:372-415) as
    # cached arrangements.
    uses_elements = sum(
        o.kind in ("planet", "history", "pbf", "pbf-history") for o in outputs
    )
    uses_changesets = sum(
        o.kind in ("planet", "history", "changesets", "discussions")
        for o in outputs
    )

    def shared(df, n_users):
        return df.persist() if n_users > 1 else df

    arranged = (
        {
            t: shared(arrange_elements(getattr(frames, t)), uses_elements)
            for t in ELEMENT_TYPES
        }
        if uses_elements
        else {}
    )
    cs_arranged = (
        shared(
            frames.changesets.repartitionByRange(F.col("id")).sortWithinPartitions(
                "id"
            ),
            uses_changesets,
        )
        if uses_changesets
        else None
    )

    def prepare(spec: OutputSpec):
        """Build the output's frames (driver-side planning only) and
        return the call that writes it."""
        if spec.kind in ("changesets", "discussions"):
            rendered = xml_sink.render_changesets(
                cs_arranged,
                frames.max_ts,
                anonymize=spec.anonymize,
                discussions=spec.kind == "discussions",
            )
            return functools.partial(
                xml_sink.write_xml_file,
                [(rendered, ["id"])],
                spec.path,
                generator,
                frames.max_ts,
                pre_arranged=True,
                meta=meta,
                compress_command=compress_command,
            )

        hist = spec.kind in ("history", "pbf-history")
        n, w, r = (
            arranged[t].drop(history.LATEST) if hist else history.current_of(arranged[t])
            for t in ELEMENT_TYPES
        )
        if spec.kind in ("pbf", "pbf-history"):
            return functools.partial(
                pbf_sink.write_pbf_file,
                n,
                w,
                r,
                spec.path,
                history=hist,
                anonymize=spec.anonymize,
                generator=generator,
                max_ts=frames.max_ts,
                pre_arranged=True,
                source=(meta or {}).get("source", pbf_sink.OSM_API_ORIGIN),
                dense_nodes=dense_nodes,
            )
        parts = [
            (
                xml_sink.render_changesets(
                    cs_arranged, frames.max_ts, anonymize=spec.anonymize
                ),
                ["id"],
            ),
            (xml_sink.render_nodes(n, hist, spec.anonymize), ["id", "version"]),
            (xml_sink.render_ways(w, hist, spec.anonymize), ["id", "version"]),
            (xml_sink.render_relations(r, hist, spec.anonymize), ["id", "version"]),
        ]
        return functools.partial(
            xml_sink.write_xml_file,
            parts, spec.path, generator, frames.max_ts, pre_arranged=True,
            meta=meta, compress_command=compress_command,
        )

    def check_changesets() -> None:
        # PBF strictness (pbf_writer.cpp:312-318): with full user info, an
        # element referencing a missing changeset must error, not silently
        # go anonymous (only XML is silent).  One union-ed anti-join before
        # any output, over the persisted arrangements when there are some.
        refs = functools.reduce(
            DataFrame.unionByName,
            [
                (arranged[t] if uses_elements > 1 else getattr(frames, t))
                .select("changeset_id")
                for t in ELEMENT_TYPES
            ],
        )
        assembly.check_changesets_present(
            refs, cs_arranged if uses_changesets > 1 else frames.changesets
        )

    cached = [
        df
        for df in (*arranged.values(), cs_arranged)
        if df is not None and df.is_cached
    ]
    strict = any(
        o.kind in ("pbf", "pbf-history") and not o.anonymize for o in outputs
    )

    def build_and_check() -> None:
        # Each persisted arrangement is built by its own job, all at once.
        # A cached plan runs its adaptive stages on the thread that first
        # reads it, so one query over several unbuilt caches (the check,
        # or an XML output's union) builds them one after another: a chain
        # of small jobs whose length follows the driver's latency.
        with ThreadPoolExecutor(max_workers=max(len(cached), 1)) as pool:
            list(pool.map(_build, cached))
        if strict:
            check_changesets()

    try:
        # the builds and the check run on a side thread while this one
        # plans every output (about a second of driver time for five
        # outputs), so the outputs' jobs start as soon as the check ends,
        # each one job over finished caches
        with ThreadPoolExecutor(max_workers=1) as side:
            ready = side.submit(build_and_check)
            writes = {spec.path: prepare(spec) for spec in outputs}
            ready.result()
        _write_all(writes, spark=frames.changesets.sparkSession)
    finally:
        for df in (*arranged.values(), cs_arranged):
            if df is not None and df.is_cached:
                df.unpersist()


def _build(df: DataFrame) -> None:
    """Materialize a persisted frame: one job, nothing collected."""
    df.write.format("noop").mode("overwrite").save()


def _write_all(writes: dict, spark) -> None:
    """Run every output's write ({path: call}), side by side when there
    are several.

    The reference's writers consume ONE multicast pass concurrently
    (planet-dump.cpp:242-259, one thread per writer).  Spark analog: each
    output's job is submitted from its own thread, in its own on-demand
    FAIR pool (pool name = thread-local property): with every job in one
    pool the pool's internal FIFO still serializes whole stages across
    outputs; one pool per output is what round-robins task slots between
    the writers (session.py sets spark.scheduler.mode=FAIR)."""
    if len(writes) < 2:
        for write in writes.values():
            write()
        return

    def write_pooled(path: str) -> None:
        name = os.path.basename(path)
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"emit-{name}")
        # label the output's job (guide §1: label your jobs), so event
        # logs attribute it to its output file
        sc.setJobDescription(f"emit:{name}")
        try:
            writes[path]()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
            sc.setJobDescription(None)

    # submit (not map): map surfaces only the FIRST failure while sibling
    # outputs still run to completion — failed paths must all be
    # reported, not just one.
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = {path: pool.submit(write_pooled, path) for path in writes}
    failures = {path: f.exception() for path, f in futures.items() if f.exception()}
    if failures:
        detail = "; ".join(f"{p}: {e!r}" for p, e in failures.items())
        raise RuntimeError(
            f"{len(failures)}/{len(writes)} outputs failed: {detail}"
        ) from next(iter(failures.values()))


def run_dump(
    spark: SparkSession,
    dump_file: str,
    outputs: list[OutputSpec],
    work_dir: str,
    generator: str = "planet-dump-ng-spark",
    resume: bool = False,
    stage: bool = True,
    meta: dict | None = None,
    dense_nodes: bool = True,
    compress_command: str | None = None,
) -> PlanetFrames:
    """Full lifecycle from a plain-format pg_dump file.

    With ``stage`` (default) every table is decoded once into parquet
    (staging.py, operator S9) so the N output actions scan columnar data
    instead of re-parsing COPY text N times; ``resume`` additionally skips
    tables whose stage is already marked complete for this dump and the
    current decode schema."""
    from planet_dump_ng_spark import staging

    copy_dir = os.path.join(work_dir, "copy")
    stage_dir = os.path.join(work_dir, "stage")
    if stage:
        staging.claim_stage(stage_dir, dump_file)
    all_staged = stage and all(
        staging.is_staged(stage_dir, t, TABLES[t][0]) for t in ELEMENT_TABLES
    )
    if resume and all_staged:
        tables = {
            t: spark.read.parquet(os.path.join(stage_dir, t))
            for t in ELEMENT_TABLES
        }
    else:
        if dump_file.endswith(".dmp"):  # custom-format archive: S1 front-end
            # per-table parallel pg_restore fan-out (the reference's 12
            # concurrent extraction passes) — no monolithic .sql
            # intermediate, no single-core split pass
            os.makedirs(work_dir, exist_ok=True)
            extract_tables_parallel(dump_file, copy_dir, list(ELEMENT_TABLES))
        else:
            split_dump_file(dump_file, copy_dir, list(ELEMENT_TABLES))
        tables = load_copy_tables(spark, copy_dir)
        if stage:
            # stage all 12 tables CONCURRENTLY: independent write jobs,
            # submitted from threads so the scheduler overlaps them (the
            # Spark analog of the reference's 12 parallel extraction
            # threads, planet-dump.cpp:127-140)
            with ThreadPoolExecutor(max_workers=12) as pool:
                futures = {
                    t: pool.submit(
                        staging.stage_table, spark, df, stage_dir, t, resume
                    )
                    for t, df in tables.items()
                }
                tables = {t: f.result() for t, f in futures.items()}
    frames = build_planet(spark, tables)
    write_outputs(
        frames,
        outputs,
        generator,
        meta=meta,
        dense_nodes=dense_nodes,
        compress_command=compress_command,
    )
    return frames
