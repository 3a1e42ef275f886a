"""Element assembly: the engine's central IR (SURVEY.md section 3.3).

Re-expresses the reference's phase-2 streaming sort-merge joins
(src/copy_elements.cpp:166-235) as declarative DataFrame ops: per element
type, filter -> equi-join inners -> collect ordered lists -> attribution
joins.  Catalyst picks sort-merge for the big fact-fact joins and broadcast
for the user dimension; the hand-built cursor machinery disappears.

Scale notes (100 TB planet):
- elements x tags / inners join on (id, version): both sides shuffle-hash
  or SMJ on the same key; pre-bucketing both tables by id makes it
  co-located.
- changeset_id -> uid attribution (J6) is a join against the CHANGESETS
  table: ~10^8 rows for the full planet — deliberately NOT broadcast
  (SURVEY.md section 4); AQE may still broadcast it at small SF.
- uid -> display_name (J7) joins the filtered PUBLIC users (F4): small
  dimension, explicitly broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planet_dump_ng_spark.schemas import ID_COLUMN


def filter_valid(df: DataFrame, id_col: str) -> DataFrame:
    """Redaction filter (F2, copy_elements.cpp:211-214) + negative-id
    filter (F3, :216-218).  Both push down to the parquet scan."""
    return df.filter(F.col("redaction_id").isNull() & (F.col(id_col) >= 0))


def public_users(users: DataFrame) -> DataFrame:
    """F4: only data_public users may be attributed
    (copy_elements.cpp:332-336)."""
    return users.filter(F.col("data_public")).select(
        F.col("id").alias("_uid"), F.col("display_name").alias("_display_name")
    )


def _sorted_tags(tags: DataFrame, id_col: str, with_version: bool) -> DataFrame:
    """Per-element tag list in UTF-8-byte key order (README.md:106-112;
    byte compare dump_reader.cpp:379-390 == Spark's string ordering).
    array_sort on struct(k, v) orders by k first, ties by v."""
    keys = [id_col] + (["version"] if with_version else [])
    return (
        tags.groupBy(*[F.col(k) for k in keys])
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("k"), F.col("v")))
            ).alias("tags")
        )
    )


def assemble_elements(
    elements: DataFrame,
    tags: DataFrame,
    table: str,
    inners: DataFrame | None = None,
) -> DataFrame:
    """J1 (+J2/J3): element rows + ordered tag list (+ ordered inner list).

    Output column ``id`` is the canonical element id; ``tags`` is
    array<struct<k,v>> in key-byte order; ways get ``nds`` (node refs by
    sequence_id, J2/xml_writer.cpp:576-586), relations get ``members``
    (by sequence_id, J3/:609-625).
    """
    id_col = ID_COLUMN[table]
    el = filter_valid(elements, id_col).withColumnRenamed(id_col, "id")

    tg = _sorted_tags(
        tags.withColumnRenamed("element_id", "id"), "id", with_version=True
    )
    out = el.join(tg, ["id", "version"], "left")

    if table == "ways":
        nds = (
            inners.groupBy(F.col("way_id").alias("id"), "version")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sequence_id", "node_id"))
                    ),
                    lambda s: s["node_id"],
                ).alias("nds")
            )
        )
        out = out.join(nds, ["id", "version"], "left")
    elif table == "relations":
        members = (
            inners.groupBy(F.col("relation_id").alias("id"), "version")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "sequence_id", "member_type", "member_id", "member_role"
                            )
                        )
                    ),
                    lambda s: F.struct(
                        s["member_type"].alias("member_type"),
                        s["member_id"].alias("member_id"),
                        s["member_role"].alias("member_role"),
                    ),
                ).alias("members")
            )
        )
        out = out.join(members, ["id", "version"], "left")

    empty_tags = F.array().cast("array<struct<k:string,v:string>>")
    out = out.withColumn("tags", F.coalesce(F.col("tags"), empty_tags))
    if table == "ways":
        out = out.withColumn(
            "nds", F.coalesce(F.col("nds"), F.array().cast("array<bigint>"))
        )
    if table == "relations":
        empty_m = F.array().cast(
            "array<struct<member_type:string,member_id:bigint,member_role:string>>"
        )
        out = out.withColumn("members", F.coalesce(F.col("members"), empty_m))
    return out


def check_changesets_present(assembled: DataFrame, changesets: DataFrame) -> None:
    """The PBF writer's strictness: every element's changeset_id must
    exist in the changesets table, else error (pbf_writer.cpp:312-318,
    377-383 — XML instead silently omits attribution).  One anti-join
    count; call before writing PBF when strict semantics are wanted."""
    missing = (
        assembled.select("changeset_id")
        .distinct()
        .join(
            changesets.select(F.col("id").alias("changeset_id")),
            "changeset_id",
            "left_anti",
        )
        .count()
    )
    if missing:
        raise ValueError(
            f"{missing} changeset id(s) referenced by elements are missing "
            "from the changesets table"
        )


def attribute_elements(
    assembled: DataFrame, changesets: DataFrame, users: DataFrame
) -> DataFrame:
    """J6 + J7: element -> changeset -> uid -> display_name.

    Left joins throughout: a missing changeset or non-public user renders
    the element anonymous (uid/user NULL), matching the XML writer's
    silent-omission path (xml_writer.cpp:376-386).  For the PBF writer's
    "missing changeset => error" strictness use
    :func:`check_changesets_present` first.
    """
    cs_uid = changesets.select(
        F.col("id").alias("_cs_id"), F.col("user_id").alias("_cs_uid")
    )
    pub = public_users(users)
    return (
        assembled.join(cs_uid, assembled.changeset_id == cs_uid._cs_id, "left")
        .join(
            F.broadcast(pub),
            F.col("_cs_uid").cast("long") == F.col("_uid"),
            "left",
        )
        # anonymous unless the user is public: uid only rides with a name
        .withColumn(
            "uid",
            F.when(F.col("_display_name").isNotNull(), F.col("_cs_uid")),
        )
        .withColumn("user", F.col("_display_name"))
        .drop("_cs_id", "_cs_uid", "_uid", "_display_name")
    )


def assemble_changesets(
    changesets: DataFrame,
    changeset_tags: DataFrame,
    comments: DataFrame,
    users: DataFrame,
) -> DataFrame:
    """J4 + J5 + A3/F6 + J7 for the changesets output.

    ``comments_count`` counts only VISIBLE comments (xml_writer.cpp:
    487-497); the ``comments`` list (for the discussion variant) also
    carries only visible ones, ordered by created_at (:511-531), each
    attributed via the public-users dimension.
    """
    tg = _sorted_tags(
        changeset_tags.withColumnRenamed("changeset_id", "id"),
        "id",
        with_version=False,
    )
    pub = public_users(users)
    vis = comments.filter(F.col("visible"))
    cm = (
        vis.join(F.broadcast(pub), vis.author_id == F.col("_uid"), "left")
        .groupBy(F.col("changeset_id").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("comments_count"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "created_at",
                        F.when(
                            F.col("_display_name").isNotNull(), F.col("author_id")
                        ).alias("author_id"),
                        F.col("_display_name").alias("author_name"),
                        "body",
                    )
                )
            ).alias("comments"),
        )
    )
    pub2 = public_users(users)
    out = (
        changesets.join(tg, ["id"], "left")
        .join(cm, ["id"], "left")
        .join(F.broadcast(pub2), changesets.user_id.cast("long") == pub2._uid, "left")
        .withColumn(
            "uid", F.when(F.col("_display_name").isNotNull(), F.col("user_id"))
        )
        .withColumn("user", F.col("_display_name"))
        .drop("_uid", "_display_name")
        .withColumn(
            "tags",
            F.coalesce(F.col("tags"), F.array().cast("array<struct<k:string,v:string>>")),
        )
        .withColumn("comments_count", F.coalesce(F.col("comments_count"), F.lit(0)))
    )
    return out


def max_data_timestamp(*dfs_and_cols: tuple[DataFrame, str]):
    """A2: global max timestamp across tables (table_extractor.hpp:10-19,
    planet-dump.cpp:144-151) — drives the <osm timestamp> header and the
    changeset open flag.  Returns a 1-row DataFrame; callers collect the
    scalar once (a driver-side scalar, not a per-row subquery)."""
    # one aggregate over the union of the columns: a single exchange
    # (one Spark job under AQE) instead of one per table
    cols = [df.select(F.col(c).alias("t")) for df, c in dfs_and_cols]
    out = cols[0]
    for c in cols[1:]:
        out = out.unionAll(c)
    return out.agg(F.max("t").alias("max_ts"))
