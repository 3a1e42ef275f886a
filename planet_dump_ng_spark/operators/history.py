"""History -> current filtering (reference operator A1 + F5/F7).

The reference's history_filter (src/history_filter.cpp:30-257) streams
(id, version)-sorted elements, keeps the last version of each id (the
``left_over`` carry machinery handles block boundaries), then drops
invisible rows.  Here the rule "latest version, if visible" is a flag plus
a filter:

- :func:`flag_latest` marks each id's maximum version with a windowed
  ``max(version) over (partition by id)``.  A windowed MAX needs no ORDER
  BY, and over a frame already range-partitioned on id and sorted on
  (id, version) — the emit's arrangement, ``pipeline.arrange_elements`` —
  the window's distribution and ordering are already met, so it adds no
  Exchange and no Sort: one streaming pass over the sorted history, as in
  the reference.
- :func:`current_of` filters a flagged frame to the current view, so
  history and current outputs share one arrangement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

#: the column :func:`flag_latest` adds
LATEST = "_latest"


def flag_latest(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Add :data:`LATEST`: whether the row is its id's maximum version."""
    return df.withColumn(
        LATEST, F.col("version") == F.max("version").over(W.partitionBy(id_col))
    )


def current_of(flagged: DataFrame) -> DataFrame:
    """A1 + F5 over a :func:`flag_latest` frame: latest version per id,
    deleted elements dropped (history_filter.cpp:49-51,115-117,196-198;
    README.md:82-87)."""
    return flagged.filter(F.col(LATEST) & F.col("visible")).drop(LATEST)


def current_view(df: DataFrame, id_col: str = "id") -> DataFrame:
    """The current view of a history frame in any layout."""
    return current_of(flag_latest(df, id_col))

