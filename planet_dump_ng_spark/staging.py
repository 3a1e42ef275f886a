"""Parquet staging + resume markers (reference operator S9).

The reference writes per-table sorted KV files once, then every output
pass re-reads them (src/dump_archive.cpp:28-63, '.complete' marker files
with a max-timestamp payload).  The Spark analog: decode each COPY table
ONCE into a parquet stage directory with a completion marker; every
downstream action then scans columnar parquet (pruned + pushed-down)
instead of re-parsing text — which matters doubly here because Spark
re-executes lineage per write action.

Resume semantics match dump_archive.cpp:37-54: a table with a marker is
skipped entirely; without a marker its stage dir is discarded and rebuilt.
Unlike the reference, a marker is only trusted for what it was made from:
it records the table's decode schema, and the stage directory records the
dump it was staged from (:func:`claim_stage`), so resuming after a decode
change or against another dump rebuilds instead of reusing stale tables.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MARKER = "_COMPLETE"
SOURCE = "_SOURCE"


def dump_identity(dump_file: str) -> dict:
    """What a stage is staged from: the dump's real path, size and mtime."""
    real = os.path.realpath(dump_file)
    st = os.stat(real)
    return {"path": real, "size": st.st_size, "mtime_ns": st.st_mtime_ns}


def claim_stage(stage_dir: str, dump_file: str) -> None:
    """Bind ``stage_dir`` to ``dump_file``.  A stage recorded for any other
    dump, or with no record at all, is discarded whole, so no marker in it
    can be resumed from."""
    ident = dump_identity(dump_file)
    record = os.path.join(stage_dir, SOURCE)
    try:
        with open(record, encoding="utf-8") as fh:
            if json.load(fh) == ident:
                return
    except (FileNotFoundError, ValueError):
        pass
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(stage_dir)
    with open(record, "w", encoding="utf-8") as fh:
        json.dump(ident, fh)


def _schema_key(schema: StructType) -> str:
    # names and types in order; nullability is left out because file
    # sources force every column nullable on read
    return schema.simpleString()


def stage_table(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str,
    table: str,
    resume: bool = False,
) -> DataFrame:
    """Write ``df`` to <stage_dir>/<table> parquet (idempotent) and return
    a DataFrame reading it back.  With ``resume`` and a completion marker
    present, skips the write and reads the existing stage."""
    path = os.path.join(stage_dir, table)
    marker = os.path.join(path, MARKER)
    # The read-back schema is the decode plan's own schema — passing it
    # explicitly skips the per-table parquet footer-inference job (12
    # staged tables = 12 jobs per pipeline run whose wall is pure
    # job-launch latency; the operators/lm.py read-back trick).  File
    # sources force user schemas nullable on read, which is exactly what
    # footer inference yields for these decoded tables, so the plan is
    # unchanged beyond the skipped jobs.
    if resume and is_staged(stage_dir, table, df.schema):
        return spark.read.schema(df.schema).parquet(path)
    if os.path.exists(path):
        shutil.rmtree(path)
    df.write.mode("overwrite").parquet(path)
    with open(marker, "w", encoding="utf-8") as fh:
        json.dump({"schema": _schema_key(df.schema)}, fh)
    return spark.read.schema(df.schema).parquet(path)


def is_staged(stage_dir: str, table: str, schema: StructType | None = None) -> bool:
    """Whether ``table`` has a completion marker; with ``schema``, also
    whether the marker was written for that decode schema."""
    try:
        with open(os.path.join(stage_dir, table, MARKER), encoding="utf-8") as fh:
            recorded = json.load(fh)
    except (FileNotFoundError, ValueError):
        return False
    return schema is None or recorded.get("schema") == _schema_key(schema)
