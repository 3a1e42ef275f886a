"""Input connectors: pg_dump COPY text decode + parquet staging."""

from planet_dump_ng_spark.sources.copy_source import (  # noqa: F401
    extract_tables_parallel,
    read_copy_table,
    split_dump_file,
)
from planet_dump_ng_spark.sources.jsonl_source import (  # noqa: F401
    read_documents_jsonl,
    write_documents_jsonl,
)
