"""planet_dump_ng_spark — a PySpark rebuild of zerebubuth/planet-dump-ng,
plus a training-data curation path.

The reference (C++03/Boost) is a fixed-plan batch ETL pipeline: pg_dump
archive -> typed table scans -> external sort -> streaming sort-merge joins
(element x tags x inners) -> decorator filters -> XML/PBF sinks.  Here:

- ``cli`` / ``pipeline``: the planet-dump-ng flag surface and the
  dump -> decode -> stage -> assemble -> emit lifecycle (``run_dump``).
- ``sources``   : COPY-text decode (dump_reader.cpp / unescape_copy_row.hpp)
                  and the JSONL corpus connector; ``staging`` writes the
                  decoded tables to parquet with resume markers
                  (dump_archive.cpp).
- ``operators`` : element assembly joins (copy_elements.cpp), the
                  latest-version "history filter" (history_filter.cpp),
                  attribution joins (changeset_map.cpp), and the
                  operators curation chains.
- ``functions`` : the protobuf wire codec the PBF sink uses.
- ``sinks``     : OSM XML (xml_writer.cpp) and PBF (pbf_writer.cpp) writers.
- ``llm_pipeline``: ``curate`` / ``curate_increment`` and their CLI.
- ``session`` / ``worker_daemon``: the tuned SparkSession and the Python
  worker daemon it starts.
- ``plans``, ``streaming`` and the side CLIs (``*_cli``, ``dataset_card``):
  legacy.  The retired scoring driver's query registry and tools, which no
  production path reaches; they stay while tests still check them
  (tests/test_layout.py pins the set).

Everything is DataFrame/Catalyst-first; Python UDFs appear only where the
built-in operators genuinely cannot express the semantics (stateful binary
encoders in sinks, vectorized kernels in curation).
"""

__version__ = "0.1.0"
