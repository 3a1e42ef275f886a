"""DataFrame -> DataFrame operators.

``assembly`` and ``history`` are the OSM path's and mirror the reference's
semantics (cited per module).  The rest are the ones ``llm_pipeline``
chains: ``dedup``, ``text``, ``dsir``, ``lm``, ``ivf``, ``graph``,
``sampling``, ``dataset``, ``text_index`` and ``tokenizer``.
``similarity`` serves ``ivf``.  ``layout``, ``linalg``, ``multimodal``,
``sketches``, ``skew``, ``temporal`` and ``unigram`` are legacy: only the
query registry (``plans``) and the side CLIs use them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compact_python_input(
    df: DataFrame, bytes_per_task: int = 128 << 20
) -> DataFrame:
    """Cap a Python-boundary stage's task count by the input's ACTUAL
    bytes — the inverse of ``dedup.spread_small_input``.

    The session's small-input scan floor (session.py openCostInBytes)
    exists so CPU-dense JVM scans use every core, but it splits by BYTE
    RANGE: a small parquet table is one row group, so the extra splits
    are EMPTY — and an Arrow ``mapInPandas`` stage still pays a Python
    worker round-trip per split (measured ~0.35 s per task warm: a
    7-task stage with 6 empty splits took 2.5 s where 1 task takes
    0.3 s).  Coalescing to ceil(bytes / bytes_per_task) restores one
    task per 128 MB — identical to the production split size, so at
    scale this is a NO-OP (the coalesce target equals the scan's own
    partition count) and at bench scale it collapses the empty splits.

    File sizes are read for local ``file:`` URIs only; any other scheme
    or a non-scan input returns ``df`` unchanged (keep Spark's layout —
    remote stores are the at-scale case where the floor is inert
    anyway).  Coalesce never shuffles and never RAISES parallelism.
    """
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    total = 0
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", ""):
            return df
        try:
            total += os.path.getsize(unquote(p.path))
        except OSError:
            return df
    want = max(1, -(-total // bytes_per_task))
    # coalesce never RAISES parallelism (a target above the current
    # partition count is a runtime no-op), so no getNumPartitions()
    # probe is needed — that call would force full physical planning at
    # operator-construction time for every caller
    return df.coalesce(want)
