"""Output sinks: OSM XML and OSM PBF planet files."""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager


@contextmanager
def committed(out_path: str, parts_dir: str):
    """Crash-safe single-file output.  Yields a temporary path in
    ``out_path``'s directory to write the whole file to; when the block
    ends without error it is renamed onto ``out_path`` (atomic on one
    filesystem), otherwise it is removed.  The executors' ``parts_dir`` is
    removed either way, so a failed write leaves nothing behind that looks
    like a finished output."""
    tmp = out_path + ".tmp"
    try:
        yield tmp
        os.replace(tmp, out_path)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
