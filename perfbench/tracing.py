"""Measurement helpers: layer spans, process-tree RSS, Spark event-log
counters.

Spans are taken from outside the program: :class:`Tracer` swaps a module's
public function for a wrapper that records (name, layer, start, end,
parent, run id) around each call, and puts the original back when the
tracer is closed.  Only driver-side functions are wrapped — never one that
a Spark task could pickle — so the program's behaviour is unchanged.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time

#: (module, function, layer) for every call the traced run records.  A
#: function imported by name into another module is wrapped in both
#: places, since callers look it up in their own namespace.
TRACED = (
    ("planet_dump_ng_spark.pipeline", "run_dump", "pipeline"),
    ("planet_dump_ng_spark.pipeline", "split_dump_file", "sources"),
    ("planet_dump_ng_spark.pipeline", "read_copy_table", "sources"),
    ("planet_dump_ng_spark.pipeline", "load_copy_tables", "pipeline"),
    ("planet_dump_ng_spark.pipeline", "build_planet", "pipeline"),
    ("planet_dump_ng_spark.pipeline", "write_outputs", "pipeline"),
    ("planet_dump_ng_spark.sources", "read_documents_jsonl", "sources"),
    ("planet_dump_ng_spark.staging", "stage_table", "staging"),
    ("planet_dump_ng_spark.operators.assembly", "assemble_elements", "assembly"),
    ("planet_dump_ng_spark.operators.assembly", "attribute_elements", "assembly"),
    ("planet_dump_ng_spark.operators.assembly", "assemble_changesets", "assembly"),
    ("planet_dump_ng_spark.operators.assembly", "max_data_timestamp", "assembly"),
    ("planet_dump_ng_spark.operators.assembly", "check_changesets_present", "assembly"),
    ("planet_dump_ng_spark.operators.history", "current_view", "history"),
    ("planet_dump_ng_spark.sinks.xml_sink", "write_xml_file", "xml_sink"),
    ("planet_dump_ng_spark.sinks.xml_sink", "render_nodes", "xml_sink"),
    ("planet_dump_ng_spark.sinks.xml_sink", "render_ways", "xml_sink"),
    ("planet_dump_ng_spark.sinks.xml_sink", "render_relations", "xml_sink"),
    ("planet_dump_ng_spark.sinks.xml_sink", "render_changesets", "xml_sink"),
    ("planet_dump_ng_spark.sinks.pbf_sink", "write_pbf_file", "pbf_sink"),
    ("planet_dump_ng_spark.llm_pipeline", "curate", "llm_pipeline"),
    ("planet_dump_ng_spark.llm_pipeline", "curate_increment", "llm_pipeline"),
) + tuple(
    ("planet_dump_ng_spark.operators.dedup", f, "dedup")
    for f in (
        "dedup_keep_first", "lsh_buckets", "cap_lsh_buckets",
        "minhash_lsh_candidates", "minhash_lsh_join", "ngram_jaccard_pairs",
        "ngram_jaccard_join", "containment_pairs", "write_prefix_index",
        "prefix_index_add", "read_prefix_index",
    )
)

LAYERS = ("sources", "staging", "assembly", "history", "pipeline", "xml_sink",
          "pbf_sink", "llm_pipeline", "dedup")


def _out_path(args, kwargs) -> str | None:
    """The output file a sink call writes (for span names)."""
    for key in ("out_path", "path"):
        if key in kwargs:
            return kwargs[key]
    return next((a for a in args if isinstance(a, str)), None)


class Tracer:
    """Records spans while ``active``; ``close`` restores every wrapped
    function.  Span parent: the innermost open span of the calling thread,
    else of the thread that created the tracer (sink threads started by
    ``write_outputs`` hang under it)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        for mod_name, fn_name, layer in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            setattr(mod, fn_name, self._wrap(orig, fn_name, layer))
            self._restore.append((mod, fn_name, orig))

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = stack[-1] if stack else (
                self._main_stack[-1] if self._main_stack else None
            )
            label = name
            if layer in ("xml_sink", "pbf_sink") and name.startswith("write_"):
                label = f"{name}:{os.path.basename(_out_path(args, kwargs) or '')}"
            with self._lock:
                sid = len(self.spans)
                self.spans.append({"id": sid, "name": label, "layer": layer,
                                   "parent": parent, "run": self.run_id,
                                   "start": time.time(), "end": None})
            stack.append(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                self.spans[sid]["end"] = time.time()

        return wrapper

    def close(self) -> None:
        for mod, fn_name, orig in reversed(self._restore):
            setattr(mod, fn_name, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: the summed span time not covered by child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        kids = [(max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], []) if b > s["start"] and a < s["end"]]
        out[s["layer"]] += (s["end"] - s["start"]) - _union(kids)
    return out


def span_seconds(spans: list[dict], prefix: str) -> float:
    """Summed duration of the spans whose name starts with ``prefix``."""
    return sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))


def span_union(spans: list[dict], prefix: str) -> float:
    """Wall time covered by the spans whose name starts with ``prefix``."""
    return _union([(s["start"], s["end"]) for s in spans if s["name"].startswith(prefix)])


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) from ``/proc`` on a background thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop: threading.Event | None = None
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def descendants(self) -> dict[int, int]:
        """{pid: parent pid} for this process and all its descendants."""
        parent_of = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # the command name may hold spaces: fields resume after ')'
            parent_of[int(entry)] = int(stat[stat.rindex(b")") + 2:].split()[1])
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent_of.items() if pp in frontier} - tree
        return {p: parent_of[p] for p in tree}

    @staticmethod
    def _read(path: str) -> bytes:
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except OSError:
            return b""

    def sample(self) -> int:
        tree = self.descendants()
        self.seen.update(tree)
        cmd = {p: self._read(f"/proc/{p}/cmdline") for p in tree}
        total = 0
        for pid, parent in tree.items():
            # a JVM child still running the JVM's command line is a spawn
            # helper between vfork and exec: it shares the JVM's memory
            if cmd[pid] and cmd[pid] == cmd.get(parent) and b"java" in cmd[pid].split(b"\0")[0]:
                continue
            statm = self._read(f"/proc/{pid}/statm").split()
            total += int(statm[1]) * self._page if statm else 0
        return total

    def _loop(self, stop: threading.Event) -> None:
        while not stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        """Samples until the ``with`` block ends; ``peak_bytes`` keeps the
        maximum over every block."""
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(self._stop,),
                                        name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from ``/proc/stat``:
    stolen ticks are those a virtual CPU wanted to run but the hypervisor
    ran another guest."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings that
    the hypervisor gave to other guests."""
    busy, stolen = (b - a for a, b in zip(before, after))
    return stolen / max(1, busy + stolen)


def event_log_counters(log_dir: str, app_id: str, t0: float, t1: float, cores: int) -> dict:
    """Spark runtime counters for the jobs submitted in [t0, t1] (epoch
    seconds), parsed from the uncompressed event log of ``app_id``."""
    jobs, stages_in_window, tasks = 0, set(), []
    files = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if app_id not in name:
            continue
        if os.path.isdir(path):  # rolling log: eventlog_v2_<app>/events_*
            files += [os.path.join(path, f) for f in sorted(os.listdir(path))
                      if f.startswith("events")]
        else:
            files.append(path)
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0 * 1000 <= ev["Submission Time"] <= t1 * 1000:
                        jobs += 1
                        stages_in_window.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    run_ms = gc_ms = shuffle_b = spill_b = 0
    n_tasks = 0
    for stage, m in tasks:
        if stage not in stages_in_window:
            continue
        n_tasks += 1
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill_b += m.get("Disk Bytes Spilled", 0)
    wall = max(t1 - t0, 1e-9)
    return {
        "session.jobs": jobs,
        "session.tasks": n_tasks,
        "session.executor_run_s": run_ms / 1000,
        "session.gc_s": gc_ms / 1000,
        "session.busy_share": run_ms / 1000 / (wall * cores),
        "session.shuffle_write_mb": shuffle_b / 1e6,
        "session.spill_mb": spill_b / 1e6,
    }
