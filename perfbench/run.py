"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload planet_full --seed 1 --seconds 17 --trace 0

From the root of a checkout of this repository.  The run makes its inputs
from ``--seed``, starts Spark on ``local[<cores>]`` (median of five
session set-ups on the running JVM), runs one warm-up pass of the
workload that is checked but not timed, then timed passes while the next
one is expected to end within ``--seconds`` (at least one), checking every
pass's outputs.  Times are wall times less the share of CPU time the
hypervisor stole (see ``Pass.own_wall``); ``wall_s`` is the median over
the timed passes.  With ``--trace 1`` the warm-up pass is followed by one
traced pass (spans around each layer's public functions, Spark event log
on), one untraced pass, and single-layer probes instead, and the run
reports the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
where ``attempted``/``failed`` count the outputs checked.  Everything the
run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import check
from tracing import (LAYERS, RssSampler, Tracer, cpu_ticks, event_log_counters, self_times,
                     stolen_share)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "output_mb": "MB",
    "scratch_mb": "MB",
}

CURATE_PHASES = ("raw", "exact_dedup", "near_dedup", "decontaminated", "quality",
                 "materialize", "dedup_artifact")
INCREMENT_PHASES = ("setup", "batch_exact", "stale_check", "corpus_exact", "near_dedup",
                    "decontaminated", "quality", "append", "artifact_extend")

PER_LAYER = {
    "sources.split_s": "s", "sources.input_mb": "MB", "sources.rows": "count",
    "sources.escaped_share": "share",
    "staging.stage_s": "s", "staging.stage_mb": "MB",
    "assembly.build_s": "s", "assembly.nodes_s": "s", "assembly.ways_s": "s",
    "assembly.relations_s": "s", "assembly.changesets_s": "s",
    "assembly.rows_out": "count",
    "history.current_view_s": "s", "history.current_share": "share",
    "pipeline.emit_s": "s", "pipeline.emit_serial_s": "s",
    "pipeline.multicast_gain": "ratio",
    "xml_sink.planet_s": "s", "xml_sink.history_s": "s",
    "xml_sink.changesets_s": "s", "xml_sink.bz2_ratio": "ratio",
    "pbf_sink.planet_s": "s", "pbf_sink.history_s": "s", "pbf_sink.mb": "MB",
    **{f"llm_pipeline.curate.{p}_s": "s" for p in CURATE_PHASES},
    **{f"llm_pipeline.increment.{p}_s": "s" for p in INCREMENT_PHASES},
    "llm_pipeline.increment_s": "s", "llm_pipeline.keep_share": "share",
    "llm_pipeline.appended": "count",
    "session.cold_setup_s": "s", "session.warmup_s": "s", "session.stolen_share": "share",
    "session.peak_rss_mb": "MB",
    "session.jobs": "count", "session.tasks": "count",
    "session.executor_run_s": "s", "session.gc_s": "s", "session.busy_share": "share",
    "session.shuffle_write_mb": "MB", "session.spill_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "check.failed_share": "share",
    "trace.overhead_s": "s",
}

SETUPS = 6  # the first launches the JVM; setup_s is the median of the others


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T_START:6.1f} s] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> int:
    """Process environment the session and its Python workers inherit:
    the checkout on the workers' import path, every scratch directory
    inside ``work``.  Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the program's own JVM options, plus a temp directory in the checkout
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xlog:disable -Xlog:all=warning:stderr:uptime,level,tags -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        # no /tmp/hsperfdata_<user> file from any JVM the run starts
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    return cores


def set_up_sessions(work: str, event_dir: str | None):
    """``SETUPS`` times: stop the previous session, then ``get_spark`` plus
    one trivial job.  The first set-up also launches the JVM.  The last
    one carries the event-log settings of a traced run."""
    from planet_dump_ng_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    times, spark = [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        extra = dict(conf)
        if event_dir and i == SETUPS - 1:
            os.makedirs(event_dir, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + event_dir,
                          "spark.eventLog.compress": "false"})
        t0, ticks0 = time.perf_counter(), cpu_ticks()
        spark = get_spark("perfbench", extra_conf=extra)
        spark.range(1).count()
        times.append((time.perf_counter() - t0) * (1 - stolen_share(ticks0, cpu_ticks())))
    return spark, times


def shut_down(spark, known_pids: set[int]) -> None:
    """Stops the session, then the JVM, then waits for every process the
    run started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    others = known_pids - {os.getpid()}
    while others and time.monotonic() < deadline:
        others = {p for p in others if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in others:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclasses.dataclass
class Pass:
    wall: float  # seconds in the workload's run() alone
    start: float  # epoch seconds when run() began
    end: float  # and ended
    stolen: float  # share of the CPU time the run() wanted that the hypervisor gave others
    sizes: dict
    stats: dict
    res: dict

    @property
    def own_wall(self) -> float:
        """Wall time less the share the hypervisor stole: what the pass
        takes on CPUs of its own, which other guests' load does not move."""
        return self.wall * (1 - self.stolen)


class Run:
    """One benchmark run: passes, their checks, and the tallies."""

    def __init__(self, work: str, book_path: str) -> None:
        self.work = work
        self.book = check.DigestBook(book_path)
        self.rss = RssSampler()
        self.attempted = self.failed = 0
        self.crashed = False
        self.n_pass = 0

    def one_pass(self, spark, wl, tracer=None, keep: bool = False) -> Pass | None:
        """Runs, sizes and checks one pass of ``wl``; None when it crashed.
        The pass directory is removed unless ``keep``."""
        self.n_pass += 1
        pass_dir = os.path.join(self.work, f"pass{self.n_pass}")
        os.makedirs(pass_dir)
        if tracer is not None:
            tracer.active = True
        try:
            start, t0, ticks0 = time.time(), time.perf_counter(), cpu_ticks()
            res = wl.run(spark, pass_dir)
            wall, end = time.perf_counter() - t0, time.time()
            stolen = stolen_share(ticks0, cpu_ticks())
        except Exception:
            traceback.print_exc()
            self.crashed = True
            return None
        finally:
            if tracer is not None:
                tracer.active = False
        sizes = wl.sizes(res)
        per_output, stats = wl.check(spark, res)
        for name, (failures, digest) in per_output.items():
            self.record(failures + self.book.check(name, digest))
        if not keep:
            shutil.rmtree(pass_dir)
        log(f"pass {self.n_pass}: {wall:.2f} s{' (traced)' if tracer else ''}, "
            f"{stolen:.1%} stolen")
        return Pass(wall, start, end, stolen, sizes, stats, res)

    def record(self, failures: list[str]) -> None:
        """Counts one checked output, failed when ``failures`` is not empty."""
        self.attempted += 1
        self.failed += bool(failures)
        for f in failures:
            log(f"check failed: {f}")


def end_to_end(wl, setups, passes) -> dict:
    wall = statistics.median(p.own_wall for p in passes)
    return {
        "setup_s": statistics.median(setups[1:]),
        "wall_s": wall,
        "rows_per_s": wl.input_rows / wall,
        "output_mb": statistics.median(p.sizes["output"] for p in passes) / 1e6,
        "scratch_mb": statistics.median(p.sizes["scratch"] for p in passes) / 1e6,
    }


def per_layer(run: Run, wl, setups, warmup, traced, warm, spans, layer, counters) -> dict:
    """Every PER_LAYER metric: the workload's own (``layer``), the session
    counters, self times; 0 for a layer the workload does not run.
    ``warmup`` is the first pass in the JVM, ``traced`` the pass after it
    and ``warm`` an untraced pass after that."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update((k, v) for k, v in layer.items() if k in PER_LAYER)
    m.update(counters)
    m["sources.input_mb"] = wl.input_bytes / 1e6
    m["sources.rows"] = wl.input_rows
    for name, s in self_times(spans).items():
        m[f"self.{name}_s"] = s
    m["session.cold_setup_s"] = setups[0]
    m["check.failed_share"] = run.failed / max(1, run.attempted)
    m["session.stolen_share"] = statistics.median(p.stolen for p in (warmup, traced, warm))
    m["session.warmup_s"] = warmup.own_wall - warm.own_wall
    m["session.peak_rss_mb"] = run.rss.peak_bytes / 1e6
    m["trace.overhead_s"] = traced.own_wall - warm.own_wall
    return m


def measure(args, wl, work: str, cores: int):
    """Set-ups, the warm-up pass, then the timed passes or, with
    ``--trace 1``, the traced pass, an untraced pass after it, and the
    probes.  Returns (run, metrics); metrics are empty when a pass
    crashed."""
    event_dir = os.path.join(work, "events") if args.trace else None
    spark, setups = set_up_sessions(work, event_dir)
    log("set-ups: " + ", ".join(f"{t:.2f} s" for t in setups))
    run = Run(work, os.path.join(ROOT, ".bench_work", "digests",
                                 f"{wl.name}-n{wl.size}-seed{args.seed}.json"))
    passes, traced, warm, tracer, layer = [], None, None, None, {}
    try:
        with run.rss:
            # class loading, code generation, JIT, Python worker start-up
            # and heap growth of a fresh JVM, kept out of the timed passes
            warmup = run.one_pass(spark, wl)
            if args.trace and not run.crashed:
                tracer = Tracer(f"{args.workload}-seed{args.seed}")
                try:
                    traced = run.one_pass(spark, wl, tracer=tracer, keep=True)
                finally:
                    tracer.close()
                warm = None if run.crashed else run.one_pass(spark, wl)
            t_loop = time.perf_counter()
            while not args.trace and not run.crashed:
                t_pass = time.perf_counter()
                passes.append(run.one_pass(spark, wl))
                now = time.perf_counter()
                # another pass only when, as long as this one, it ends in time
                if 2 * now - t_pass - t_loop > args.seconds:
                    break
        if warm is not None:
            layer = wl.layer_metrics(traced.res, traced.stats, tracer.spans,
                                     os.path.join(work, "probe"))
            # a layer metric the benchmark does not list (a phase the
            # program added or renamed) fails the run instead of vanishing
            unknown = sorted(set(layer) - set(PER_LAYER))
            run.record([f"layer metric {k} is not in PER_LAYER" for k in unknown])
            app_id = spark.sparkContext.applicationId
        if tracer is not None:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    finally:
        run.book.save()
        shut_down(spark, run.rss.seen | set(run.rss.descendants()))
        log("stopped")
    if run.crashed:  # a crashed pass leaves warm or a timed pass None
        return run, {}
    if not args.trace:
        return run, end_to_end(wl, setups, passes)
    # the Spark jobs of the program's own calls, not of the checker's
    counters = event_log_counters(event_dir, app_id, traced.start, traced.end, cores)
    return run, per_layer(run, wl, setups, warmup, traced, warm, tracer.spans, layer, counters)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "planet_dump_ng_spark")):
        log(f"no planet_dump_ng_spark package in {ROOT}; run from a checkout "
            "of the repository")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cores = configure_env(work)
        cls = WORKLOADS[args.workload]
        wl = cls(cls.SIZE)
        wl.prepare(os.path.join(work, "input"), args.seed)
        log(f"inputs: {wl.input_rows} rows, {wl.input_bytes / 1e6:.1f} MB")
        run, metrics = measure(args, wl, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.4f} {units[name]}", file=sys.stderr)
    correct = not run.crashed and run.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed + (1 if run.crashed else 0),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
