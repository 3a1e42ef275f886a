"""The benchmark's workloads.  Each one makes its inputs from the seed,
runs one pass of the program over them through its public entry points,
checks the outputs and, in the traced run, probes single layers."""

from __future__ import annotations

import os
import time

import check
import gen_docs
import gen_osm
from tracing import span_seconds, span_union


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _noop(df):
    """Runs ``df`` to completion without keeping it; returns (rows, s)."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return obs.get["n"], time.perf_counter() - t0


class PlanetFull:
    """A history-rich element dump to the five reference outputs: planet
    and history XML, changesets XML, planet and history PBF."""

    name = "planet_full"
    SIZE = 16000  # node ids

    def __init__(self, size: int) -> None:
        self.size = size

    def prepare(self, input_dir: str, seed: int) -> None:
        os.makedirs(input_dir, exist_ok=True)
        self.dump = os.path.join(input_dir, "planet.sql")
        self.truth = gen_osm.generate_planet(self.dump, seed, self.size)
        self.input_rows = self.truth["input"]["rows"]
        self.input_bytes = self.truth["input"]["bytes"]

    def specs(self, out_dir: str):
        from planet_dump_ng_spark.pipeline import OutputSpec

        return [
            OutputSpec(os.path.join(out_dir, "planet.osm.bz2"), "planet"),
            OutputSpec(os.path.join(out_dir, "history.osm.bz2"), "history"),
            OutputSpec(os.path.join(out_dir, "changesets.osm.bz2"), "changesets"),
            OutputSpec(os.path.join(out_dir, "planet.osm.pbf"), "pbf"),
            OutputSpec(os.path.join(out_dir, "history.osm.pbf"), "pbf-history"),
        ]

    def run(self, spark, pass_dir: str) -> dict:
        from planet_dump_ng_spark import pipeline

        out_dir = os.path.join(pass_dir, "out")
        os.makedirs(out_dir)
        specs = self.specs(out_dir)
        frames = pipeline.run_dump(spark, self.dump, specs, os.path.join(pass_dir, "work"))
        return {"specs": specs, "frames": frames, "out_dir": out_dir,
                "work_dir": os.path.join(pass_dir, "work")}

    def sizes(self, res: dict) -> dict:
        return {"output": dir_bytes(res["out_dir"]), "scratch": dir_bytes(res["work_dir"])}

    def check(self, spark, res: dict):
        """Returns ({output: (failures, digest)}, summed output stats)."""
        per_output, stats = {}, {"xml_bytes": 0, "bz2_bytes": 0, "pbf_bytes": 0}
        for spec in res["specs"]:
            name = os.path.basename(spec.path)
            try:
                if spec.kind in ("pbf", "pbf-history"):
                    f, d, s = check.pbf_output(spec.path, spec.kind == "pbf-history", self.truth)
                else:
                    f, d, s = check.xml_output(spec.path, spec.kind, self.truth, spec.anonymize)
            except Exception as e:  # an undecodable output is a failed output
                f, d, s = [f"{name}: cannot decode: {e!r}"], "", {}
            per_output[name] = (f, d)
            for k, v in s.items():
                stats[k] += v
        return per_output, stats

    def layer_metrics(self, res: dict, stats: dict, spans: list[dict], probe_dir: str) -> dict:
        """Per-layer metrics of a traced pass: its spans, its output stats,
        and single-layer probes on its staged tables — each assembled frame
        alone, the current view alone, every output by its own
        ``write_outputs`` call."""
        from planet_dump_ng_spark import pipeline
        from planet_dump_ng_spark.operators import history

        m = {
            "sources.split_s": span_seconds(spans, "split_dump_file"),
            "sources.escaped_share": self.truth["input"]["escaped_share"],
            "staging.stage_s": span_union(spans, "stage_table"),
            "staging.stage_mb": dir_bytes(os.path.join(res["work_dir"], "stage")) / 1e6,
            "assembly.build_s": span_seconds(spans, "build_planet"),
            "pipeline.emit_s": span_seconds(spans, "write_outputs"),
            "xml_sink.bz2_ratio": stats["xml_bytes"] / max(1, stats["bz2_bytes"]),
            "pbf_sink.mb": stats["pbf_bytes"] / 1e6,
        }
        for kind in ("planet", "history", "changesets"):
            m[f"xml_sink.{kind}_s"] = span_seconds(spans, f"write_xml_file:{kind}")
        for kind in ("planet", "history"):
            m[f"pbf_sink.{kind}_s"] = span_seconds(spans, f"write_pbf_file:{kind}")

        frames = res["frames"]
        rows_out = hist_rows = cur_rows = 0
        cur_s = 0.0
        for t in ("nodes", "ways", "relations", "changesets"):
            n, m[f"assembly.{t}_s"] = _noop(getattr(frames, t))
            rows_out += n
            if t != "changesets":
                hist_rows += n
                c, s = _noop(history.current_view(getattr(frames, t)))
                cur_rows += c
                cur_s += s
        m["assembly.rows_out"] = rows_out
        m["history.current_view_s"] = cur_s
        m["history.current_share"] = cur_rows / max(1, hist_rows)
        os.makedirs(probe_dir, exist_ok=True)
        serial = 0.0
        for spec in self.specs(probe_dir):
            t0 = time.perf_counter()
            pipeline.write_outputs(frames, [spec])
            serial += time.perf_counter() - t0
        m["pipeline.emit_serial_s"] = serial
        m["pipeline.multicast_gain"] = serial / m["pipeline.emit_s"]
        return m


class CurateIncrement:
    """``llm_pipeline.curate`` over 75% of a seeded corpus, then
    ``curate_increment`` of the other 25% into the curated dataset."""

    name = "curate_increment"
    SIZE = 500  # docs

    def __init__(self, size: int) -> None:
        self.size = size

    def prepare(self, input_dir: str, seed: int) -> None:
        self.truth = gen_docs.generate(input_dir, seed, self.size)
        self.input_rows = self.truth["rows"]["base"] + self.truth["rows"]["batch"]
        self.input_bytes = self.truth["input_bytes"]

    def run(self, spark, pass_dir: str) -> dict:
        from planet_dump_ng_spark import llm_pipeline, sources

        paths = self.truth["paths"]
        dataset = os.path.join(pass_dir, "dataset")
        base, _ = sources.read_documents_jsonl(spark, paths["base"])
        bench, _ = sources.read_documents_jsonl(spark, paths["bench"])
        bench = bench.select("doc_id", "text")
        manifest, report = llm_pipeline.curate(base, dataset, bench=bench)
        curated_rows = sum(r.n_rows for r in manifest.collect())
        t0 = time.perf_counter()
        batch, _ = sources.read_documents_jsonl(spark, paths["batch"])
        inc_manifest, inc_report = llm_pipeline.curate_increment(batch, dataset, bench=bench)
        appended = sum(r.n_rows for r in inc_manifest.collect())
        return {"dataset": dataset, "pass_dir": pass_dir, "report": report,
                "inc_report": inc_report, "curated_rows": curated_rows,
                "appended": appended, "increment_s": time.perf_counter() - t0}

    def sizes(self, res: dict) -> dict:
        output = dir_bytes(res["dataset"])
        return {"output": output, "scratch": dir_bytes(res["pass_dir"]) - output}

    def check(self, spark, res: dict):
        f, d, s = check.curated_dataset(
            spark, res["dataset"], res["report"], res["inc_report"], res["appended"],
            res["curated_rows"], self.truth["planted"])
        return {"dataset": (f, d)}, s

    def layer_metrics(self, res: dict, stats: dict, spans: list[dict], probe_dir: str) -> dict:
        """Per-layer metrics of a traced pass, from the two reports."""
        m = {f"llm_pipeline.curate.{p}_s": s for p, s in res["report"].phase_s.items()}
        m.update({f"llm_pipeline.increment.{p}_s": s
                  for p, s in res["inc_report"].phase_s.items()})
        stages = res["report"].stages
        m["llm_pipeline.keep_share"] = stages[-1][1] / max(1, stages[0][1])
        m["llm_pipeline.appended"] = res["appended"]
        m["llm_pipeline.increment_s"] = res["increment_s"]
        return m


WORKLOADS = {w.name: w for w in (PlanetFull, CurateIncrement)}
