"""Metric values from the workload results, named and united as
BENCHMARK.json declares them. Every workload reports every declared
metric."""

from __future__ import annotations

import json
import statistics
from pathlib import Path


def declared(kind: str) -> list[dict]:
    return json.loads(Path("BENCHMARK.json").read_text())[kind]


def _named(kind: str, values: dict) -> dict:
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared(kind)}


def pass_s(res: dict) -> float:
    return statistics.median(res["pass_s"])


def end_to_end(res: dict) -> dict:
    return _named("end_to_end", {
        "setup_s": res["setup_s"],
        "pass_s": pass_s(res),
        "pages_per_s": res["pages_per_pass"] * len(res["pass_s"]) / sum(res["pass_s"]),
        "peak_pss_mb": res["mem"]["total"],
    })


def per_layer(res: dict, traced: dict) -> dict:
    """Layers from the traced run; memory from the untraced one, whose
    peak is the end-to-end figure they split."""
    lay = dict(traced["layers"])
    lay["mem.jvm_peak_pss_mb"] = res["mem"]["jvm"]
    lay["mem.worker_peak_pss_mb"] = res["mem"]["workers"]
    untraced = pass_s(res)
    lay["trace.overhead_s"] = pass_s(traced) - untraced
    lay["trace.overhead_pct"] = 100.0 * lay["trace.overhead_s"] / untraced
    lay["pipeline.layers_over_pass"] = (
        lay["pipeline.recognize_s"] + lay["pipeline.reassemble_s"]) / untraced
    lay["pipeline.kernel_efficiency"] = (
        lay["pipeline.pages"] * lay["kernel.page_ms_mean"] / 1e3
        / (traced["cores"] * lay["pipeline.recognize_s"]))
    if not lay["checkpoint.resume_ocr_pages"]:
        raise ValueError("the event log shows no page entering the OCR kernel in the resume")
    lay["checkpoint.resume_useful_ratio"] = (
        lay["checkpoint.resume_needed_pages"] / lay["checkpoint.resume_ocr_pages"])
    return _named("per_layer", lay)
