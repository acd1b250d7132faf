"""Per-layer numbers for the traced run, measured from outside each
layer: Spark's SQL and task metrics for the passes, a scan-only pass for
the source, and in-driver timings of the kernels' public functions."""

from __future__ import annotations

import time
from statistics import median
from typing import Dict, List, Sequence

from eventlog import ActionMetrics
from spans import Tracer

# Per-layer metrics every traced run prints, whatever the workload,
# with their unit. The README maps each to the end-to-end metric it
# should move, and on which workload.
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.scan_mb": "MB",
    "sources.write_mb": "MB",
    "sources.write_files": "count",
    "plans.salt.shuffle_mb": "MB",
    "plans.salt.shuffle_write_s": "s",
    "plans.salt.partition_mb_max_over_mean": "ratio",
    "plans.salt.task_s_max_over_median": "ratio",
    "operators.python.python_s": "s",
    "operators.python.arrow_mb_sent": "MB",
    "operators.python.arrow_mb_received": "MB",
    "operators.python.rows_out": "count",
    "operators.python.worker_boot_s": "s",
    "kernels.pdf.parse_s_per_kdoc": "s/kdoc",
    "kernels.extract.self_s_per_kdoc": "s/kdoc",
    "kernels.alignment.classify_s_per_kdoc": "s/kdoc",
    "kernels.aggregate.aggregate_s_per_kdoc": "s/kdoc",
    "operators.fused.process_doc_s_per_kdoc": "s/kdoc",
    "kernels.html.extract_s_per_kdoc": "s/kdoc",
    "kernels.pdf.pages": "count",
    "kernels.pdf.error_docs": "count",
    "kernels.extract.blocs": "count",
    "session.cached_rdds_after": "count",
    "session.peak_task_mem_mb": "MB",
    "tracing.overhead_s": "s",
    "tracing.overhead_share": "ratio",
    "reconcile.accounted_core_s": "s",
    "reconcile.gap_share": "ratio",
}


def pass_layers(ms: Sequence[ActionMetrics]) -> Dict[str, float]:
    """Layer numbers of one pass, from the metrics of its actions."""
    m = ActionMetrics()
    for x in ms:
        m.merge(x)
    skew_mb, skew_s = 0.0, 0.0
    for tasks in m.python_stage_tasks().values():
        if len(tasks) < 2:
            continue
        nbytes = [t.shuffle_read_bytes + t.input_bytes for t in tasks]
        if sum(nbytes):
            skew_mb = max(skew_mb, max(nbytes) / (sum(nbytes) / len(nbytes)))
        med = median([t.duration for t in tasks])
        if med > 0:
            skew_s = max(skew_s, max(t.duration for t in tasks) / med)
    return {
        "plans.salt.shuffle_mb": m.total("shuffle bytes written") / 1e6,
        "plans.salt.shuffle_write_s": m.total("shuffle write time") / 1e9,
        "plans.salt.partition_mb_max_over_mean": skew_mb,
        "plans.salt.task_s_max_over_median": skew_s,
        "operators.python.python_s":
            m.python_total("time to run Python workers") / 1e3,
        "operators.python.arrow_mb_sent":
            m.python_total("data sent to Python workers") / 1e6,
        "operators.python.arrow_mb_received":
            m.python_total("data returned from Python workers") / 1e6,
        "operators.python.rows_out": m.python_total("number of output rows"),
        "session.peak_task_mem_mb":
            max((t.peak_mem_bytes for t in m.tasks), default=0) / 1e6,
    }


def worker_boot_s(ms: Sequence[ActionMetrics]) -> float:
    """Python worker start + initialisation time of the warm-up."""
    return sum((m.python_total("time to start Python workers")
                + m.python_total("time to initialize Python workers")) / 1e3
               for m in ms)


def kernel_probe(pdf_rows: List[tuple], html_rows: List[tuple],
                 tracer: Tracer) -> Dict[str, float]:
    """Time each kernel's public function on every sampled doc, in the
    driver, one span per call."""
    import __spark_entry__ as entry
    from edspdf_spark.kernels import (PdfParseError, aggregate_doc,
                                      classify_with_masks, extract_doc,
                                      extract_html_text, parse_pdf)
    from edspdf_spark.operators.fused import process_doc

    cfg = entry.PIPE_CFG
    tot = dict(parse=0.0, extract=0.0, classify=0.0, aggregate=0.0,
               process=0.0, html=0.0)
    pages = errors = blocs = 0

    def timed(kind, fn, *args, **kw):
        with tracer.span(f"kernel.{kind}"):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                tot[kind] += time.perf_counter() - t0

    for url, _, payload, _, _ in pdf_rows:
        try:
            pages += len(timed("parse", parse_pdf, payload))
        except PdfParseError:
            pass  # extract_doc below reports it as an error doc
        res = timed("extract", extract_doc, payload,
                    extract_style=cfg.extract_style)
        errors += bool(res["error"])
        blocs += len(res["blocs"])
        keys = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"])
                for b in res["blocs"]]
        labels = timed("classify", classify_with_masks, cfg.masks, keys,
                       threshold=cfg.threshold)
        for b, lab in zip(res["blocs"], labels):
            b["label"] = lab
        timed("aggregate", aggregate_doc, res["blocs"], sort=cfg.sort,
              new_line_threshold=cfg.new_line_threshold,
              new_paragraph_threshold=cfg.new_paragraph_threshold,
              label_map=cfg.label_map)
        timed("process", process_doc, url, payload, cfg)
    for _, _, payload, _, _ in html_rows:
        timed("html", extract_html_text, payload)
    kdoc = max(len(pdf_rows), 1) / 1000.0
    return {
        "kernels.pdf.parse_s_per_kdoc": tot["parse"] / kdoc,
        "kernels.extract.self_s_per_kdoc":
            (tot["extract"] - tot["parse"]) / kdoc,
        "kernels.alignment.classify_s_per_kdoc": tot["classify"] / kdoc,
        "kernels.aggregate.aggregate_s_per_kdoc": tot["aggregate"] / kdoc,
        "operators.fused.process_doc_s_per_kdoc": tot["process"] / kdoc,
        "kernels.html.extract_s_per_kdoc":
            tot["html"] / (max(len(html_rows), 1) / 1000.0),
        "kernels.pdf.pages": pages,
        "kernels.pdf.error_docs": errors,
        "kernels.extract.blocs": blocs,
    }
