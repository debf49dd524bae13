"""Driver-side, single-process pass over a row sample through
``pipeline.extract.extract_document``, with timing wrappers around the
kernel entry points.

The wrappers replace module attributes only for the duration of the
pass and are removed afterwards. An entry point that no longer exists
under its name is reported as absent instead of failing the run.
"""

from __future__ import annotations

import contextlib
import importlib
import statistics
import time
from typing import Dict, Iterator, List, Sequence, Tuple

from .spans import Tracer

KERNEL_ENTRY_POINTS: Dict[str, Tuple[Tuple[str, str], ...]] = {
    "doctype": (("pdf_extractor_spark.kernels.doctype", "detect_doctype"),),
    "pdfx": (("pdf_extractor_spark.kernels.pdfx", "extract_pdf_text"),),
    "htmlx": (("pdf_extractor_spark.kernels.htmlx", "extract_html_text"),),
    "textnorm": (("pdf_extractor_spark.kernels.textnorm",
                  "normalize_raw_text"),),
    "lines": (("pdf_extractor_spark.kernels.lines", "process_lines"),),
    "chapters": (("pdf_extractor_spark.kernels.chapters",
                  "segment_chapters"),),
    "envelope": (("pdf_extractor_spark.kernels.envelope", "build_processed"),
                 ("pdf_extractor_spark.kernels.envelope", "make_envelope")),
    "markdown": (("pdf_extractor_spark.kernels.markdown",
                  "convert_to_markdown"),),
}
ATTRIBUTION_TOLERANCE = 0.10   # |wrapped - unwrapped| / unwrapped
PASSES = 3


@contextlib.contextmanager
def wrapped_kernels(tracer: Tracer, absent: Dict[str, str]
                    ) -> Iterator[None]:
    undo: List[Tuple[object, str, object]] = []
    try:
        for kernel, points in KERNEL_ENTRY_POINTS.items():
            for mod_name, attr in points:
                try:
                    mod = importlib.import_module(mod_name)
                    fn = getattr(mod, attr)
                except (ImportError, AttributeError) as exc:
                    absent[f"kernel.{kernel}"] = (
                        f"entry point {mod_name}.{attr} not found: {exc}")
                    continue

                def timed(*a, __fn=fn, __k=kernel, **kw):
                    with tracer.span(f"kernel.{__k}"):
                        return __fn(*a, **kw)
                setattr(mod, attr, timed)
                undo.append((mod, attr, fn))
        yield
    finally:
        for mod, attr, fn in reversed(undo):
            setattr(mod, attr, fn)


def _run(rows: Sequence[Dict], levels: Sequence[str], tracer=None
         ) -> Tuple[float, List[dict]]:
    from pdf_extractor_spark.pipeline.extract import extract_document
    out: List[dict] = []
    t0 = time.perf_counter()
    for r in rows:
        if tracer is None:
            out.append(extract_document(r["html"], r["text"], r["url"],
                                        levels))
        else:
            with tracer.span("extract_document"):
                out.append(extract_document(r["html"], r["text"],
                                            r["url"], levels))
    return time.perf_counter() - t0, out


def kernel_pass(rows: Sequence[Dict], levels: Sequence[str],
                tracer: Tracer, absent: Dict[str, str]
                ) -> Tuple[Dict[str, Tuple[float, str]], List[dict]]:
    """Per-kernel self time per document, call counts, glue time and the
    single-core rate. Unwrapped and wrapped passes alternate
    ``PASSES`` times; the medians are compared against
    ``ATTRIBUTION_TOLERANCE``. Returns (metrics, unwrapped outputs)."""
    plain: List[float] = []
    wrapped: List[float] = []
    outputs: List[dict] = []
    first_span = len(tracer.spans)
    for i in range(PASSES):
        wall, outputs = _run(rows, levels)
        plain.append(wall)
        # only the last wrapped pass's spans are kept
        t = tracer if i == PASSES - 1 else Tracer()
        with t.span("kernel_pass", docs=len(rows)), \
                wrapped_kernels(t, absent):
            wall_w, _ = _run(rows, levels, t)
        wrapped.append(wall_w)
    n = len(rows)
    selft = tracer.self_times()
    per: Dict[str, List[float]] = {}
    calls: Dict[str, int] = {}
    for s in tracer.spans[first_span:]:
        if s["name"].startswith("kernel.") or s["name"] == "extract_document":
            per.setdefault(s["name"], []).append(selft[s["id"]])
            calls[s["name"]] = calls.get(s["name"], 0) + 1
    metrics: Dict[str, Tuple[float, str]] = {}
    for kernel in KERNEL_ENTRY_POINTS:
        name = f"kernel.{kernel}"
        if name in absent:
            continue
        metrics[f"{name}.self_us_per_doc"] = (
            sum(per.get(name, [])) / n * 1e6, "us")
        metrics[f"{name}.calls"] = (float(calls.get(name, 0)), "count")
    glue = sum(per.get("extract_document", []))
    metrics["kernel.glue.self_us_per_doc"] = (glue / n * 1e6, "us")
    metrics["extract.single_core_docs_per_s"] = (
        n / statistics.median(plain), "docs/s")
    metrics["kernel.wrap_overhead_frac"] = (
        statistics.median(wrapped) / statistics.median(plain) - 1, "ratio")
    return metrics, outputs
