"""Serial sampled trace: per-layer self times of the extraction kernel.

The benchmark runs the program's serial oracle, ``extract_document``,
over a seeded doc sample with the public functions of each layer
wrapped in timing spans. Spans are kept in memory (name, start, end,
parent) and written out once at the end; layer self time is a span's
duration minus the time its direct child spans cover.

Nothing in the package is edited: wrappers are installed on module and
class attributes for the duration of a ``with Tracer():`` block and
removed on exit.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from pathlib import Path

#: The codec entry points; each call is one "pdfio.codec.decode" span.
CODECS = (
    ("pdf_toolkit_spark.pdfio.jpeg", "decode_jpeg"),
    ("pdf_toolkit_spark.pdfio.jpx", "decode_jpx_pdf"),
    ("pdf_toolkit_spark.pdfio.jbig2", "decode_jbig2_pdf"),
    ("pdf_toolkit_spark.pdfio.ccitt", "decode_ccitt_pdf"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _wrap(self, name: str, fn, count=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else -1
            tracer.spans.append((name, 0.0, 0.0, parent))
            tracer._stack.append(idx)
            start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                tracer._stack.pop()
                tracer.spans[idx] = (name, start, end, parent)
            if count is not None:
                key, value = count(out)
                tracer.counts[key] = tracer.counts.get(key, 0) + value
            return out

        return traced

    def _patch(self, owner, attr: str, name: str, count=None) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self._wrap(name, original, count))

    def __enter__(self) -> "Tracer":
        import importlib

        from pdf_toolkit_spark import extract, kernels
        from pdf_toolkit_spark.pdfio.parser import PdfDocument

        self._patch(extract, "PdfDocument", "pdfio.parser.open")
        self._patch(PdfDocument, "load_page", "pdfio.parser.load_page")
        self._patch(extract, "extract_page", "extract.extract_page",
                    count=lambda r: ("candidates", len(r.candidates)))
        self._patch(extract, "media_ref_for", "extract.media_ref")
        self._patch(extract, "encode_png", "pdfio.png.encode",
                    count=lambda b: ("png_bytes", len(b)))
        for attr, fn in list(vars(kernels).items()):
            if (not attr.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == kernels.__name__):
                self._patch(kernels, attr, "kernels")
        for module, attr in CODECS:
            self._patch(importlib.import_module(module), attr, "pdfio.codec.decode")
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- reduction ---------------------------------------------------------
    def totals(self) -> tuple[dict[str, float], dict[str, float]]:
        """(total, self) seconds per span name, counting only the
        outermost span of a name (a kernel calling a kernel is one span)."""

        child_time = [0.0] * len(self.spans)
        total: dict[str, float] = {}
        self_t: dict[str, float] = {}
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child_time[parent] += end - start
        for i, (name, start, end, parent) in enumerate(self.spans):
            if parent >= 0 and self.spans[parent][0] == name:
                continue
            total[name] = total.get(name, 0.0) + (end - start)
            self_t[name] = self_t.get(name, 0.0) + (end - start) - child_time[i]
        return total, self_t

    def metrics(self, docs: int, pages: int) -> dict[str, float]:
        total, self_t = self.totals()
        per_page = 1000.0 / max(pages, 1)
        return {
            "pdfio.parser.open_ms_per_doc": total.get("pdfio.parser.open", 0.0) * 1000.0 / max(docs, 1),
            "pdfio.parser.load_page_self_ms": self_t.get("pdfio.parser.load_page", 0.0) * per_page,
            "pdfio.codec.decode_ms": total.get("pdfio.codec.decode", 0.0) * per_page,
            "kernels.ms": total.get("kernels", 0.0) * per_page,
            "extract.media_ref_ms": total.get("extract.media_ref", 0.0) * per_page,
            "pdfio.png.encode_ms": total.get("pdfio.png.encode", 0.0) * per_page,
            "pdfio.png.bytes_out": self.counts.get("png_bytes", 0) / max(pages, 1),
            "extract.extract_page.self_ms": self_t.get("extract.extract_page", 0.0) * per_page,
            "extract.spans_per_page": self.counts.get("candidates", 0) / max(pages, 1),
        }

    def dump(self, path: Path) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        rows = [{"name": n, "start_ms": (s - t0) * 1000, "end_ms": (e - t0) * 1000,
                 "parent": p} for n, s, e, p in self.spans]
        path.write_text(json.dumps({"spans": rows, "counts": self.counts}))
