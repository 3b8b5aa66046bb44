"""Single-process kernel passes: an untraced pass for the kernel rate and
per-document latency, and a traced pass whose spans give each layer's self
time.

The span recorder lives here, in the benchmark, not in the package: it wraps
the public layer functions in the module namespaces the pipeline calls
through, for the duration of the traced pass only.  Each span records name,
start, end, parent span and doc id; spans stay in memory and are written
out once the pass ends.  A span's self time is its duration minus the time
its child spans cover.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from common import Workload

K = "osdocr_spark.kernels."

#: (module, attribute, span name, counter hook) — the boundaries wrapped
#: during the traced pass.  A hook sees the call's args and result and
#: returns {counter: increment}.
BOUNDARIES = [
    (K + "pipeline", "parse_hocr", "hocr.parse",
     lambda a, r: {"hocr.words": len(r.w_text)}),
    (K + "fix", "clean_doc", "fix.clean",
     lambda a, r: {"fix.blocks_in": a[0].n_blocks(), "fix.blocks_out": r.n_blocks()}),
    (K + "classify", "analyze_text", "analyzer.analyze", None),
    (K + "pipeline", "categorize_blocks", "classify.categorize",
     lambda a, r: {"classify.blocks": a[0].n_blocks()}),
    (K + "pipeline", "boilerplate_mask", "classify.boilerplate",
     lambda a, r: {"classify.main_blocks": int((~r).sum())}),
    (K + "pipeline", "topologic_order_context", "order.graph",
     lambda a, r: {"order.main_blocks": len(a[1])}),
    (K + "pipeline", "sort_topologic_order", "order.sort", None),
    (K + "pipeline", "graph_isolate_articles", "order.articles", None),
    (K + "pipeline", "assemble_article", "emit.assemble", None),
    (K + "pipeline", "article_to_txt", "emit.to_txt", None),
    (K + "pipeline", "document_text", "emit.document_text", None),
    (K + "serialize", "to_json", "serialize.to_json",
     lambda a, r: {"serialize.json_bytes": len(r.encode())}),
    (K + "serialize", "from_json", "serialize.from_json", None),
]

ROOT_SPAN = "pipeline.doc"


class Recorder:
    """In-memory span list: [name, start_ns, end_ns, parent index, doc]."""

    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self.doc: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = [name, 0, 0, self._stack[-1] if self._stack else -1, self.doc]
        self.spans.append(rec)
        self._stack.append(idx)
        rec[1] = time.perf_counter_ns()
        try:
            yield
        finally:
            rec[2] = time.perf_counter_ns()
            self._stack.pop()

    def wrap(self, name: str, fn, hook):
        def wrapped(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if hook is not None:
                for key, inc in hook(args, result).items():
                    self.counts[key] = self.counts.get(key, 0) + inc
            return result
        return wrapped

    def self_ns(self) -> dict[str, int]:
        """Total self time per span name."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] >= 0:
                own[s[3]] -= s[2] - s[1]
        out: dict[str, int] = {}
        for s, t in zip(self.spans, own):
            out[s[0]] = out.get(s[0], 0) + t
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for name, start, end, parent, doc in self.spans:
                f.write(json.dumps({"name": name, "start_ns": start, "end_ns": end,
                                    "parent": parent, "doc": doc}) + "\n")


@contextmanager
def instrumented(rec: Recorder):
    """Swap every boundary for its recording wrapper; restore on exit."""
    saved = []
    try:
        for mod_name, attr, name, hook in BOUNDARIES:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, rec.wrap(name, getattr(mod, attr), hook))
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def _kernel(wl: Workload):
    """The per-document kernel path of the workload's Spark job, called
    through module attributes so an instrumented pass sees every layer."""
    from osdocr_spark.kernels import fix, pipeline, serialize

    if not wl.checkpointed:
        return lambda url, html: pipeline.extract_html(url, html, clean=wl.clean)

    def checkpointed(url, html):
        # parse_pages, then extract_parsed (stages.py): parse → checkpoint
        # JSON → read back → fix suite → stages 2–6
        doc = pipeline.parse_hocr(html, url=url)
        doc = serialize.from_json(serialize.to_json(doc), url=url)
        if wl.clean:
            doc = fix.clean_doc(doc)
        return pipeline.extract_document(doc)
    return checkpointed


def kernel_passes(wl: Workload, pages: list[tuple[str, bytes]],
                  expected: dict[str, str], seconds: float,
                  spans_path: Path) -> tuple[dict[str, float], float, int, int]:
    """Interleave untraced and traced passes over chunks of ``pages`` for
    about ``seconds``.  Returns (per-layer metrics, kernel CPU seconds per
    doc, docs checked, docs failed)."""
    kernel = _kernel(wl)
    rec = Recorder()
    per_doc_ns: list[int] = []
    totals = {"untraced_ns": 0, "traced_ns": 0, "cpu_s": 0.0, "failed": 0}

    def untraced(batch):
        c0, t0 = time.process_time(), time.perf_counter_ns()
        for url, html in batch:
            d0 = time.perf_counter_ns()
            r = kernel(url, html)
            per_doc_ns.append(time.perf_counter_ns() - d0)
            totals["failed"] += r["text"] != expected[url]
        totals["untraced_ns"] += time.perf_counter_ns() - t0
        totals["cpu_s"] += time.process_time() - c0

    def traced(batch):
        with instrumented(rec):
            t0 = time.perf_counter_ns()
            for url, html in batch:
                rec.doc = url
                with rec.span(ROOT_SPAN):
                    r = kernel(url, html)
                totals["failed"] += r["text"] != expected[url]
            totals["traced_ns"] += time.perf_counter_ns() - t0

    # same documents through both passes, chunk by chunk, alternating which
    # pass sees a chunk first so neither pays the other's cold start; one
    # untimed chunk first, so lazy imports and caches fill before timing
    n, chunk = 0, 20
    for url, html in pages[:chunk]:
        kernel(url, html)
    start = time.monotonic()
    while n < len(pages) and (n == 0 or time.monotonic() - start < seconds):
        batch = pages[n:n + chunk]
        for run_pass in ((untraced, traced) if (n // chunk) % 2 == 0 else (traced, untraced)):
            run_pass(batch)
        n += len(batch)
    untraced_ns, traced_ns = totals["untraced_ns"], totals["traced_ns"]

    root_ns = sum(s[2] - s[1] for s in rec.spans if s[0] == ROOT_SPAN)
    rec.write(spans_path)

    own = rec.self_ns()
    c = rec.counts

    def ms(*names: str) -> float:
        return sum(own.get(k, 0) for k in names) / n / 1e6

    # a layer the workload's pipeline never calls reads 0
    metrics = {
        "hocr.parse_ms_per_doc": ms("hocr.parse"),
        "hocr.words_per_doc": c["hocr.words"] / n,
        "fix.clean_ms_per_doc": ms("fix.clean"),
        "fix.blocks_kept_ratio": (c["fix.blocks_out"] / c["fix.blocks_in"]
                                  if c.get("fix.blocks_in") else 0.0),
        "analyzer.analyze_ms_per_doc": ms("analyzer.analyze"),
        "classify.categorize_ms_per_doc": ms("classify.categorize"),
        "classify.boilerplate_ms_per_doc": ms("classify.boilerplate"),
        "classify.main_block_ratio": c["classify.main_blocks"] / c["classify.blocks"],
        "order.graph_ms_per_doc": ms("order.graph"),
        "order.sort_ms_per_doc": ms("order.sort"),
        "order.articles_ms_per_doc": ms("order.articles"),
        "order.main_blocks_per_doc": c["order.main_blocks"] / n,
        "emit.render_ms_per_doc": ms("emit.assemble", "emit.to_txt", "emit.document_text"),
        "pipeline.self_ms_per_doc": ms(ROOT_SPAN),
        "pipeline.kernel_docs_per_s": n / (untraced_ns / 1e9),
        "pipeline.doc_p50_ms": statistics.median(per_doc_ns) / 1e6,
        "pipeline.doc_p99_ms": statistics.quantiles(per_doc_ns, n=100)[98] / 1e6,
        "pipeline.trace_overhead_ratio": traced_ns / untraced_ns - 1.0,
        "pipeline.trace_coverage_ratio": root_ns / traced_ns,
        "serialize.to_json_ms_per_doc": ms("serialize.to_json"),
        "serialize.from_json_ms_per_doc": ms("serialize.from_json"),
        "serialize.json_bytes_per_doc": c.get("serialize.json_bytes", 0) / n,
    }
    return metrics, totals["cpu_s"] / n, 2 * n, totals["failed"]
