"""In-memory spans for the traced run, and the kernel replay built on them.

Spans are recorded only around calls the benchmark itself makes into the
program's public functions (or, for the kernel replay, around the step
functions ``functions.page.transform_one`` looks up in its own module).
Nothing in the engine is edited: the replay swaps module attributes for
timing wrappers on the driver and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import time


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; ``write``
    dumps them as JSON lines once the run is over.  Disabled tracers
    record nothing, so the untraced run pays only a no-op context."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # perf_counter for durations; epoch offset to line spans up with
        # the event log's millisecond wall-clock timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def epoch_ms(self, t: float) -> float:
        return (t + self.epoch_offset) * 1000.0

    def children(self, span_id: int) -> list[dict]:
        # children are recorded after their parent: scan only the tail
        return [s for s in self.spans[span_id + 1:]
                if s["parent"] == span_id]

    def write(self, path: str):
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of [start, end] its children cover
    (overlapping children are merged, parts outside the span clipped)."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in child_intervals
        if min(e, end) > max(s, start)
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


# step name -> (module, attribute) looked up by transform_one at call time
KERNEL_STEPS = {
    "templates": ("wikiprep_spark.functions.page", "include_templates"),
    "related": ("wikiprep_spark.functions.page", "identify_related_articles"),
    "urls": ("wikiprep_spark.functions.urls", "extract_urls"),
    "links": ("wikiprep_spark.functions.page", "extract_wiki_links"),
    "postprocess": ("wikiprep_spark.functions.page", "postprocess_text"),
}


@contextlib.contextmanager
def _wrapped_steps(tracer: Tracer):
    import importlib

    saved = []
    try:
        for step, (mod_name, attr) in KERNEL_STEPS.items():
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))

            def wrapper(*a, _orig=orig, _name="kernel." + step, **kw):
                with tracer.span(_name):
                    return _orig(*a, **kw)

            setattr(mod, attr, wrapper)
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def sample_records(src_dir: str, seed: int, n: int) -> list[str]:
    """A fixed seeded sample of raw ``<page>`` records from the src table:
    the n records whose (seed, path) hash is smallest."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(src_dir, columns=["path", "content"])
    paths = tbl.column("path").to_pylist()
    contents = tbl.column("content").to_pylist()

    def key(i):
        return hashlib.sha1(("%d/%s" % (seed, paths[i])).encode()).digest()

    order = sorted(range(len(paths)), key=key)[:n]
    return [contents[i] for i in sorted(order, key=lambda i: paths[i])]


def kernel_replay(tracer: Tracer, records: list[str], dict_dir: str,
                  reps: int) -> dict:
    """Replay parse + transform_one over ``records`` on the driver (the
    devUDF idea: run the UDF body outside the engine) and fold the spans
    into per-page kernel metrics.  Step times plus self time add up to
    transform_one time exactly, since all come from the same spans."""
    from wikiprep_spark.functions import dictload, page as page_mod
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record

    t0 = time.perf_counter()
    t2i, red, bodies = dictload.load_env_from_parquet(dict_dir)
    dictload_s = time.perf_counter() - t0
    env = page_mod.TransformEnv(title2id=t2i, redir=red, templates=bodies)

    pages = 0
    templ = links = 0
    totals: dict = {}
    with _wrapped_steps(tracer):
        for _ in range(reps):
            for rec in records:
                with tracer.span("kernel.parse"):
                    mw = parse_page_record(rec)
                with tracer.span("kernel.transform_one") as sp:
                    out = page_mod.transform_one(mw, env)
                kids = tracer.children(sp["id"])
                for k in kids:
                    totals[k["name"]] = (totals.get(k["name"], 0.0)
                                         + k["end"] - k["start"])
                totals["kernel.self"] = totals.get("kernel.self", 0.0) + \
                    self_time(sp["start"], sp["end"],
                              [(k["start"], k["end"]) for k in kids])
                pages += 1
                templ += sum(len(v) for v in out.get("templates", {}).values())
                links += len(out.get("wikiLinks", ()))
    for s in tracer.spans:
        if s["name"] in ("kernel.parse", "kernel.transform_one"):
            totals[s["name"]] = (totals.get(s["name"], 0.0)
                                 + s["end"] - s["start"])
    metrics = {
        "kernel.%s_ms_per_page" % name.split(".", 1)[1]:
            1000.0 * totals.get(name, 0.0) / pages
        for name in ["kernel.parse", "kernel.transform_one", "kernel.self"]
        + ["kernel." + s for s in KERNEL_STEPS]
    }
    metrics["kernel.dictload_s"] = dictload_s
    metrics["kernel.template_invocations_per_page"] = templ / pages
    metrics["kernel.wikilinks_per_page"] = links / pages
    return metrics
