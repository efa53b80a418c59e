"""In-memory span tracer that wraps package functions by module name.

The benchmark's traced run patches function references on the package's
modules and classes (nothing under ``pg_textsearch_spark/`` is edited) and
restores them afterwards. Each span records (name, start, end, parent,
request id); spans stay in memory and are written out once, at the end.
A span's self time is its duration minus the time its child spans cover.
Work that Spark runs inside executor tasks is not visible here: it counts
as self time of the driver span that waited for it.

Only driver-side references are patched. Closures that Spark ships to
executors are built from the package's own module globals, which the
Spark-side patches leave untouched (see :func:`install_driver`).
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter, defaultdict

_clock = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []     # [name, start, end, parent, req]
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack, spans = tracer._stack, tracer.spans
            i = len(spans)
            parent = stack[-1] if stack else -1
            # a root span opens a request; children inherit its id
            spans.append([name, _clock(), 0.0, parent,
                          spans[parent][4] if stack else i])
            stack.append(i)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans[i][2] = _clock()
        return traced

    def patch(self, owner, attr: str, name: str | None = None,
              wrapper=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper (or by
        ``wrapper(original)`` when given); :meth:`restore` undoes it.
        Class- and static methods are re-wrapped as such."""
        raw = (owner.__dict__[attr] if isinstance(owner, type)
               else getattr(owner, attr))
        kind = type(raw) if isinstance(raw, (classmethod,
                                             staticmethod)) else None
        fn = raw.__func__ if kind else raw
        new = wrapper(fn) if wrapper else self.wrap(name or attr, fn)
        setattr(owner, attr, kind(new) if kind else new)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # -- aggregation ----------------------------------------------------
    def self_times(self) -> dict[str, tuple[float, int]]:
        """name -> (total self seconds, span count)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for (name, t0, t1, _, _), c in zip(self.spans, child):
            out[name][0] += (t1 - t0) - c
            out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def totals(self) -> dict[str, tuple[float, int]]:
        """name -> (total inclusive seconds, span count)."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for name, t0, t1, _, _ in self.spans:
            out[name][0] += t1 - t0
            out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_serving(tracer: Tracer) -> None:
    """Wrap the serving read path (index.serve) and the block decoder
    (index.segment via index.query) in the serving process. Safe only in
    a process that runs no Spark job: it patches ``index.query`` globals."""
    from pg_textsearch_spark.index import query, serve
    LS = serve.LocalSearcher
    tracer.patch(LS, "search", "serve.search")
    tracer.patch(LS, "search_batch", "serve.search_batch")
    tracer.patch(LS, "refresh", "serve.refresh")
    tracer.patch(LS, "_tombstones", "serve.tombstones")
    tracer.patch(serve, "tokenize_query", "tokenizer.query")
    tracer.patch(LS, "_fetch", wrapper=lambda fn: _traced_fetch(tracer, fn))
    tracer.patch(LS, "_files_for", wrapper=lambda fn: _counted_files(
        tracer, fn))
    for attr, name in (("make_segment_kernel", "serve.kernel"),
                       ("make_batch_kernel", "serve.batch_kernel")):
        tracer.patch(serve, attr, wrapper=lambda fn, name=name:
                     _traced_factory(tracer, name, fn))
    for attr in ("decode_row", "decode_row_blocks"):
        tracer.patch(query, attr, wrapper=lambda fn: _counted(
            tracer, "codec.decode", fn))


def install_driver(tracer: Tracer) -> None:
    """Wrap driver-side entry points of the build / append / merge /
    manifest layers and the serving refresh. None of these objects is
    captured by a closure that Spark ships to executors."""
    from pg_textsearch_spark.index import build, manifest, merge, serve
    tracer.patch(build.Bm25Index, "append", "append")
    tracer.patch(merge, "compact_tiered", "merge.compact")
    tracer.patch(merge, "merge_segments", wrapper=lambda fn: _traced_merge(
        tracer, fn))
    tracer.patch(manifest.Manifest, "save", "manifest.save")
    tracer.patch(manifest.Manifest, "load", "manifest.load")
    tracer.patch(manifest.Manifest, "add_segment",
                 wrapper=lambda fn: _counted_add(tracer, fn))
    tracer.patch(serve.LocalSearcher, "refresh",
                 wrapper=lambda fn: _counted_reloads(tracer, fn))


def _traced_fetch(tracer: Tracer, fn):
    traced = tracer.wrap("serve.fetch", fn)

    def fetch(self, terms):
        missing = {t for t in terms if t not in self._terms}
        tracer.counts["serve.lookups"] += len(terms)
        tracer.counts["serve.misses"] += len(missing)
        out = traced(self, terms)
        if missing:
            tracer.counts["serve.scans"] += 1
            tracer.counts["serve.rows"] += sum(len(out[0][t])
                                               for t in missing)
        return out
    return fetch


def _counted_files(tracer: Tracer, fn):
    def files_for(self, segment_id):
        files = fn(self, segment_id)
        tracer.counts["serve.segments_scanned"] += 1
        tracer.counts["serve.files"] += len(files)
        return files
    return files_for


def _counted(tracer: Tracer, name: str, fn):
    traced = tracer.wrap(name, fn)

    def counted(*args, **kwargs):
        tracer.counts[name + "_calls"] += 1
        return traced(*args, **kwargs)
    return counted


def _traced_factory(tracer: Tracer, name: str, factory):
    def make(*args, **kwargs):
        return tracer.wrap(name, factory(*args, **kwargs))
    return make


def _traced_merge(tracer: Tracer, fn):
    traced = tracer.wrap("merge.segments", fn)

    def merge_segments(index, seg_records, *args, **kwargs):
        rec = traced(index, seg_records, *args, **kwargs)
        tracer.counts["merge.count"] += 1
        tracer.counts["merge.docs"] += rec.num_docs
        tracer.counts["merge.bytes"] += rec.bytes
        return rec
    return merge_segments


def _counted_reloads(tracer: Tracer, fn):
    traced = tracer.wrap("serve.refresh", fn)

    def refresh(self):
        reloaded = traced(self)
        tracer.counts["serve.reloads"] += int(reloaded)
        return reloaded
    return refresh


def _counted_add(tracer: Tracer, fn):
    def add_segment(self, rec):
        tracer.counts["bytes_added:" + self.path] += rec.bytes
        return fn(self, rec)
    return add_segment
