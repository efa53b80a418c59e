"""Serving replica: a closed loop of one client over ``LocalSearcher``.

Runs in its own (spawned) process, so its peak RSS is the replica
footprint (imports + manifest + term LRU + decoded-reader cache). The
client sends the next query only after the previous reply, like the
callers of an in-process library.

The serving time of a run is split into short bursts that the main
process schedules between its other phases, while Spark sits idle: the
host's speed drifts over tens of seconds, and samples spread over the
whole run average that drift where one contiguous window would catch a
single fast or slow stretch. The open searcher lives in this worker
process between bursts (``_REPLICA``); the pool has exactly one worker.
"""

from __future__ import annotations

import resource
import time

_clock = time.perf_counter
_BLOCK_S = 0.125    # traced runs alternate traced / untraced blocks
_REPLICA = None


def preload() -> None:
    """Import the serving stack ahead of time (the pool's worker process
    outlives this task), so the first burst starts without import cost."""
    import pg_textsearch_spark.index.serve  # noqa: F401


class Replica:
    def __init__(self, index_path: str, warmup: list[str],
                 queries: list[str], batches: list[list[str]],
                 trace_path: str | None):
        from pg_textsearch_spark.index.serve import LocalSearcher
        self.queries, self.batches = queries, batches
        self.trace_path = trace_path
        self.lat, self.lat_untraced, self.done = [], [], []
        self.bursts: list[int] = []     # index into ``lat`` of each burst
        self.i = self.b = 0
        self.s = LocalSearcher(index_path)
        self.tracer = self.tr_batch = self.tr_warm = None
        if trace_path is not None:
            from spans import Tracer
            self.tracer, self.tr_batch = Tracer(), Tracer()
            # the warm-up batch is where a hot mix decodes its blocks and
            # scans the postings files; its counters feed the codec and
            # per-scan metrics
            self.tr_warm = Tracer()
        self._traced(self.tr_warm, self.s.search_batch, warmup, k=10)
        self.warm_terms = len(self.s._terms)
        self.n_warm = len(warmup)

    @staticmethod
    def _traced(tracer, fn, *args, **kwargs):
        if tracer is None:
            return fn(*args, **kwargs)
        from spans import install_serving
        install_serving(tracer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.restore()

    def _loop(self, seconds: float, into: list) -> None:
        end = _clock() + seconds
        s, qs = self.s, self.queries
        while _clock() < end:
            q = qs[self.i % len(qs)]
            t0 = _clock()
            s.search(q, k=10)
            into.append(_clock() - t0)
            self.i += 1

    def burst(self, seconds: float) -> None:
        """Single queries for ``seconds``, then one fixed-size batch."""
        self.bursts.append(len(self.lat))
        if self.tracer is None:
            self._loop(seconds, self.lat)
        else:
            end = _clock() + seconds
            while _clock() < end:
                self._traced(self.tracer, self._loop, _BLOCK_S, self.lat)
                self._loop(_BLOCK_S, self.lat_untraced)
        b = self.batches[self.b % len(self.batches)]
        self.b += 1
        t0 = _clock()
        self._traced(self.tr_batch, self.s.search_batch, b, k=10)
        self.done.append((len(b), _clock() - t0))

    def result(self) -> dict:
        out = {"lat": self.lat, "batches": self.done, "bursts": self.bursts,
               "warm_terms": self.warm_terms,
               "rss_mb": resource.getrusage(
                   resource.RUSAGE_SELF).ru_maxrss / 1024.0}
        if self.tracer is not None:
            out["lat_untraced"] = self.lat_untraced
            out["layers"] = self._layers()
            self.tracer.dump(self.trace_path + ".serve.jsonl")
            self.tr_batch.dump(self.trace_path + ".serve_batch.jsonl")
        return out

    def _layers(self) -> dict:
        tr, s = self.tracer, self.s
        st, tot, c = tr.self_times(), tr.totals(), tr.counts
        n = len(self.lat)
        cw = c + self.tr_warm.counts    # scan + decode counters incl. warm-up
        decode_s = (tot.get("codec.decode", (0.0, 0))[0]
                    + self.tr_warm.totals().get("codec.decode", (0.0, 0))[0])
        n_all = n + self.n_warm
        visited = skipped = 0
        sample = self.queries[:200]     # exact per-query segment counters
        for q in sample:
            s.search(q, k=10)
            visited += s.last_stats["segments_visited"]
            skipped += s.last_stats["segments_skipped"]

        def per_q(name, table=st):
            return 1e3 * table.get(name, (0.0, 0))[0] / n
        tok_s, tok_n = st["tokenizer.query"]
        L = {
            "tokenizer.query_us": 1e6 * tok_s / tok_n,
            "serve.fetch_ms": per_q("serve.fetch"),
            "serve.kernel_ms": per_q("serve.kernel", tot),
            "serve.merge_ms": per_q("serve.search"),
            "serve.traced_query_ms": per_q("serve.search", tot),
            "serve.term_lookups": c["serve.lookups"],
            "serve.term_hit_ratio": 1.0 - c["serve.misses"]
            / max(c["serve.lookups"], 1),
            "serve.segments_scanned_per_miss": cw["serve.segments_scanned"]
            / cw["serve.scans"],
            "serve.files_per_miss": cw["serve.files"] / cw["serve.scans"],
            "serve.rows_per_miss": cw["serve.rows"] / cw["serve.scans"],
            "serve.segments_visited": visited / len(sample),
            "serve.segments_skipped": skipped / len(sample),
            "serve.batch_kernel_ms": 1e3 * self.tr_batch.totals().get(
                "serve.batch_kernel", (0.0, 0))[0] / len(self.done),
            "codec.decode_calls": cw["codec.decode_calls"] / n_all,
            "codec.decode_ms": 1e3 * decode_s / n_all,
        }
        L["serve.self_time_coverage"] = (
            L["serve.fetch_ms"] + L["serve.kernel_ms"] + L["serve.merge_ms"]
            + 1e3 * tok_s / n) / L["serve.traced_query_ms"]
        return L


def open_replica(*args) -> int:
    global _REPLICA
    _REPLICA = Replica(*args)
    return _REPLICA.warm_terms


def burst(seconds: float) -> None:
    _REPLICA.burst(seconds)


def close_replica() -> dict:
    global _REPLICA
    out, _REPLICA = _REPLICA.result(), None
    return out
