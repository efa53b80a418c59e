"""Benchmark of the BM25 engine: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 6 \
        --trace 0

Run it from the root of a checkout (the directory holding
``pg_textsearch_spark/``). Every run goes through the same lifecycle on
inputs made from ``--seed`` (see inputs.py):

1. set-up (``setup_s``): Spark session start, input load, and the build
   of a small appendable *ingest* index — this first build in the session
   also takes the JVM / Python-worker warm-up, so the next build is timed
   warm;
2. the default build (no ``id_col`` -> length layout, block-max pruning)
   of the base corpus (``build_docs_per_s``, ``index_bytes_per_token``);
3. untimed warm-ups: a spawned replica process opens ``LocalSearcher`` on
   the base index and warms its term LRU while the first Spark search and
   a small ``search_batch`` run;
4. rounds, each one a serving burst, a share of the Spark
   ``Bm25Index.search`` calls and one ``query.search_batch`` on the base
   index (``spark_search_p50_ms``, ``spark_batch_qps``), and one append
   into the ingest index followed by the first read of each of several
   ``LocalSearcher`` readers, which reloads the manifest and fetches cold
   (``ingest_docs_per_s``, ``fresh_read_p50_ms``). The second append
   trips tiered compaction: one merge over the index's build segments;
5. serving: one client in a closed loop over ``LocalSearcher`` in the
   replica, in bursts between the other phases while no Spark job runs,
   ``--seconds`` in all, each burst followed by one ``search_batch``
   (``serve_p50_ms``, ``serve_batch_qps``, ``serve_rss_mb``);
6. the correctness gate: on a fixed query sample, serving top-k, Spark
   top-k and the DuckDB oracle agree, on the base index and on the ingest
   index after its appends and merge.

The workload picks the query mix: ``serve-hot`` draws terms from df
ranks 30-1000 (all resident in the 4,096-term LRU after warm-up),
``serve-cold`` from the df tail past rank 4,096 (mostly LRU misses).
Builds, Spark queries, appends and serving batches are fixed work.
``--trace 1`` runs the same lifecycle with span wrappers and prints the
per-layer metrics instead (see spans.py, NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

WORKLOADS = ("serve-hot", "serve-cold")

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "spark_search_p50_ms": "ms",
    "spark_batch_qps": "q/s",
    "ingest_docs_per_s": "docs/s",
    "fresh_read_p50_ms": "ms",
    "serve_p50_ms": "ms",
    "serve_batch_qps": "q/s",
    "serve_rss_mb": "MB",
    "index_bytes_per_token": "B/token",
}

PER_LAYER = {
    "tokenizer.query_us": "us",
    "serve.fetch_ms": "ms",
    "serve.kernel_ms": "ms",
    "serve.merge_ms": "ms",
    "serve.traced_query_ms": "ms",
    "serve.p90_ms": "ms",
    "serve.self_time_coverage": "ratio",
    "serve.term_lookups": "count",
    "serve.term_hit_ratio": "ratio",
    "serve.segments_scanned_per_miss": "count",
    "serve.files_per_miss": "count",
    "serve.rows_per_miss": "count",
    "serve.segments_visited": "count",
    "serve.segments_skipped": "count",
    "serve.batch_kernel_ms": "ms",
    "serve.refresh_ms": "ms",
    "codec.decode_calls": "count",
    "codec.decode_ms": "ms",
    "query.blocks_decoded": "count",
    "query.blocks_total": "count",
    "query.plan_ms": "ms",
    "query.collect_ms": "ms",
    "query.df_resolve_ms": "ms",
    "query.jobs_per_search": "count",
    "query.tasks_per_search": "count",
    "query.spark_floor_ms": "ms",
    "build.tokenize_s": "s",
    "build.pack_write_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.segments": "count",
    "build.bytes_written": "B",
    "append.batch_s": "s",
    "merge.count": "count",
    "merge.s": "s",
    "merge.docs_per_s": "docs/s",
    "merge.bytes_rewritten": "B",
    "merge.write_amp": "ratio",
    "manifest.save_ms": "ms",
    "manifest.load_ms": "ms",
    "manifest.commits": "count",
    "host.cpu_control_ms": "ms",
    "host.steal_ticks": "count",
    "host.jvm_rss_mb": "MB",
    "trace.serve_p50_overhead_ms": "ms",
    "trace.serve_p90_overhead_ms": "ms",
    "trace.spark_search_p50_overhead_ms": "ms",
    "trace.fresh_read_p50_overhead_ms": "ms",
}

_clock = time.perf_counter


def _p(samples, q: float) -> float:
    import numpy as np
    return float(np.percentile(samples, q))


def _ms_p50(samples) -> float:
    return 1e3 * statistics.median(samples)


class Run:
    """One benchmark run: inputs, Spark phases, serving phase, gate."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, sizes, work: str):
        from pg_textsearch_spark.config import Bm25Options
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.sizes, self.work = trace, sizes, work
        self.opts = Bm25Options(text_config="simple")
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.control: list[float] = []
        self.tracer = None
        self.spark_results: list = []
        self.sp: dict[str, list] = {k: [] for k in (
            "lat", "traced", "untraced", "plan", "collect", "jobs", "tasks",
            "batch_qps", "append_s", "fresh", "fresh_on", "fresh_off",
            "session_s", "warmup_s")}

    # -- helpers ----------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self, fn, *args, **kwargs):
        """Run one measured operation; (ok, result). An exception counts
        as a failed operation."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return False, None

    def check(self, what: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
            print(f"# gate FAILED {what}: {error}", file=sys.stderr)

    def host_control(self) -> None:
        from host import cpu_control_ms
        self.control.append(cpu_control_ms())

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks

    # -- phases -------------------------------------------------------------
    def write_inputs(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from inputs import make_inputs
        sz = self.sizes
        self.inp = inp = make_inputs(self.seed, self.workload, sz)
        print(f"# inputs sha256={inp.digest()} base_docs={sz.base_docs} "
              f"base_tokens={inp.base_tokens} hot_pool={inp.hot_pool} "
              f"cold_pool={inp.cold_pool}", flush=True)
        pq.write_table(pa.table({"key": inp.base_keys,
                                 "text": inp.base_texts}),
                       self.path("base.parquet"))
        cuts = [0, sz.ingest_docs] + [sz.ingest_docs + (i + 1)
                                      * sz.append_docs
                                      for i in range(sz.rounds)]
        self.ingest_files = []
        for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
            f = self.path(f"ingest_{i}.parquet")
            pq.write_table(pa.table({"doc_id": inp.ingest_ids[a:b],
                                     "text": inp.ingest_texts[a:b]}), f)
            self.ingest_files.append(f)

    def setup(self) -> None:
        from host import cpus
        from pg_textsearch_spark.index.build import Bm25Index
        from pg_textsearch_spark.spark_utils import get_spark
        t0 = _clock()
        self.spark = get_spark("perfbench", cpus=cpus())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sp["session_s"] = [_clock() - t0]
        self.base_df = self.spark.read.parquet(self.path("base.parquet"))
        ingest_df = self.spark.read.parquet(self.ingest_files[0])
        self.ingest = Bm25Index.build(
            self.spark, ingest_df, "text", self.path("ingest_idx"),
            id_col="doc_id", opts=self.opts,
            num_segments=self.sizes.ingest_segments)
        self.attempted += 1
        self.e2e["setup_s"] = _clock() - t0
        if self.trace:
            from spans import Tracer, install_driver
            self.tracer = Tracer()
            install_driver(self.tracer)
            # bytes the set-up build wrote, for merge.write_amp
            self.tracer.counts["bytes_added:" + self.ingest.path] += sum(
                s.bytes for s in self.ingest.manifest.segments)

    def build_base(self) -> None:
        from pg_textsearch_spark.index.build import Bm25Index
        sc = self.spark.sparkContext
        if self.trace:
            from pg_textsearch_spark.spark_utils import doc_term_arrays
            t0 = _clock()
            (doc_term_arrays(self.base_df, "text", "key", self.opts,
                             with_sha=True)
             .write.format("noop").mode("overwrite").save())
            self.layers["build.tokenize_s"] = _clock() - t0
        sc.setJobGroup("perfbench-build", "base build")
        t0 = _clock()
        self.base = Bm25Index.build(
            self.spark, self.base_df, "text", self.path("base_idx"),
            opts=self.opts, num_segments=self.sizes.base_segments)
        dt = _clock() - t0
        sc.setJobGroup("perfbench", "")
        self.attempted += 1
        segs = self.base.manifest.segments
        nbytes = sum(s.bytes for s in segs)
        self.e2e["build_docs_per_s"] = self.sizes.base_docs / dt
        self.e2e["index_bytes_per_token"] = nbytes / self.inp.base_tokens
        if self.trace:
            jobs, tasks = self.jobs_and_tasks("perfbench-build")
            self.layers.update({
                "build.pack_write_s": dt - self.layers["build.tokenize_s"],
                "build.jobs": jobs, "build.tasks": tasks,
                "build.segments": len(segs), "build.bytes_written": nbytes})

    def spark_warmup(self) -> None:
        """Untimed Spark warm-up: the first search of the base index and a
        small ``search_batch`` (the first batch plan compiles slowly)."""
        from pg_textsearch_spark.index import query as Q
        t0 = _clock()
        for q in self.inp.spark_queries[:self.sizes.spark_warmup]:
            self.op(lambda: self.base.search(q, k=10).collect())
        t1 = _clock()
        self.op(lambda: Q.search_batch(self.base, self.inp.spark_warm_batch,
                                       k=10).collect())
        self.sp["warmup_s"] = [t1 - t0, _clock() - t1]

    def spark_round(self, r: int) -> None:
        """Round ``r`` of the Spark query work: its share of the timed
        searches and one ``search_batch``. Rounds alternate with serving
        bursts and appends, so the samples spread over the whole run."""
        from pg_textsearch_spark.index import query as Q
        sz, inp, sc, sp = self.sizes, self.inp, self.spark.sparkContext, \
            self.sp
        timed = inp.spark_queries[sz.spark_warmup:]
        per = -(-len(timed) // sz.rounds)
        for i in range(per * r, min(len(timed), per * (r + 1))):
            q = timed[i]
            traced = self.trace and i % 2 == 0
            if self.trace and not traced:
                self.tracer.restore()
            sc.setJobGroup(f"perfbench-q{i}", "search")
            t0 = _clock()
            ok, df = self.op(self.base.search, q, k=10)
            t1 = _clock()
            ok, rows = self.op(df.collect) if ok else (False, None)
            t2 = _clock()
            sc.setJobGroup("perfbench", "")
            if self.trace and not traced:
                self.tracer_on()
            if not ok:
                continue
            sp["lat"].append(t2 - t0)
            sp["traced" if traced else "untraced"].append(t2 - t0)
            sp["plan"].append(t1 - t0)
            sp["collect"].append(t2 - t1)
            self.spark_results.append(
                [(int(row["doc_id"]), float(row["score"])) for row in rows])
            j, t = self.jobs_and_tasks(f"perfbench-q{i}")
            sp["jobs"].append(j)
            sp["tasks"].append(t)
        b = inp.spark_batches[r]
        t0 = _clock()
        if self.op(lambda: Q.search_batch(self.base, b, k=10).collect())[0]:
            sp["batch_qps"].append(len(b) / (_clock() - t0))

    def spark_result(self) -> None:
        sp = self.sp
        self.e2e["spark_search_p50_ms"] = _ms_p50(sp["lat"])
        self.e2e["spark_batch_qps"] = statistics.median(sp["batch_qps"])
        if self.trace:
            self.layers.update({
                "query.plan_ms": 1e3 * statistics.mean(sp["plan"]),
                "query.collect_ms": 1e3 * statistics.mean(sp["collect"]),
                "query.jobs_per_search": statistics.mean(sp["jobs"]),
                "query.tasks_per_search": statistics.mean(sp["tasks"]),
                "trace.spark_search_p50_overhead_ms":
                    _ms_p50(sp["traced"]) - _ms_p50(sp["untraced"])})

    def tracer_on(self) -> None:
        from spans import install_driver
        install_driver(self.tracer)

    def open_readers(self) -> None:
        """The serving replicas of the ingest index whose first read after
        each commit is a fresh read."""
        from pg_textsearch_spark.index.serve import LocalSearcher
        self.readers = [LocalSearcher(self.ingest.path)
                        for _ in range(self.sizes.reload_readers)]
        # untimed: the process's first scans of the ingest index
        for srv, q in zip(self.readers, self.inp.fresh_queries[-1]):
            self.op(srv.search, q, k=10)

    def append_round(self, r: int) -> None:
        """Append micro-batch ``r`` (the one that brings the index to 8 L0
        segments also runs the tiered merge), then the first read of
        every reader: each one reloads the manifest, drops its caches and
        fetches its terms cold. A reader that does not see the commit
        fails the operation."""
        sp = self.sp
        df = self.spark.read.parquet(self.ingest_files[r + 1])
        t0 = _clock()
        if not self.op(self.ingest.append, df, "text", "doc_id")[0]:
            return
        sp["append_s"].append(_clock() - t0)
        for j, (srv, q) in enumerate(zip(self.readers,
                                         self.inp.fresh_queries[r])):
            traced = (r + j) % 2 == 0
            if self.trace and not traced:
                self.tracer.restore()
            before = srv.manifest
            t0 = _clock()
            ok = self.op(srv.search, q, k=10)[0]
            dt = _clock() - t0
            if self.trace and not traced:
                self.tracer_on()
            if ok and srv.manifest is before:
                self.failed += 1
                print(f"# fresh read missed commit {r}", file=sys.stderr)
            elif ok:
                sp["fresh"].append(dt)
                sp["fresh_on" if traced else "fresh_off"].append(dt)

    def ingest_result(self) -> None:
        sp = self.sp
        self.e2e["ingest_docs_per_s"] = (len(sp["append_s"])
                                         * self.sizes.append_docs
                                         / sum(sp["append_s"]))
        self.e2e["fresh_read_p50_ms"] = _ms_p50(sp["fresh"])
        self.ingest_spark = [
            [(int(r["doc_id"]), float(r["score"])) for r in
             self.ingest.search(q, k=10).collect()]
            for q in self.inp.ingest_gate]
        if self.trace:
            self.layers["trace.fresh_read_p50_overhead_ms"] = (
                _ms_p50(sp["fresh_on"]) - _ms_p50(sp["fresh_off"]))
            self.driver_layers(sp["append_s"])

    def driver_layers(self, append_times) -> None:
        tr = self.tracer
        tot, c = tr.totals(), tr.counts
        merge_s, merges = tot.get("merge.segments", (0.0, 0))
        compact_s = tot.get("merge.compact", (0.0, 0))[0]
        save_s, saves = tot.get("manifest.save", (0.0, 0))
        load_s, loads = tot.get("manifest.load", (0.0, 0))
        refresh_s = tot.get("serve.refresh", (0.0, 0))[0]
        final = sum(s.bytes for s in self.ingest.manifest.segments)
        self.layers.update({
            "append.batch_s": (sum(append_times) - compact_s)
            / len(append_times),
            "merge.count": merges,
            "merge.s": merge_s,
            "merge.docs_per_s": c["merge.docs"] / merge_s if merge_s else 0.0,
            "merge.bytes_rewritten": c["merge.bytes"],
            "merge.write_amp": c["bytes_added:" + self.ingest.path]
            / final,
            "manifest.save_ms": 1e3 * save_s / max(saves, 1),
            "manifest.load_ms": 1e3 * load_s / max(loads, 1),
            "manifest.commits": saves,
            "serve.refresh_ms": 1e3 * refresh_s / max(c["serve.reloads"], 1),
        })

    def spark_extras(self) -> None:
        """Traced run only: exact block counts, df resolution time and
        the Spark job floor."""
        from pg_textsearch_spark.functions.tokenizer import tokenize_query
        sample = self.inp.spark_queries[self.sizes.spark_warmup:][
            :self.sizes.gate_queries]
        dec = tot = 0
        df_t = []
        for q in sample:
            _, st = self.base.search_profiled(q, k=10)
            dec += st["blocks_decoded"]
            tot += st["blocks_total"]
            terms = [t for t, _ in tokenize_query(q, "simple")]
            t0 = _clock()
            self.base.term_stats(terms).collect()
            df_t.append(_clock() - t0)
        floor = []
        for _ in range(5):
            t0 = _clock()
            self.spark.range(1).collect()
            floor.append(_clock() - t0)
        self.layers.update({
            "query.blocks_decoded": dec / len(sample),
            "query.blocks_total": tot / len(sample),
            "query.df_resolve_ms": 1e3 * statistics.mean(df_t),
            "query.spark_floor_ms": _ms_p50(floor)})

    def stop_spark(self) -> None:
        from host import rss_mb
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            self.layers["host.jvm_rss_mb"] = rss_mb(proc.pid)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def open_replica(self) -> None:
        """Open the replica on the base index and warm its term LRU, in
        the background while the (untimed) Spark warm-up runs."""
        import serve_load
        inp = self.inp
        trace_path = (os.path.join(self.trace_dir, self.tag)
                      if self.trace else None)
        self.preloaded.result()
        self.opened = self.replica.submit(
            serve_load.open_replica, self.base.path, inp.serve_warmup,
            inp.serve_queries, inp.serve_batches, trace_path)

    def serve_burst(self) -> None:
        """One serving burst in the replica process; ``--seconds`` is
        split evenly over the bursts (see serve_load.py for why)."""
        import serve_load
        self.opened.result()
        self.replica.submit(serve_load.burst, self.seconds
                            / (self.sizes.rounds + 1)).result()

    def serve_result(self) -> None:
        import serve_load
        out = self.replica.submit(serve_load.close_replica).result()
        lat, batches = out["lat"], out["batches"]
        self.attempted += len(lat) + len(batches)
        # the p90 is a traced-run diagnostic, not gated: see NOTES.md
        self.layers["serve.p90_ms"] = 1e3 * _p(lat, 90)
        self.e2e.update({
            "serve_p50_ms": _ms_p50(lat),
            "serve_batch_qps": (sum(n for n, _ in batches)
                                / sum(t for _, t in batches)),
            "serve_rss_mb": out["rss_mb"]})
        cuts = out["bursts"] + [len(lat)]
        print(f"# serve samples={len(lat)} batches={len(batches)} "
              f"warm_terms={out['warm_terms']} burst_p50_ms="
              + json.dumps([round(_ms_p50(lat[a:b]), 4)
                            for a, b in zip(cuts, cuts[1:])]), flush=True)
        if self.trace:
            self.layers.update(out["layers"])
            off = out["lat_untraced"]
            self.layers["trace.serve_p50_overhead_ms"] = (
                _ms_p50(lat) - _ms_p50(off))
            self.layers["trace.serve_p90_overhead_ms"] = 1e3 * (
                _p(lat, 90) - _p(off, 90))

    def gate(self) -> None:
        import duckdb
        from gate import matches_oracle, oracle_scores, same_topk
        from pg_textsearch_spark.index.serve import LocalSearcher
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.path('duckdb_tmp')}'")
        con.execute("CREATE VIEW base AS SELECT * FROM read_parquet("
                    f"'{self.path('base.parquet')}')")
        files = ", ".join(f"'{f}'" for f in self.ingest_files)
        con.execute(f"CREATE VIEW ingest AS SELECT * FROM read_parquet("
                    f"[{files}])")
        base = LocalSearcher(self.base.path)
        sample = self.inp.spark_queries[self.sizes.spark_warmup:][
            :self.sizes.gate_queries]
        for q, spark_top in zip(sample, self.spark_results):
            local = base.search(q, k=10)
            pairs = list(zip(local["doc_id"].astype(int),
                             local["score"].astype(float)))
            self.check(f"base serve==spark {q!r}", same_topk(pairs,
                                                             spark_top))
            keyed = base.resolve(local, cols=("key",))
            keyed = list(zip(keyed["key"].astype(int),
                             keyed["score"].astype(float)))
            self.check(f"base oracle {q!r}", matches_oracle(
                keyed, oracle_scores(con, q, "base", "key", self.opts), 10))
        ing = LocalSearcher(self.ingest.path)
        for q, spark_top in zip(self.inp.ingest_gate, self.ingest_spark):
            local = ing.search(q, k=10)
            pairs = list(zip(local["doc_id"].astype(int),
                             local["score"].astype(float)))
            self.check(f"ingest serve==spark {q!r}", same_topk(pairs,
                                                               spark_top))
            self.check(f"ingest oracle {q!r}", matches_oracle(
                pairs, oracle_scores(con, q, "ingest", "doc_id", self.opts),
                10))
        con.close()

    def execute(self) -> None:
        """All phases, with the serving process started (and its imports
        loaded) up front and always shut down and waited for."""
        import multiprocessing as mp
        from concurrent.futures import ProcessPoolExecutor
        import serve_load
        with ProcessPoolExecutor(1, mp_context=mp.get_context("spawn")) as ex:
            self.preloaded = ex.submit(serve_load.preload)
            self.replica = ex
            try:
                self._phases()
            finally:
                if getattr(self, "spark", None) is not None:
                    self.stop_spark()
        # the pool started multiprocessing's resource tracker; end it now
        # rather than when this interpreter exits
        from multiprocessing import resource_tracker
        resource_tracker._resource_tracker._stop()

    def _phases(self) -> None:
        from host import steal_ticks
        self.tag = f"{self.workload}-s{self.seed}"
        self.trace_dir = os.path.join(os.path.dirname(self.work), "traces")
        os.makedirs(self.trace_dir, exist_ok=True)
        steal0 = steal_ticks()
        phases = {}

        def phase(fn, name=None):
            t0 = _clock()
            fn()
            name = name or fn.__name__
            phases[name] = round(phases.get(name, 0.0) + _clock() - t0, 2)
        phase(self.write_inputs)
        self.host_control()
        phase(self.setup)
        phase(self.build_base)
        phase(self.open_replica)
        phase(self.spark_warmup)
        phase(self.open_readers)
        for r in range(self.sizes.rounds):
            phase(self.serve_burst)
            phase(lambda: self.spark_round(r), "spark_rounds")
            phase(lambda: self.append_round(r), "append_rounds")
            if r % 2:
                self.host_control()
        phase(self.spark_result)
        phase(self.ingest_result)
        if self.trace:
            phase(self.spark_extras)
            self.tracer.restore()
            self.tracer.dump(os.path.join(self.trace_dir,
                                          self.tag + ".driver.jsonl"))
        phase(self.stop_spark)
        self.spark = None
        phase(self.gate)
        phase(self.serve_burst)
        self.host_control()
        phase(self.serve_result)
        # per-operation samples, for reading a run's noise
        print("# ops " + json.dumps({
            k: [round(x, 4) for x in self.sp[k]] for k in (
                "session_s", "warmup_s", "lat", "batch_qps", "append_s",
                "fresh")}), flush=True)
        print("# phases " + json.dumps(phases), flush=True)
        self.layers["host.cpu_control_ms"] = statistics.median(self.control)
        self.layers["host.steal_ticks"] = steal_ticks() - steal0
        print("# host " + json.dumps({
            "cpu_control_ms": self.layers["host.cpu_control_ms"],
            "steal_ticks": self.layers["host.steal_ticks"]}), flush=True)


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # every JVM, spark-submit's launcher included: temp files in ``work``
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pg_textsearch_spark",
                                       "spark_utils.py")):
        print("perfbench: run from the root of a checkout that holds "
              "pg_textsearch_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from inputs import SMOKE, Sizes

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              SMOKE if args.smoke else Sizes(), work)
    # a terminated run still stops its JVM and serving process (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = PER_LAYER if args.trace else END_TO_END
    values = run.layers if args.trace else run.e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
