"""The benchmark workloads: ingest (the write path, dedup included) and serve.

Each workload is driven by one client in a closed loop: a call starts only
after the previous one returned. Timings are taken around the engine's
public functions; per-layer numbers come from the spans and Spark counts
of tracing.py and from the stage_sink / phase_sink dicts the engine fills.
Every timed result is checked (checks.py); a wrong one counts as failed.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import pandas as pd
from pyspark.sql import functions as F

from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, hash_doc_id_py, prepare_corpus
from text_search_spark.index.delete import delete_docs
from text_search_spark.index.merge import maybe_compact
from text_search_spark.index.query import IndexReader, bm25_topk_df, bm25_topk_rows
from text_search_spark.operators import dedup as dd
from text_search_spark.streaming.incremental import upsert_batch
from text_search_spark.textnorm import tokenize

import checks
import inputs
from tracing import Tracer

K = checks.K

# metric name -> unit; BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}
PER_LAYER = {
    "build.doc_stats_s": "s",
    "build.vocab_s": "s",
    "build.segments_s": "s",
    "build.term_stats_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.failed_tasks": "count",
    "build.bytes_written": "bytes",
    "build.segment_files": "count",
    "build.self_s": "s",
    "query.single.plan_ms": "ms",
    "query.single.read_ms": "ms",
    "query.single.score_ms": "ms",
    "query.single.merge_ms": "ms",
    "query.multi.plan_ms": "ms",
    "query.multi.read_ms": "ms",
    "query.multi.score_ms": "ms",
    "query.multi.merge_ms": "ms",
    "query.single.jobs_per_query": "count",
    "query.multi.jobs_per_query": "count",
    "query.path.driver_sidecar": "count",
    "query.path.scan_stage": "count",
    "query.path.shard_topk": "count",
    "query.cache_hits": "count",
    "query.cache_misses": "count",
    "query.batch_jobs": "count",
    "query.self_s": "s",
    "incremental.upsert_jobs": "count",
    "incremental.files_added": "count",
    "incremental.self_s": "s",
    "delete.delete_s": "s",
    "delete.tombstone_rows": "count",
    "merge.compact_s": "s",
    "merge.compact_jobs": "count",
    "merge.files_before": "count",
    "merge.files_after": "count",
    "merge.bytes_rewritten": "bytes",
    "dedup.signatures_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.exact_s": "s",
    "dedup.simhash_s": "s",
    "dedup.pairs": "count",
    "dedup.signatures_jobs": "count",
    "dedup.lsh_pairs_jobs": "count",
    "dedup.exact_jobs": "count",
    "dedup.simhash_jobs": "count",
    "dedup.self_s": "s",
    "trace.spans": "count",
    "trace.failed_tasks": "count",
    "trace.unaccounted_s": "s",
    "trace.unaccounted_share": "ratio",
}


@dataclass
class Run:
    spark: object
    cpus: int
    seed: int
    seconds: float
    sizes: dict
    tracer: Tracer
    work_dir: str
    attempted: int = 0
    failed: int = 0
    errors: List[str] = field(default_factory=list)
    info: Dict[str, object] = field(default_factory=dict)
    e2e: Dict[str, float] = field(default_factory=dict)
    printed: Dict[str, tuple] = field(default_factory=dict)  # name -> (value, unit)
    layers: Dict[str, float] = field(default_factory=dict)
    t_measure: Optional[float] = None
    _steal_at_start: tuple = (0, 0)
    samples: Dict[str, object] = field(default_factory=dict)  # raw timings, saved

    def start_measuring(self) -> None:
        """Start of the measured window. The driver's peak-RSS mark and the
        JVM's peak heap marks are reset, so both peaks cover the window."""
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # VmHWM := VmRSS
        self.info["driver_rss_at_start_mb"] = _status_mb("VmRSS")
        for pool in _heap_pools(self.spark):
            pool.resetPeakUsage()
        self._steal_at_start = _steal_jiffies()
        self.t_measure = time.perf_counter()
        self.note("setup done")

    def stop_measuring(self) -> None:
        """End of the measured window, before the checks load their oracle:
        the driver's and the JVM's peak memory in the window, and the JVM
        heap the window left live."""
        steal, total = (b - a for a, b in zip(self._steal_at_start, _steal_jiffies()))
        # CPU time the hypervisor gave to other guests: a load the program
        # does not control, printed to explain a slow run
        self.info["host_steal_share"] = round(steal / max(1, total), 4)
        peak = _status_mb("VmHWM")
        self.e2e["driver_peak_rss_mb"] = peak
        self.info["driver_rss_baseline_share"] = round(self.info["driver_rss_at_start_mb"] / peak, 4)
        mb = 1 << 20
        self.printed["jvm_heap_peak_mb"] = (
            sum(p.getPeakUsage().getUsed() for p in _heap_pools(self.spark)) / mb, "MB")
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        self.printed["jvm_heap_after_gc_mb"] = (used / mb, "MB")

    def note(self, label: str) -> None:
        """Record when a set-up step ended (printed as setup timeline)."""
        self.info.setdefault("setup_timeline_s", []).append((label, round(time.perf_counter(), 3)))

    def check(self, problem: Optional[str], what: str) -> None:
        """Count one checked operation; `problem` None means correct."""
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.errors.append(f"{what}: {problem}")


def _status_mb(field: str) -> float:
    """One memory line of /proc/self/status, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(field)


def _steal_jiffies() -> tuple:
    """(steal, all) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _heap_pools(spark) -> list:
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mgmt.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def _frame(spark, rows, columns, parts, cache=True):
    """Input rows as a DataFrame; cached ones are materialized before any
    timing."""
    df = spark.createDataFrame(pd.DataFrame(rows, columns=columns)).repartition(parts)
    if cache:
        df = df.cache()
        df.count()
    return df


def _spawn_workers(spark, cpus: int) -> None:
    """Start every Python worker before timing: a cold worker costs seconds
    here and would be billed to the first timed job."""

    def touch(it):
        for _b in it:
            yield pd.DataFrame({"x": [1]})

    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(touch, schema="x long").count()


def _quiesce() -> None:
    """Start the measured window from a quiet state: the Python garbage of
    the set-up collected and its index files flushed to disk. The JVM is
    left alone: a full GC there shrank the heap, and regrowing it made the
    first timed dedup pass about a third slower than the second."""
    gc.collect()
    os.sync()


def _files(path: str) -> Dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _s, files in os.walk(path)
        for f in files
    }


def _segment_files(ix: str) -> int:
    man = fmt.load_manifest(ix)
    return len(man.segment_files or []) if man else 0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _query(run: Run, reader, ix: str, q):
    """One sequential query through bm25_topk_rows -> (rows, seconds,
    phases). The engine's phase_sink tells a cache hit of the driver
    sidecar (no read_s) from a read of the postings files."""
    phases: Dict[str, object] = {}
    with run.tracer.span("bm25_topk_rows", "query", request=q.query_id) as sp:
        t0 = time.perf_counter()
        rows = bm25_topk_rows(run.spark, ix, [q], k=K, reader=reader, phase_sink=phases)
        dt = time.perf_counter() - t0
    if sp is not None:
        sp["class"], sp["phases"] = _query_class(q), phases
    return rows, dt, phases


def _query_class(q) -> str:
    return "single" if len(q.terms) == 1 else "multi"


def _cache_hit(phases) -> bool:
    """A query the driver sidecar answered without reading postings files."""
    return phases.get("path") == "driver_sidecar" and "read_s" not in phases


def _version_ids(spark, batches) -> List[Dict[str, int]]:
    """url -> doc id per upsert batch: upsert_batch ids a version by
    xxhash64(url, batch_id), batch ids counting from 1."""
    out = []
    for b, batch in enumerate(batches, start=1):
        df = spark.createDataFrame(pd.DataFrame({"url": [u for u, _t in batch]}))
        rows = df.select("url", F.xxhash64("url", F.lit(b)).alias("id")).collect()
        out.append({r.url: int(r.id) for r in rows})
    return out


def _build(run: Run, df, ix: str) -> float:
    sink: Dict[str, float] = {}
    with run.tracer.span("build_index", "build", request="build") as sp:
        t0 = time.perf_counter()
        build_index(
            run.spark,
            prepare_corpus(df, url_col="url"),
            ix,
            n_buckets=None,  # auto-sized from corpus volume, as a caller would
            n_shards=None,
            bucket_groups=1,
            stage_sink=sink,
        )
        dt = time.perf_counter() - t0
    if sp is not None:
        for stage in ("doc_stats", "vocab", "term_stats"):
            run.layers[f"build.{stage}_s"] = sink.get(stage, 0.0)
        run.layers["build.segments_s"] = sum(
            v for k, v in sink.items() if k.startswith("segments")
        )
        for key in ("jobs", "stages", "tasks", "failed_tasks"):
            run.layers[f"build.{key}"] = sp[key]
        run.layers["build.bytes_written"] = sum(_files(ix).values())
        run.layers["build.segment_files"] = _segment_files(ix)
    return dt


def _upsert(run: Run, df, ix: str, batch_id: int) -> float:
    before = _segment_files(ix)
    with run.tracer.span("upsert_batch", "incremental", request=f"upsert{batch_id}") as sp:
        t0 = time.perf_counter()
        upsert_batch(run.spark, df, ix, batch_id)
        dt = time.perf_counter() - t0
    if sp is not None:
        sp["files_added"] = _segment_files(ix) - before
    return dt


def _delete(run: Run, ix: str, ids: List[int]) -> float:
    with run.tracer.span("delete_docs", "delete", request="takedown") as sp:
        t0 = time.perf_counter()
        n = delete_docs(run.spark, ix, ids)
        dt = time.perf_counter() - t0
    if sp is not None:
        run.layers["delete.delete_s"] = dt
        run.layers["delete.tombstone_rows"] = n
    return dt


# ---------------------------------------------------------------- ingest


def ingest(run: Run) -> None:
    sz = run.sizes["ingest"]
    spark, tr = run.spark, run.tracer
    inp = inputs.index_inputs(run.seed, sz)
    crawl = _crawl(run, sz["dedup"])
    run.info.update(
        input_digest=inputs.digest([inp.describe(), crawl.inp.describe()]),
        base_docs=len(inp.base),
        upsert_batches=[len(b) for b in inp.batches],
        takedown_docs=len(inp.takedown),
        postings_cache_max=IndexReader.POSTINGS_CACHE_MAX,
    )
    cols = ["url", "text"]
    base_df = _frame(spark, inp.base, cols, run.cpus)
    batch_dfs = [_frame(spark, b, cols, run.cpus) for b in inp.batches]
    _spawn_workers(spark, run.cpus)
    ix = os.path.join(run.work_dir, "ingest_index")
    versions = _version_ids(spark, inp.batches)
    base_urls = {u for u, _t in inp.base}
    run.note("inputs")

    fresh_s, first_s = [], []
    snapshots = []  # (probe rows, indexed (id, text) versions, dead ids)
    indexed = [(hash_doc_id_py(u), t) for u, t in inp.base]
    dead = set()

    def probe(reader):
        """The probe set, one query at a time, right after a write and
        refresh: the single-term probes are fresh reads (the refresh
        emptied the postings cache). Checked after the window against the
        oracle of this snapshot."""
        rows, reads = [], []
        for q in inp.probes:
            r, dt, _phases = _query(run, reader, ix, q)
            rows.extend(r)
            if _query_class(q) == "single":
                reads.append(dt)
        fresh_s.extend(reads)
        first_s.append(reads[0])
        snapshots.append((rows, list(indexed), set(dead)))

    upsert_s, searchable_s = [], []
    _quiesce()
    run.start_measuring()
    with tr.span("ingest", "bench", request="ingest"):
        # the crawl is deduplicated before it is indexed. As in a batch
        # job, the pass is the first of its JVM and pays its start-up costs
        dedup_pass = _dedup_pass(run, crawl.df, crawl.planted_df)
        build_s = _build(run, base_df, ix)
        reader = IndexReader(spark, ix)
        probe(reader)
        for b, df in enumerate(batch_dfs, start=1):
            t0 = time.perf_counter()
            upsert_s.append(_upsert(run, df, ix, b))
            reader.refresh()
            searchable_s.append(time.perf_counter() - t0)
            # a re-crawl tombstones the url's base version
            indexed.extend((versions[b - 1][u], t) for u, t in inp.batches[b - 1])
            dead.update(hash_doc_id_py(u) for u, _t in inp.batches[b - 1] if u in base_urls)
            probe(reader)
        delete_s = _delete(run, ix, [hash_doc_id_py(u) for u in inp.takedown])
        reader.refresh()
        dead.update(hash_doc_id_py(u) for u in inp.takedown)
        probe(reader)
        files_before, disk_before = _segment_files(ix), _files(ix)
        with tr.span("maybe_compact", "merge", request="compact") as sp:
            t0 = time.perf_counter()
            fired = maybe_compact(spark, ix, max_files_per_bucket=1)
            compact_s = time.perf_counter() - t0
        run.check(None if fired else "maybe_compact did not fire", "compaction")
        reader.refresh()
        # compaction purged the tombstones: the statistics cover exactly
        # the live docs
        indexed = [(d, t) for d, t in indexed if d not in dead]
        dead = set()
        probe(reader)
    run.stop_measuring()

    _check_dedup(run, crawl, dedup_pass)
    # every probe set against the oracle of its snapshot
    for n, (rows, docs, gone) in enumerate(snapshots):
        oracle = checks.OracleAnswers(docs, gone)
        got = checks.by_query(rows)
        for q in inp.probes:
            run.check(checks.diff(got.get(q.query_id, []), oracle.expected(q)),
                      f"snapshot {n} probe {q.query_id}")
    live = snapshots[-1][1]

    dedup_s = sum(dedup_pass[0].values())
    written = len(inp.base) + sum(len(b) for b in inp.batches)
    write_s = dedup_s + build_s + sum(upsert_s) + delete_s + compact_s
    text_bytes = sum(len(t.encode()) for _d, t in live)
    run.e2e["throughput_per_s"] = (len(crawl.inp.docs) + written) / write_s
    # the time until a micro-batch's pages are searchable. The fresh reads
    # after it (printed) are milliseconds each, taken at five instants of
    # the run, and moved with the host's load far more than the Spark work
    run.e2e["latency_p50_ms"] = _median(searchable_s) * 1000
    run.printed.update(
        build_docs_per_s=(len(inp.base) / build_s, "1/s"),
        upsert_p50_s=(_median(upsert_s), "s"),
        compact_s=(compact_s, "s"),
        fresh_query_p50_ms=(_median(first_s) * 1000, "ms"),
        fresh_read_p50_ms=(_median(fresh_s) * 1000, "ms"),
        index_bytes_per_text_byte=(sum(_files(ix).values()) / text_bytes, "ratio"),
        dedup_docs_per_s=(len(crawl.inp.docs) / dedup_s, "1/s"),
        minhash_lsh_ms=(dedup_pass[0]["lsh"] * 1000, "ms"),
    )
    run.info.update(live_docs=len(live), candidate_pairs=dedup_pass[1])
    run.samples = {"fresh_ms": [round(x * 1000, 3) for x in fresh_s], "dedup_s": dedup_pass[0],
                   "build_s": build_s, "upsert_s": upsert_s, "searchable_s": searchable_s,
                   "delete_s": delete_s, "compact_s": compact_s}
    if sp is not None:
        disk_after = _files(ix)
        run.layers.update(
            {
                "merge.compact_s": compact_s,
                "merge.compact_jobs": sp["jobs"],
                "merge.files_before": files_before,
                "merge.files_after": _segment_files(ix),
                "merge.bytes_rewritten": sum(
                    n for p, n in disk_after.items() if p not in disk_before
                ),
                "dedup.pairs": dedup_pass[1],
            }
        )


# ----------------------------------------------------------------- serve


def serve(run: Run) -> None:
    sz = run.sizes["serve"]
    spark, tr = run.spark, run.tracer
    inp = inputs.index_inputs(run.seed, sz)
    mix = inputs.ServeMix(inp, sz["multi_every"])
    cols = ["url", "text"]
    frames = [_frame(spark, b, cols, run.cpus, cache=False) for b in [inp.base] + inp.batches]
    ix = os.path.join(run.work_dir, "serve_index")
    run.note("inputs")

    # set-up: a lived-in index, a base build grown by upsert micro-batches
    # with re-crawls and a takedown leaving ~1% tombstones. Untraced: the
    # per-layer numbers of serve cover its queries only
    with tr.off():
        _build(run, frames[0], ix)
        for b, df in enumerate(frames[1:], start=1):
            _upsert(run, df, ix, b)
        takedown = {hash_doc_id_py(u) for u in inp.takedown}
        _delete(run, ix, sorted(takedown))
    run.note("index")
    versions = _version_ids(spark, inp.batches)
    indexed = [(hash_doc_id_py(u), t) for u, t in inp.base] + [
        (ids[u], t) for batch, ids in zip(inp.batches, versions) for u, t in batch]
    recrawled = {u for b in inp.batches for u, _t in b} & {u for u, _t in inp.base}
    dead = {hash_doc_id_py(u) for u in recrawled} | takedown
    postings = inputs.postings(t for _d, t in indexed)
    reader = IndexReader(spark, ix)
    # the cache holds the same share of the index as POSTINGS_CACHE_MAX
    # does of the postings measured at 100k docs
    reader.postings_cache_max_postings = round(
        postings * IndexReader.POSTINGS_CACHE_MAX / sz["postings_at_100k_docs"])
    run.info.update(
        input_digest=inputs.digest([inp.describe(), sz]),
        indexed_docs=len(indexed),
        tombstoned_docs=len(dead),
        postings=postings,
        postings_cache=reader.postings_cache_max_postings,
        postings_cache_max_default=IndexReader.POSTINGS_CACHE_MAX,
    )
    with tr.off():  # warm every query path, then empty the cache
        for q in inp.multi_pool[:4] + [inp.probes[0]]:
            bm25_topk_rows(spark, ix, [q], k=K, reader=reader)
        bm25_topk_df(spark, ix, inp.multi_pool[:8], k=K, reader=reader).collect()
        reader.refresh()

    seq, batches = [], []
    n_batch = sz["batch_queries"]
    _quiesce()
    run.start_measuring()
    deadline = run.t_measure + run.seconds
    # two batches, at a third and two thirds of the window: one all
    # single-term, one from the mix, so both bm25_topk_df routes and both
    # bm25_topk_rows cross-check routes (driver sidecar, shard top-k) run
    batch_at = [run.t_measure + run.seconds * n / 3 for n in (1, 2)]
    # each reported class needs a sample: a short or slow window may end
    # before a cache hit or a multi-term query, so it runs on for them (up
    # to three windows)
    n_hits = n_multi = 0
    with tr.span("serve", "bench", request="serve"):
        while (time.perf_counter() < deadline or len(batches) < 2
               or (not (n_hits and n_multi) and time.perf_counter() < deadline + 2 * run.seconds)):
            if len(batches) < 2 and time.perf_counter() >= batch_at[len(batches)]:
                specs = mix.singles(n_batch) if not batches else [next(mix) for _ in range(n_batch)]
                with tr.span("bm25_topk_df", "query", request=f"batch{len(batches)}"):
                    t0 = time.perf_counter()
                    rows = [tuple(r) for r in bm25_topk_df(spark, ix, specs, k=K, reader=reader).collect()]
                    batches.append((specs, rows, time.perf_counter() - t0))
            else:
                q = next(mix)
                seq.append((q, *_query(run, reader, ix, q)))
                n_hits += _cache_hit(seq[-1][3])
                n_multi += _query_class(q) == "multi"
    run.stop_measuring()

    oracle = checks.OracleAnswers(indexed, dead)
    for q, rows, _dt, _p in seq:
        run.check(checks.diff(checks.by_query(rows).get(q.query_id, []), oracle.expected(q)), q.query_id)
    for n, (specs, rows, _dt) in enumerate(batches):
        # the batch must match bm25_topk_rows on the same specs and reader,
        # and both must match the oracle
        results = {
            "bm25_topk_df": checks.by_query(rows),
            "bm25_topk_rows": checks.by_query(bm25_topk_rows(spark, ix, specs, k=K, reader=reader)),
        }
        problems = []
        for q in specs:
            got_df, got_rows = (r.get(q.query_id, []) for r in results.values())
            for what, p in (
                ("bm25_topk_df vs oracle", checks.diff(got_df, oracle.expected(q))),
                ("bm25_topk_rows vs oracle", checks.diff(got_rows, oracle.expected(q))),
                ("bm25_topk_df vs bm25_topk_rows", checks.diff(got_df, got_rows)),
            ):
                if p:
                    problems.append(f"{q.query_id} {q.terms} {what}: {p}")
        run.check(f"{len(problems)} problems, first: {problems[0]}" if problems else None, f"batch{n}")

    lat = sorted(dt for _q, _r, dt, _p in seq)
    single = [dt for q, _r, dt, _p in seq if _query_class(q) == "single"]
    multi = [dt for q, _r, dt, _p in seq if _query_class(q) == "multi"]
    first_reads = [dt for q, _r, dt, p in seq if _query_class(q) == "single" and "read_s" in p]
    hits = [dt for _q, _r, dt, p in seq if _cache_hit(p)]
    batch_s = _median([dt for _s, _r, dt in batches])
    # the closed-loop rate of the mix, from its per-class times: the
    # window's own count / time moves by a whole multi-term query when one
    # ends just inside or outside it. A multi-term query costs Spark jobs
    # and a stall on the host lengthens one several times over, so the
    # multi-term queries count with their p50 (the four modes cost about
    # the same), the single-term ones (hits and first reads) with their mean
    f_multi = 1 / sz["multi_every"]
    run.e2e["throughput_per_s"] = 1 / ((1 - f_multi) * statistics.fmean(single) + f_multi * _median(multi))
    # single-term queries answered from the postings cache: the terms a
    # run queries hold far fewer postings than the cache, so a long-running
    # reader answers nearly every single-term query this way; first reads
    # are this short run's warm-up, and took twice as long in some runs
    # than in others under host contention
    run.e2e["latency_p50_ms"] = _median(hits) * 1000
    run.printed["query_p50_ms"] = (_median(lat) * 1000, "ms")
    # the highest percentile with at least ten samples beyond it
    pct = next((p for p in (99, 95, 90, 75) if len(lat) * (100 - p) / 100 >= 10), None)
    if pct:
        run.printed[f"query_p{pct}_ms"] = (lat[int(len(lat) * pct / 100)] * 1000, "ms")
    run.printed.update(
        single_term_p50_ms=(_median(single) * 1000, "ms"),
        multi_term_p50_ms=(_median(multi) * 1000, "ms"),
        batch_qps=(n_batch / batch_s, "1/s"),
        window_qps=(len(lat) / sum(lat), "1/s"),
        first_read_p50_ms=(_median(first_reads) * 1000, "ms"),
        cache_hit_share=(len(hits) / len(single), "ratio"),
    )
    queried = {tok for q in [q for q, *_r in seq] + [q for s, _r, _dt in batches for q in s]
               for t in q.terms for tok in tokenize(t)}
    run.info.update(sequential_queries=len(seq), single_term=len(single), multi_term=len(multi),
                    batches=len(batches),
                    single_term_time_share=round(sum(single) / sum(lat), 4),
                    queried_terms=len(queried),
                    queried_postings=sum(oracle.index.df(t) for t in queried))
    run.samples = {"query_ms": [(q.mode if _query_class(q) == "multi" else "single", "read_s" in p,
                                 round(dt * 1000, 3))
                                for q, _r, dt, p in seq],
                   "batch_s": [round(dt, 4) for _s, _r, dt in batches]}


# ----------------------------------------------------------------- dedup


def _dedup_pass(run: Run, df, planted_df):
    """One pass of the dedup operators -> (seconds per operator, pair
    count, planted pairs found, exact-dup rows, simhash rows).

    Traced, minhash_signatures is persisted and counted on its own so its
    time splits from the pair generation: a different plan than the
    untraced pass, which runs both as one job chain."""
    tr, t = run.tracer, {}
    sigs = None
    with tr.span("minhash_lsh", "dedup", request="dedup"):
        t0 = time.perf_counter()
        if tr.enabled:
            sigs = dd.minhash_signatures(df).persist()
            with tr.span("minhash_signatures", "dedup"):
                sigs.count()
            with tr.span("lsh_candidate_pairs", "dedup"):
                pairs = dd.lsh_candidate_pairs(sigs).persist()
                n_pairs = pairs.count()
        else:
            pairs = dd.lsh_candidate_pairs(dd.minhash_signatures(df)).persist()
            n_pairs = pairs.count()
        t["lsh"] = time.perf_counter() - t0
    with tr.span("planted_pairs_check", "check", request="dedup"):
        found = pairs.join(F.broadcast(planted_df), ["id_a", "id_b"]).count()
    pairs.unpersist()
    if sigs is not None:
        sigs.unpersist()
    with tr.span("exact_duplicates", "dedup", request="dedup"):
        t0 = time.perf_counter()
        exact = dd.exact_duplicates(df).where("n_docs > 1").collect()
        t["exact"] = time.perf_counter() - t0
    with tr.span("simhash", "dedup", request="dedup"):
        t0 = time.perf_counter()
        sims = dd.simhash(df).collect()
        t["simhash"] = time.perf_counter() - t0
    return t, n_pairs, found, exact, sims


@dataclass
class Crawl:
    """The crawl the write path deduplicates, and what its checks need."""

    inp: inputs.DedupInputs
    df: object
    planted_df: object
    required: list  # planted pairs lsh_candidate_pairs must return
    want_exact: dict  # md5 oracle of exact_duplicates
    same_sim: list  # groups that must share one simhash


def _crawl(run: Run, sz: dict) -> Crawl:
    spark = run.spark
    inp = inputs.dedup_inputs(run.seed, sz)
    exact_pairs = {(a, b) for g in inp.exact_groups for a in g for b in g if a < b}
    planted = sorted(exact_pairs | set(inp.near_pairs) | set(inp.reworded_pairs))
    # the planted pairs lsh_candidate_pairs must return: those sharing a
    # band bucket of at most max_bucket docs (oracle signatures)
    required, bridged = checks.lsh_required(inp.docs, planted)
    text = dict(inp.docs)
    run.info.update(
        crawl_docs=len(inp.docs),
        planted_exact_groups=len(inp.exact_groups),
        planted_near_pairs=len(inp.near_pairs),
        planted_reworded_pairs=len(inp.reworded_pairs),
        reworded_jaccard_mean=round(statistics.fmean(
            checks.term_jaccard(text[a], text[b]) for a, b in inp.reworded_pairs), 4),
        planted_pairs_required=len(required),
        planted_pairs_not_required=len(bridged),
    )
    df = _frame(spark, inp.docs, ["doc_id", "text"], run.cpus)
    planted_df = spark.createDataFrame(pd.DataFrame(required, columns=["id_a", "id_b"])).cache()
    planted_df.count()
    # the same term set gives the same simhash; reworded pages need not
    same_sim = inp.exact_groups + [list(p) for p in inp.near_pairs]
    return Crawl(inp, df, planted_df, required, checks.md5_groups(inp.docs), same_sim)


def _check_dedup(run: Run, crawl: Crawl, result) -> None:
    """One dedup pass against the oracles."""
    _t, _n_pairs, found, exact, sims = result
    got = {r.text_hash: (int(r.n_docs), int(r.keep_id)) for r in exact}
    sim = {int(r.doc_id): int(r.simhash) for r in sims}
    problem = None
    if found != len(crawl.required):
        problem = f"{len(crawl.required) - found} required planted pairs missing from lsh_candidate_pairs"
    elif got != crawl.want_exact:
        problem = "exact_duplicates groups differ from the md5 oracle"
    elif len(sim) != len(crawl.inp.docs) or any(len({sim[i] for i in g}) != 1 for g in crawl.same_sim):
        problem = "simhash differs within a planted same-term-set group"
    run.check(problem, "dedup pass")


WORKLOADS = {"ingest": ingest, "serve": serve}


# ---------------------------------------------------------------- report


def report(run: Run) -> Dict[str, dict]:
    """The metrics of the result line: per-layer when traced, else end to end."""
    if run.tracer.enabled:
        return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer_metrics(run).items()}
    return {k: {"value": run.e2e[k], "unit": unit} for k, unit in END_TO_END.items()}


def blocking_spans(tr: Tracer) -> set:
    """Ids of the measured-window spans (the "bench" roots and their
    descendants): the blocking path of the end-to-end numbers."""
    inside = set()
    for s in tr.spans:  # spans are recorded parent first
        if s["layer"] == "bench" or s["parent"] in inside:
            inside.add(s["id"])
    return inside


def layer_metrics(run: Run) -> Dict[str, float]:
    """Every PER_LAYER metric of a traced run (0 where the workload does
    not reach the layer). Self times cover the measured window only, the
    blocking path of the end-to-end numbers."""
    tr = run.tracer
    out = {name: 0.0 for name in PER_LAYER}
    out.update(run.layers)
    roots = [s for s in tr.spans if s["layer"] == "bench"]
    own = tr.self_times(blocking_spans(tr))
    for layer, key in (("build", "build.self_s"), ("query", "query.self_s"),
                       ("incremental", "incremental.self_s"), ("dedup", "dedup.self_s")):
        out[key] = own.get(layer, 0.0)
    root_s = sum(s["end"] - s["start"] for s in roots)
    out["trace.spans"] = len(tr.spans)
    out["trace.unaccounted_s"] = own.get("bench", 0.0)
    out["trace.unaccounted_share"] = own.get("bench", 0.0) / root_s if root_s else 0.0
    out["trace.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in tr.spans if s["parent"] is None)

    queries = tr.find("bm25_topk_rows")
    for cls in ("single", "multi"):
        mine = [s for s in queries if s.get("class") == cls]
        for phase in ("plan", "read", "score", "merge"):
            out[f"query.{cls}.{phase}_ms"] = _median(
                [s["phases"].get(f"{phase}_s", 0.0) * 1000 for s in mine]
            ) if mine else 0.0
        out[f"query.{cls}.jobs_per_query"] = statistics.fmean([s["jobs"] for s in mine]) if mine else 0.0
    for path in ("driver_sidecar", "scan_stage", "shard_topk"):
        out[f"query.path.{path}"] = sum(1 for s in queries if s["phases"].get("path") == path)
    sidecar = [s for s in queries if s["phases"].get("path") == "driver_sidecar"]
    out["query.cache_misses"] = sum(1 for s in sidecar if "read_s" in s["phases"])
    out["query.cache_hits"] = len(sidecar) - out["query.cache_misses"]
    batches = tr.find("bm25_topk_df")
    out["query.batch_jobs"] = statistics.fmean([s["jobs"] for s in batches]) if batches else 0.0

    upserts = tr.find("upsert_batch")
    if upserts:
        out["incremental.upsert_jobs"] = statistics.fmean([s["jobs"] for s in upserts])
        out["incremental.files_added"] = statistics.fmean([s["files_added"] for s in upserts])

    for op, name in (("signatures", "minhash_signatures"), ("lsh_pairs", "lsh_candidate_pairs"),
                     ("exact", "exact_duplicates"), ("simhash", "simhash")):
        spans = tr.find(name)
        if spans:
            out[f"dedup.{op}_s"] = _median([s["end"] - s["start"] for s in spans])
            out[f"dedup.{op}_jobs"] = _median([s["jobs"] for s in spans])
    return out
