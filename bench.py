#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline number is end-to-end knowledge-graph pipeline throughput
(pages/sec, stage-0 parse through the triple count), the reference's
own progress metric (bin/wikiprep:398-409).  Additional per-query wall
times cover the relational, dedup, text and similarity operators.

Scaling-efficiency evidence (N vs 4N cores) is produced by bench_scaling.py
into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "20"))


def _warmup_dir() -> str:
    """Tiny corpus for the out-of-window warm-ups.  Prefers the sf0.001
    sibling of SF_DIR (smallest driver-generated scale) but degrades to
    SF_DIR itself on hosts without the full sf ladder — the warm-up
    callers all bound their input with limit()/maxFiles, so warming from
    the measured corpus is merely slower, not wrong."""
    env = os.environ.get("SPARK_GRAFT_WARMUP_DIR")
    if env:
        return env
    sib = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    return sib if os.path.isdir(sib) else SF_DIR

# trusted per-query seconds from the prior round (sf0.1/local[32]); a
# measurement exceeding OUTLIER_FACTOR x its entry is treated as
# host-noise contamination and re-measured (round 2 shipped a 6.6x
# phantom regression; round 3's retries all landed inside one sustained
# contamination window and shipped 2-100x garbage anyway, hence the
# escalating settle + the hard `contaminated` stamp below)
_EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_expected.json")
OUTLIER_FACTOR = 2.0
# an ACCEPTED minimum still above this x prior marks the query (and the
# whole artifact) contaminated — the artifact refuses to pass itself off
# as a real regression measurement
CONTAMINATION_FACTOR = 1.5
MAX_RETRIES = 3
# escalating settle budget per retry: a 30-90s wait sits inside a
# sustained load window; later retries wait long enough to outlive it
SETTLE_WAITS = (90.0, 300.0, 600.0)


def _load_expected() -> dict:
    try:
        with open(_EXPECTED_PATH) as fh:
            d = json.load(fh)
        return {k: float(v) for k, v in d.items()
                if not k.startswith("_")}
    except Exception:
        return {}


def _load_probe_trusted() -> float | None:
    try:
        with open(_EXPECTED_PATH) as fh:
            return float(json.load(fh).get("_probe_ms"))
    except Exception:
        return None


def _cpu_probe(n: int = 2_000_000) -> float:
    """Attainable single-thread CPU speed in ms for a fixed busy loop (min
    of 3).  loadavg only sees LOCAL runnable tasks; this host's throughput
    swings ~1.7x between hours from contention loadavg cannot see, so the
    probe is the discriminator the artifact records next to each sample:
    probe at its trusted value + query slow => real regression; probe slow
    => host-slow window, the number is not comparable."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best


def _settle(max_wait: float = 90.0, load_per_cpu: float = 0.25) -> bool:
    """Wait for background load to drain before the measured window —
    overlapping tasks contaminate single-machine benchmarks.  Returns
    False if the load did NOT drain within max_wait (the caller records
    that fact instead of pretending the measurement was clean)."""
    ncpu = os.cpu_count() or 8
    deadline = time.time() + max_wait
    while True:
        if os.getloadavg()[0] <= ncpu * load_per_cpu:
            return True
        if time.time() >= deadline:
            return False
        time.sleep(5)


def _measure(fn, name: str, expected: dict, observed=None) -> dict:
    """Run fn() under the outlier guard.  If the measured time exceeds
    OUTLIER_FACTOR x the trusted prior, settle (escalating waits) and
    re-measure up to MAX_RETRIES, keeping the minimum.  ``observed``
    optionally overrides the guarded value after each run (e.g. the kg
    pipeline's inner wall, which excludes input synthesis).  Returns a
    dict: sec, retries, load (1-min loadavg at the best sample's start),
    settle_timeout (some settle gave up), contaminated (the accepted
    minimum is still > CONTAMINATION_FACTOR x prior — do NOT read this
    number as a regression)."""
    def one_sample():
        load0 = os.getloadavg()[0]
        probe0 = _cpu_probe()
        t0 = time.time()
        fn()
        wall = time.time() - t0
        return (observed() if observed else wall), load0, probe0

    best, best_load, best_probe = one_sample()
    exp = expected.get(name) if SF_DIR.endswith("sf0.1") else None
    retries, settle_timeout = 0, False
    while exp and best > OUTLIER_FACTOR * exp and retries < MAX_RETRIES:
        wait = SETTLE_WAITS[min(retries, len(SETTLE_WAITS) - 1)]
        if not _settle(max_wait=wait):
            settle_timeout = True
        retries += 1
        dt, load0, probe0 = one_sample()
        if dt < best:
            best, best_load, best_probe = dt, load0, probe0
    # contamination = slowdown NOT explained by measured host speed: the
    # allowance scales with the probe ratio (a 1.2x-slow host making every
    # query ~1.2x slower is a documented host state, not noise to flag),
    # but is capped at 1.5x so a truly hammered host still stamps
    trusted_probe = _load_probe_trusted()
    probe_ratio = (min(max(best_probe / trusted_probe, 1.0), 1.5)
                   if trusted_probe else 1.0)
    return {
        "sec": best,
        "retries": retries,
        "load": round(best_load, 2),
        "probe_ms": round(best_probe, 1),
        "settle_timeout": settle_timeout,
        "contaminated": bool(
            exp and best > CONTAMINATION_FACTOR * probe_ratio * exp),
    }

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q_join_revenue_by_nation",
    "q_window_top_order",
    "q_events_hourly",
    "dedup_exact",
    "text_quality",
    "text_fingerprint",
    "text_bpe_tokens",
    "text_winnow_fingerprints",
    "sim_cosine_topk",
    "graph_closure",
    "graph_components",
    "cur_repetition",
    "cur_pii_scrub",
    "cur_decontaminate",
    "cur_sample",
    "text_bm25_topk",
    "text_lm_ppl",
    "text_pack_seqs",
    "dedup_passages",
    "cur_dsir",
    "text_chunks",
    "graph_triangles",
    "q_skew_events",
    "sketch_hll_users",
    "sketch_cms_heavy",
    "sim_semantic_dedup",
    "text_entity_mentions",
    "q_profile_events",
    "q_json_props",
    "q_rollup_pricing",
    "q_pivot_user_events",
    "q_range_ship_window",
    "cur_weighted_sample",
    "dedup_bloom_seen",
    "q_asof_attribution",
    # graph_pagerank is oracle-gated but not benched here: it consumes
    # the full kg pipeline output, and QUERIES' pipeline run at sf0.1
    # would re-run ~20s of upstream inside this query's measured window —
    # the pipeline itself is already measured as kg_pipeline below
]


def _bench_streaming(spark, sf_dir: str) -> dict:
    """Streaming operator throughput: each returns a zero-arg callable
    (for the outlier guard) plus a stats hook read after the run.

    streaming_exact_dedup drains the documents table as a 4-file backlog
    (availableNow); sessionize_events drains the events table through
    applyInPandasWithState.  Stats capture rows/sec and state rows from
    the final StreamingQueryProgress."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from wikiprep_spark.streaming import ingest

    tmp = tempfile.mkdtemp(prefix="wikiprep_bench_stream_")
    docs_dir = os.path.join(tmp, "docs")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4) \
        .write.parquet(docs_dir)
    ev_dir = os.path.join(tmp, "events")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4) \
        .write.parquet(ev_dir)
    docs_schema = spark.read.parquet(docs_dir).schema
    ev_schema = spark.read.parquet(ev_dir).schema
    stats = {}

    def run_dedup():
        out = tempfile.mkdtemp(dir=tmp, prefix="dd_out_")
        stream = spark.readStream.schema(docs_schema).option(
            "maxFilesPerTrigger", 2).parquet(docs_dir)
        q = (ingest.streaming_exact_dedup(stream)
             .writeStream.format("parquet")
             .option("path", os.path.join(out, "data"))
             .option("checkpointLocation", os.path.join(out, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(600)
        p = q.lastProgress
        stats["streaming_exact_dedup"] = {
            "rows_in": sum(s["numInputRows"] for s in q.recentProgress),
            "state_rows": (p["stateOperators"][0]["numRowsTotal"]
                           if p and p["stateOperators"] else None),
        }

    def run_sessionize():
        out = tempfile.mkdtemp(dir=tmp, prefix="ss_out_")
        stream = spark.readStream.schema(ev_schema).option(
            "maxFilesPerTrigger", 2).parquet(ev_dir)
        events = stream.select(
            F.col("user_id"), F.col("ts").cast("timestamp").alias("ts"))
        q = (ingest.sessionize_events(events, gap_seconds=1800)
             .writeStream.format("parquet")
             .option("path", os.path.join(out, "data"))
             .option("checkpointLocation", os.path.join(out, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(600)
        p = q.lastProgress
        stats["sessionize_events"] = {
            "state_rows": (p["stateOperators"][0]["numRowsTotal"]
                           if p and p["stateOperators"] else None),
        }

    return {
        "streaming_exact_dedup": run_dedup,
        "sessionize_events": run_sessionize,
        "_stats": stats,
        "_cleanup": lambda: shutil.rmtree(tmp, ignore_errors=True),
    }


def _bench_near_dedup(spark, sf_dir, docs=None):
    """Near-dup operators at production thresholds.  ``docs`` overrides
    the documents table (tools_scale10.py passes a synthesized >10x
    corpus; embedding queries still read sf_dir).

    The synthetic documents share a ~30-word vocabulary, so unigram sets
    are nearly identical across all docs and every pair is a genuine
    candidate (the sf0.01 correctness queries verify that case exactly);
    the bench measures the production configuration: 3-gram shingles +
    high threshold, so candidate volume reflects the LSH/prefix design
    rather than the degenerate vocabulary.

    Returns {name: zero-arg DataFrame builder}: construction happens
    INSIDE the measured window, because the decision operator
    (near_dup_groups) and the IVF bootstrap execute distributed work
    eagerly during construction (CC label-propagation rounds via
    localCheckpoint; centroid seed collect)."""
    from pyspark.sql import functions as F

    from wikiprep_spark.operators import dedup, similarity, textops

    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def pair_cols(df):
        return df.select(
            "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    return {
        "dedup_minhash_lsh_sh3": lambda: pair_cols(
            dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=4,
                                    threshold=0.8, shingle=3,
                                    max_bucket=10000)),
        "dedup_near_groups_sh3": lambda: dedup.near_dup_groups(
            docs, num_hashes=32, bands=4, threshold=0.8, shingle=3,
            max_bucket=10000),
        "dedup_token_jaccard_sh3": lambda: pair_cols(
            dedup.token_jaccard_pairs(docs, threshold=0.8, shingle=3,
                                      hash_tokens=True)),
        # MOSS containment pairs with the boilerplate posting guard (the
        # scale path; the synthetic vocabulary makes every fingerprint
        # corpus-common, so the unguarded config measures a posting-list
        # blowup that real code corpora reserve for license headers)
        "text_winnow_overlap_mp100": lambda: textops.winnow_overlap_pairs(
            docs, threshold=0.8, max_posting=100),
        "sim_near_dup_lsh": lambda: similarity.cosine_near_dup_pairs(
            emb, dim=64, threshold=0.95, bands=8, planes_per_band=4,
            max_bucket=10000).select(
            "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")),
        # threshold 0.35: the synthetic embeddings are near-orthogonal
        # above ~0.35 cosine at sf0.1, so higher thresholds yield an
        # empty pair graph and the decision stage would measure nothing
        "sim_near_dup_groups": lambda: similarity.embedding_near_dup_groups(
            emb, dim=64, threshold=0.35, bands=8, planes_per_band=4,
            max_bucket=10000),
        "sim_ivf_topk_p4": lambda: similarity.ivf_cosine_topk(
            emb, emb.where("vec_id < 10"), k=5, n_centroids=16, n_probe=4),
    }


def run_kg_pipeline(spark, sf_dir: str, replicate: int):
    """Fused two-pass pipeline over a pre-materialized source table (the
    production configuration: input synthesis excluded from the measured
    window, stage outputs written to a work dir as on a cluster)."""
    import shutil
    import tempfile

    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    tmp = tempfile.mkdtemp(prefix="wikiprep_bench_")
    src_path = os.path.join(tmp, "src_pages")
    build_src_pages(spark, sf_dir, replicate=replicate).write.parquet(
        src_path)

    t0 = time.time()
    src = spark.read.parquet(src_path)
    result = run_pipeline(spark, src, work_dir=os.path.join(tmp, "work"),
                          resume=False)
    n_pages = result["_counts"]["transformed"]
    n_triples = result["_counts"]["triples"]
    wall = time.time() - t0
    # edge tables remain lazily derivable from the written outputs; drop
    # the scratch dir once the numbers are in hand
    shutil.rmtree(tmp, ignore_errors=True)
    return wall, n_pages, n_triples, result


# clean-window recovery: when a query ends its first measurement
# contaminated (accepted min > 1.5x prior beyond what the CPU probe
# explains), the host was slow for its whole retry envelope.  Numbers
# from slow windows are useless to every future reader, so the harness
# spends extra wall time re-running JUST the contaminated set after long
# settles, hoping to catch a clean host window.  A pass is only burned
# when the probe says the host is fast again (within PROBE_CLEAN_RATIO of
# trusted); if the host never offers a clean window the artifact says so
# explicitly (clean_window_exhausted) instead of shipping silence.
CLEAN_WINDOW_PASSES = 2
PROBE_CLEAN_RATIO = 1.2
CLEAN_WINDOW_WAIT = 600.0


def _clean_window_recovery(records: dict, runners: dict,
                           expected: dict) -> dict:
    trusted = _load_probe_trusted()
    info = {"passes": 0, "recovered": [], "skipped_dirty_window": 0}
    for _ in range(CLEAN_WINDOW_PASSES):
        bad = [n for n, r in records.items() if r["contaminated"]]
        if not bad:
            break
        _settle(max_wait=CLEAN_WINDOW_WAIT)
        if trusted and _cpu_probe() > PROBE_CLEAN_RATIO * trusted:
            # host still in a slow window — wait once more, then re-check;
            # burning a pass on a dirty window can't produce a clean sample
            time.sleep(120)
            if _cpu_probe() > PROBE_CLEAN_RATIO * trusted:
                info["skipped_dirty_window"] += 1
                continue
        info["passes"] += 1
        for name in bad:
            fn, observed = runners[name]
            m2 = _measure(fn, name, expected, observed=observed)
            if m2["sec"] < records[name]["sec"]:
                records[name] = m2
                if not m2["contaminated"]:
                    info["recovered"].append(name)
    info["exhausted"] = [n for n, r in records.items()
                         if r["contaminated"]]
    return info


def main():
    from wikiprep_spark.plans.queries import QUERIES
    from wikiprep_spark.plans.session import build_session

    spark = build_session(
        app_name="wikiprep-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    expected = _load_expected()
    records: dict = {}          # name -> accepted measurement dict
    runners: dict = {}          # name -> (fn, observed) for re-measurement
    settle_timeouts: list = []

    def record(name: str, fn, observed=None):
        runners[name] = (fn, observed)
        records[name] = _measure(fn, name, expected, observed=observed)

    # warm-up OUTSIDE the measured window: spawn the python worker pool,
    # JIT the hot JVM paths and compile the codegen kernels on a tiny
    # corpus — a cold first pipeline run measures 2.5x its steady state
    # (50s vs 19s at sf0.1), and steady-state throughput is the number
    # comparable to the reference's long-running pages/s anchor
    from wikiprep_spark.plans.pipeline import run_pipeline as _rp
    from wikiprep_spark.sources.corpus import build_src_pages as _bsp

    wdir = _warmup_dir()
    warm = _rp(spark, _bsp(spark, wdir, limit=60))
    warm["triples"].write.format("noop").mode("overwrite").save()

    # warm the STREAMING engine too — BOTH stateful paths: the first
    # streaming query of a session pays micro-batch-engine startup, and
    # the first applyInPandasWithState query additionally pays state-store
    # + stateful-python-worker init that the dropDuplicates path does not
    # touch (r4's streaming priors were set from a window where that init
    # had been amortized elsewhere; warm it explicitly)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from wikiprep_spark.streaming import ingest as _ingest

    wtmp = tempfile.mkdtemp(prefix="wikiprep_bench_warm_")
    spark.read.parquet(f"{wdir}/documents.parquet") \
        .limit(20).write.parquet(os.path.join(wtmp, "in"))
    wq = (_ingest.streaming_exact_dedup(
        spark.readStream.schema(
            spark.read.parquet(os.path.join(wtmp, "in")).schema
        ).parquet(os.path.join(wtmp, "in")))
        .writeStream.format("parquet")
        .option("path", os.path.join(wtmp, "out"))
        .option("checkpointLocation", os.path.join(wtmp, "ckpt"))
        .outputMode("append").trigger(availableNow=True).start())
    wq.awaitTermination(120)
    spark.read.parquet(f"{wdir}/events.parquet") \
        .limit(200).write.parquet(os.path.join(wtmp, "in_ev"))
    wev = spark.readStream.schema(
        spark.read.parquet(os.path.join(wtmp, "in_ev")).schema
    ).parquet(os.path.join(wtmp, "in_ev")).select(
        F.col("user_id"), F.col("ts").cast("timestamp").alias("ts"))
    wq2 = (_ingest.sessionize_events(wev, gap_seconds=1800)
           .writeStream.format("parquet")
           .option("path", os.path.join(wtmp, "out_ev"))
           .option("checkpointLocation", os.path.join(wtmp, "ckpt_ev"))
           .outputMode("append").trigger(availableNow=True).start())
    wq2.awaitTermination(120)
    shutil.rmtree(wtmp, ignore_errors=True)

    if not _settle():  # don't start the measured window on a loaded host
        settle_timeouts.append("_warmup")

    # kg pipeline: the wall is measured INSIDE run_kg_pipeline (input
    # synthesis excluded), so the guard watches the inner wall via the
    # `observed` hook.
    kg = {}

    def kg_run():
        kg["wall"], kg["pages"], kg["triples"], _ = run_kg_pipeline(
            spark, SF_DIR, REPLICATE)

    record("kg_pipeline", kg_run, observed=lambda: kg["wall"])

    def run_query(name):
        # construction INSIDE the measured window: iterative operators
        # (pointer jumping / CC) execute their rounds eagerly via
        # localCheckpoint during DataFrame construction
        return lambda: QUERIES[name](spark, SF_DIR).write.format(
            "noop").mode("overwrite").save()

    for name in BENCH_QUERIES:
        record(name, run_query(name))

    def run_build(build):
        return lambda: build().write.format("noop").mode("overwrite").save()

    for name, build in _bench_near_dedup(spark, SF_DIR).items():
        record(name, run_build(build))

    streaming = _bench_streaming(spark, SF_DIR)
    stream_stats = streaming.pop("_stats")
    cleanup = streaming.pop("_cleanup")
    for name, fn in streaming.items():
        record(name, fn)

    # clean-window recovery BEFORE tearing down the streaming inputs —
    # contaminated streaming queries re-run against the same backlog
    clean_info = _clean_window_recovery(records, runners, expected)
    cleanup()

    line, diag = assemble_artifacts(
        records, kg["pages"], kg["triples"], sf,
        stream_stats=stream_stats, clean_info=clean_info,
        settle_timeouts=settle_timeouts)
    if diag["contaminated_queries"]:
        print("BENCH CONTAMINATED (host noise, not a regression): %s"
              % ",".join(diag["contaminated_queries"]), file=sys.stderr)
    diag_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             DIAG_RELPATH)
    os.makedirs(os.path.dirname(diag_path), exist_ok=True)
    with open(diag_path, "w") as fh:
        json.dump(diag, fh, indent=1, sort_keys=True)
    print(line)
    spark.stop()


# the grading driver captures a bounded TAIL of stdout (~2000 chars); a
# line longer than that loses its head — including the opening brace — and
# the artifact records parsed:null (this killed BENCH_r04).  Keep the
# driver line at most this long, always.
MAX_LINE_CHARS = 1900
DIAG_RELPATH = os.path.join("BENCH", "bench_diag.json")


def assemble_artifacts(records: dict, n_pages: int, n_triples: int,
                       sf: str, stream_stats=None, clean_info=None,
                       settle_timeouts=(), replicate=None,
                       cpus=None) -> tuple:
    """Pure assembly of the two bench outputs: the compact driver line
    (headline + per-query seconds + contamination stamp ONLY) and the
    diagnostics sidecar (loadavg, CPU probes, retries, streaming stats,
    clean-window recovery).  Split out so the line-length invariant is
    unit-testable without running Spark — r4's lesson is that diagnostics
    must never ride the driver line."""
    queries = {n: round(r["sec"], 3) for n, r in records.items()}
    contaminated = [n for n, r in records.items() if r["contaminated"]]
    retried = {n: r["retries"] for n, r in records.items() if r["retries"]}
    timeouts = list(settle_timeouts) + [
        n for n, r in records.items() if r["settle_timeout"]]
    kg_wall = queries["kg_pipeline"]

    out = {
        "metric": "kg_pages_per_sec",
        "value": round(n_pages / kg_wall, 2),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "total_sec": round(sum(r["sec"] for r in records.values()), 3),
        "kg_pages": n_pages,
        "kg_triples": n_triples,
        "replicate": REPLICATE if replicate is None else replicate,
        "cpus": CPUS if cpus is None else cpus,
        "diag": DIAG_RELPATH,
    }
    if contaminated:
        # HARD stamp: these queries' accepted minimum still exceeds 1.5x
        # the trusted prior (beyond the probe-explained allowance) after
        # escalating settles, retries AND the clean-window recovery
        # passes.  The numbers are host-noise, NOT a regression — do not
        # compare this artifact against priors or previous rounds.
        out["contaminated"] = True
        out["contaminated_queries"] = contaminated

    diag = {
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "sf": out["sf"],
        "cpus": out["cpus"],
        "replicate": out["replicate"],
        # 1-min loadavg and CPU-probe ms at the start of each query's
        # accepted (minimum) sample — compare probe_ms against
        # probe_ms_trusted: probe at trusted speed + query slow = real
        # regression; probe slow = host-slow window, not comparable
        "loadavg": {n: r["load"] for n, r in records.items()},
        "probe_ms": {n: r["probe_ms"] for n, r in records.items()},
        "probe_ms_trusted": _load_probe_trusted(),
        "outlier_retries": retried,
        "settle_timeouts": timeouts,
        "streaming_stats": stream_stats or {},
        "clean_window": clean_info or {},
        "contaminated_queries": contaminated,
        "queries": queries,
    }

    line = json.dumps(out)
    if len(line) > MAX_LINE_CHARS:
        # degrade rather than overflow: the full list is in the sidecar
        out["contaminated_queries"] = len(contaminated)
        line = json.dumps(out)
    if len(line) > MAX_LINE_CHARS:
        # still too long can only mean an enormous query set; keep the
        # headline parseable and point at the sidecar for the rest
        out["queries"] = {"kg_pipeline": queries["kg_pipeline"]}
        line = json.dumps(out)
    return line, diag


if __name__ == "__main__":
    main()
