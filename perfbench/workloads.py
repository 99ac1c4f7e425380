"""The workloads: seeded inputs, warm-up, one timed pass, checks.

Each workload is a closed loop with one client, the driver, which submits
the next pass only when the previous one has returned.  A pass is one call
into the program's public functions; its result is materialized inside the
pass, so the timed wall holds the work.  Checks run between passes,
outside the timed wall.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from checks import close_ranks, duckdb_rows, multiset_digest, same_rows
import eventlog

# Input sizes, fixed for every seed.  A run must fit the
# whole measurement (session start, inputs, warm-up, timed passes, checks)
# in about a minute on a 4-core host, so the corpora are small; the
# warm-up pass takes the cold pass out of the timed window (see
# README.md, "Sizing evidence").
KG_DOCS = 3000
DUP_DOCS = 4000

# near_dup operator configuration: 3-gram shingles, 4 bands of 8 minhash
# rows, exact-Jaccard threshold 0.8, hub-bucket cap
DUP_PARAMS = dict(num_hashes=32, bands=4, threshold=0.8, shingle=3,
                  max_bucket=100)
DUP_EVERY = 200  # synth_documents plants a near-duplicate every 200 docs

PIPELINE_STAGES = ("prescan", "transform", "triples", "lineage")
GRAPH_STAGES = ("pagerank", "components", "closure")
DUP_STAGES = ("lsh_pairs", "groups")

KERNEL_METRICS = [
    ("kernel.parse_ms_per_page", "ms"),
    ("kernel.transform_one_ms_per_page", "ms"),
    ("kernel.templates_ms_per_page", "ms"),
    ("kernel.links_ms_per_page", "ms"),
    ("kernel.urls_ms_per_page", "ms"),
    ("kernel.related_ms_per_page", "ms"),
    ("kernel.postprocess_ms_per_page", "ms"),
    ("kernel.self_ms_per_page", "ms"),
    ("kernel.dictload_s", "s"),
    ("kernel.template_invocations_per_page", "count"),
    ("kernel.wikilinks_per_page", "count"),
]
_SPARK_UNITS = {"jobs": "count", "tasks": "count", "run_s": "s",
                "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
                "spill_mb": "MB", "output_mb": "MB",
                "slot_idle_share": "share"}

# every per-layer metric, in table order: (name, unit)
PER_LAYER = (
    KERNEL_METRICS
    + [("pipeline.%s_s" % s, "s") for s in ("prescan", "transform",
                                            "triples")]
    + [("spark.%s.%s" % (st, f), _SPARK_UNITS[f])
       for st in PIPELINE_STAGES + GRAPH_STAGES + DUP_STAGES
       for f in eventlog.FIELDS]
    + [("graph.%s_%s" % (g, f), "s" if f == "s" else "count")
       for g in GRAPH_STAGES for f in ("s", "jobs", "stages")]
    + [("dedup.lsh_pairs_s", "s"), ("dedup.groups_s", "s"),
       ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
       ("dedup.verify_yield", "share")]
    + [("cpu.%s_ms_per_item" % k, "ms") for k in ("jvm", "jit", "workers",
                                                  "driver")]
    + [("cpu.raw_ms_per_item", "ms"), ("cpu.raw_setup_s", "s"),
       ("host.loop_ms", "ms")]
    + [("wall.items_per_sec", "1/s"), ("wall.setup_s", "s"),
       ("jvm.heap_peak_mb", "MB")]
    + [("traced.norm_cpu_ms_per_item", "ms"), ("traced.setup_s", "s"),
       ("traced.peak_rss_mb", "MB")]
)


class Ctx:
    """What every workload shares: the session, the run's work dir, the
    seed, the tracer, and the per-pass records the traced fold needs."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.calls: list[dict] = []  # one per call: stage, group, wall

    def call(self, stage: str, group: str, fn):
        """Run ``fn`` under its own job group and span; record its wall."""
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with self.tracer.span(stage, group=group):
            result = fn()
        t1 = time.perf_counter()
        rec = {"stage": stage, "group": group, "wall_s": t1 - t0,
               "start_ms": self.tracer.epoch_ms(t0),
               "end_ms": self.tracer.epoch_ms(t1)}
        if self.tracer.enabled:
            st = self.sc.statusTracker()
            job_ids = st.getJobIdsForGroup(group)
            stage_ids = set()
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            rec["jobs"] = len(job_ids)
            rec["stages"] = len(stage_ids)
        self.calls.append(rec)
        self.sc.setJobGroup("bench", "bench")
        return result


def _write_documents(ctx: Ctx, n_docs: int) -> str:
    from wikiprep_spark.sources.corpus import synth_documents

    docs_dir = os.path.join(ctx.work, "inputs")
    synth_documents(ctx.spark, n_docs, dup_every=DUP_EVERY,
                    seed=ctx.seed).write.parquet(
        os.path.join(docs_dir, "documents.parquet"))
    return docs_dir


def _write_src_pages(ctx: Ctx, docs_dir: str) -> str:
    from wikiprep_spark.sources.corpus import build_src_pages

    src_dir = os.path.join(ctx.work, "src_pages")
    build_src_pages(ctx.spark, docs_dir).write.parquet(src_dir)
    return src_dir


def _pipeline_call(ctx: Ctx, group: str, src, work_dir: str) -> dict:
    """One run_pipeline call.  Traced, it also notes when each stage's
    wall is recorded (a wrapper around ``Metrics.record``), so the stage
    intervals are exact rather than rebuilt from summed durations."""
    from wikiprep_spark.plans import pipeline

    marks = []

    def run():
        if not ctx.tracer.enabled:
            return pipeline.run_pipeline(ctx.spark, src, work_dir=work_dir,
                                         fuse_parse=True)
        orig = pipeline.Metrics.record

        def record(self, stage, seconds, *a, **kw):
            end_ms = time.time() * 1000.0
            marks.append((stage, end_ms - 1000.0 * seconds, end_ms))
            return orig(self, stage, seconds, *a, **kw)

        pipeline.Metrics.record = record
        try:
            return pipeline.run_pipeline(ctx.spark, src, work_dir=work_dir,
                                         fuse_parse=True)
        finally:
            pipeline.Metrics.record = orig

    out = ctx.call("pipeline", group, run)
    rec = ctx.calls[-1]
    rec["pipeline"] = {s["stage"]: s["seconds"]
                       for s in out["_metrics"].stages}
    # parse runs no job in fused mode; any it did would be prescan work
    rec["bounds"] = [("prescan" if name == "parse" else name, s, e)
                     for name, s, e in marks]
    return out


def pipeline_stage_rows(jobs: dict, stages: dict, rec: dict,
                        slots: int) -> dict:
    """spark.<stage>.* rows of one run_pipeline call.  Jobs in the call's
    job group map to a stage by submission time; the lineage write runs on
    its own driver thread, outside the group, described as 'lineage'."""
    bounds = rec["bounds"]
    by_stage: dict = {s: [] for s in PIPELINE_STAGES}
    for jid, j in jobs.items():
        if j["group"] == rec["group"]:
            by_stage[eventlog.interval_stage(j["submit_ms"], bounds)].append(
                jid)
        elif (j["desc"] == "lineage"
              and rec["start_ms"] <= j["submit_ms"] <= rec["end_ms"]):
            by_stage["lineage"].append(jid)
    walls: dict = {}
    for name, s, e in bounds:
        walls[name] = walls.get(name, 0.0) + (e - s) / 1000.0
    lineage = [jobs[j] for j in by_stage["lineage"]]
    walls["lineage"] = (
        (max(j["end_ms"] or j["submit_ms"] for j in lineage)
         - min(j["submit_ms"] for j in lineage)) / 1000.0 if lineage else 0.0)
    return {st: eventlog.stage_row(jobs, stages, by_stage[st], slots,
                                   walls[st])
            for st in PIPELINE_STAGES}


def call_stage_row(jobs: dict, stages: dict, rec: dict, slots: int) -> dict:
    ids = [jid for jid, j in jobs.items() if j["group"] == rec["group"]]
    return eventlog.stage_row(jobs, stages, ids, slots, rec["wall_s"])


def median_rows(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


class Workload:
    name = item = ""
    pass_s: float  # nominal wall of a warm pass on a quiet 4-CPU host

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.probe_errors: list[str] = []

    def setup(self):
        self.run_pass("warm0")
        errors = self.check_pass()
        if errors:
            raise RuntimeError("warm-up pass failed: %s" % errors)

    def final_check(self) -> list[str]:
        return []

    def probe_calls(self) -> dict:
        """The measured probe call of each stage (warm-up rounds excluded)."""
        return {c["stage"]: c for c in self.ctx.calls
                if c["group"].startswith("probe.")
                and not c["group"].startswith("probe.warm.")}


class KgBuild(Workload):
    """The production fused pipeline, one fresh work dir per pass."""

    name = "kg_build"
    item = "pages"
    pass_s = 7.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.counts = None
        self.last = None

    def make_inputs(self):
        self.docs_dir = _write_documents(self.ctx, KG_DOCS)
        self.src_dir = _write_src_pages(self.ctx, self.docs_dir)
        self.src = self.ctx.spark.read.parquet(self.src_dir)

    def run_pass(self, tag: str) -> int:
        wd = os.path.join(self.ctx.work, "pass_" + tag)
        out = _pipeline_call(self.ctx, tag, self.src, wd)
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)
        self.last = (wd, out)
        return out["_counts"]["transformed"]

    def check_pass(self) -> list[str]:
        counts = dict(self.last[1]["_counts"])
        if self.counts is None:
            self.counts = counts
        if counts != self.counts:
            return ["counts %s != warm-up %s" % (counts, self.counts)]
        return []

    def final_check(self) -> list[str]:
        from wikiprep_spark.plans.oracles import KG_ORACLES

        out = self.last[1]
        got = {
            "kg_links": out["links"],
            "kg_categories": out["categories"].select("page_id",
                                                      "category_id"),
            "kg_anchors": out["anchors"].select("target_id", "source_id",
                                                "anchor_text"),
        }
        errors = []
        for name, df in got.items():
            rows = [tuple(r) for r in df.collect()]
            if not same_rows(rows, duckdb_rows(self.docs_dir,
                                               KG_ORACLES[name])):
                errors.append("%s differs from its oracle" % name)
        return errors

    def layers(self, jobs, stages, slots, timed_calls) -> dict:
        m = {}
        for st in ("prescan", "transform", "triples"):
            m["pipeline.%s_s" % st] = statistics.median(
                c["pipeline"][st] for c in timed_calls)
        rows = [pipeline_stage_rows(jobs, stages, c, slots)
                for c in timed_calls]
        for st in PIPELINE_STAGES:
            for f, v in median_rows([r[st] for r in rows]).items():
                m["spark.%s.%s" % (st, f)] = v
        probe = self.probe_calls()
        for g in GRAPH_STAGES:
            m["graph.%s_s" % g] = probe[g]["wall_s"]
            m["graph.%s_jobs" % g] = probe[g]["jobs"]
            m["graph.%s_stages" % g] = probe[g]["stages"]
            for f, v in call_stage_row(jobs, stages, probe[g],
                                       slots).items():
                m["spark.%s.%s" % (g, f)] = v
        return m

    def probes(self) -> dict:
        """The kernel replayed on the driver over a seeded page sample, and
        the graph operators over the last pass's written tables: pagerank
        and connected components over the link edges, transitive closure
        over the redirect dictionary.  The graph calls run twice and the
        second round is reported, so JIT warm-up stays out of it."""
        from pyspark.sql import functions as F
        from tracing import kernel_replay, sample_records
        from wikiprep_spark.operators import edges, graph
        from wikiprep_spark.plans.oracles import KG_ORACLES, pagerank_oracle

        wd, out = self.last
        records = sample_records(self.src_dir, self.ctx.seed, 600)
        metrics = kernel_replay(self.ctx.tracer, records,
                                out["_dicts_path"], reps=3)

        spark = self.ctx.spark

        def links():
            return edges.links_edges(spark.read.parquet(
                os.path.join(wd, "transformed_pages"))).select(
                F.col("source_id").alias("src"),
                F.col("target_id").alias("dst"))

        def redirects():
            return spark.read.parquet(out["_dicts_path"]).where(
                F.col("kind") == "r").select(F.col("k").alias("src"),
                                             F.col("v").alias("dst"))

        for prefix in ("probe.warm.", "probe."):
            ranks = self.ctx.call(
                "pagerank", prefix + "pagerank",
                lambda: graph.pagerank(links()).collect())
            self.ctx.call("components", prefix + "components",
                          lambda: graph.connected_components(
                              links()).collect())
            roots = self.ctx.call(
                "closure", prefix + "closure",
                lambda: graph.transitive_closure_roots(
                    redirects()).collect())
        if not close_ranks({r[0]: r[1] for r in ranks},
                           dict(duckdb_rows(self.docs_dir,
                                            pagerank_oracle())), 1.5e-6):
            self.probe_errors.append("pagerank differs from its oracle")
        if not same_rows([tuple(r) for r in roots], duckdb_rows(
                self.docs_dir, KG_ORACLES["kg_redirect_closure"])):
            self.probe_errors.append("redirect closure differs from its "
                                     "oracle")
        return metrics


class NearDup(Workload):
    """MinHash-LSH near-duplicate groups over seeded documents with planted
    near-duplicates."""

    name = "near_dup"
    item = "docs"
    pass_s = 6.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.digest = None
        self.rows = None

    def make_inputs(self):
        self.docs_dir = _write_documents(self.ctx, DUP_DOCS)
        self.docs = self.ctx.spark.read.parquet(
            os.path.join(self.docs_dir, "documents.parquet"))

    def run_pass(self, tag: str) -> int:
        from wikiprep_spark.operators import dedup

        self.rows = self.ctx.call(
            "near_dup", "near_dup." + tag,
            lambda: dedup.near_dup_groups(self.docs, **DUP_PARAMS).collect())
        return len(self.rows)

    def check_pass(self) -> list[str]:
        errors = []
        if len(self.rows) != DUP_DOCS:
            errors.append("%d docs decided, want %d" % (len(self.rows),
                                                         DUP_DOCS))
        if not any(r.is_duplicate and r.doc_id % DUP_EVERY == DUP_EVERY - 1
                   for r in self.rows):
            errors.append("no planted near-duplicate flagged")
        digest = multiset_digest((r.doc_id, r.representative_id)
                                 for r in self.rows)
        if self.digest is None:
            self.digest = digest
        if digest != self.digest:
            errors.append("group digest changed")
        return errors

    def layers(self, jobs, stages, slots, timed_calls) -> dict:
        probe = self.probe_calls()
        m = {
            "dedup.lsh_pairs_s": probe["lsh_pairs"]["wall_s"],
            "dedup.groups_s": statistics.median(
                c["wall_s"] for c in timed_calls)
            - probe["lsh_pairs"]["wall_s"],
            "graph.components_s": probe["groups"]["wall_s"],
            "graph.components_jobs": probe["groups"]["jobs"],
            "graph.components_stages": probe["groups"]["stages"],
        }
        for st in DUP_STAGES:
            for f, v in call_stage_row(jobs, stages, probe[st],
                                       slots).items():
                m["spark.%s.%s" % (st, f)] = v
        return m

    def probes(self) -> dict:
        """lsh_pairs: minhash_lsh_pairs alone, materialized.  groups: the
        connected-components decision over those pairs.  The candidate count
        is the band-bucket pair rows the self-join emits (sum of n(n-1)/2
        over buckets under the cap)."""
        from pyspark.sql import functions as F
        from wikiprep_spark.operators import dedup, graph

        c = self.ctx
        pairs = c.call("lsh_pairs", "probe.lsh_pairs", lambda: dedup
                       .minhash_lsh_pairs(self.docs, **DUP_PARAMS)
                       .localCheckpoint())
        verified = pairs.count()
        c.call("groups", "probe.groups", lambda: graph.connected_components(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))).collect())
        p = {k: v for k, v in DUP_PARAMS.items() if k != "threshold"}
        c.sc.setJobGroup("probe.bucket_stats", "probe.bucket_stats")
        cand = (dedup.minhash_lsh_bucket_stats(self.docs, **p)
                .where(~F.col("dropped"))
                .select(F.sum(F.col("n_docs") * (F.col("n_docs") - 1) / 2))
                .first()[0]) or 0
        return {"dedup.candidate_pairs": float(cand),
                "dedup.verified_pairs": float(verified),
                "dedup.verify_yield": verified / cand if cand else 0.0}


WORKLOADS = {w.name: w for w in (KgBuild, NearDup)}
