"""End-to-end pipeline orchestration with checkpoint/resume and metrics.

The reference's own two-pass architecture (bin/wikiprep: a prescan pass
and a transform pass over the same dump), SURVEY.md §7.1, with one python
operator per pass; the source is read twice, once per pass:

  src_pages ─ pass 1: parse (cached) ─┬─ dup-id losers ─ title aggregate (cached) ─ dicts ─┐
                                      └─ lineage                                           │
  src_pages ─ pass 2: parse + transform kernel ─ minus the losers ─────────────────────────┴─ edges/triples
                                            title aggregate ─ redirect records ────────────┘

Pass 1 parses with the prescan projection (page text kept only for
templates, as the preprocessed template body) and caches that skinny
parse: the duplicate-id losers, the dictionary aggregation and the
lineage all read it, so in this pass the python page-id rule runs once
per record and each record is hashed once, and neither the dictionary nor
the lineage write runs python.  Pass 2 parses inside the transform kernel
(operators/transform.transform_pages), so each task starts one python
worker, and the broadcast anti-join drops the cached losers from the
kernel's output on (page_id, seq) — loser pages are transformed and then
dropped, which costs little since duplicate ids are rare.  The full parse
is never materialized.  Re-parsing costs ~10% of the kernel and removes a
columnar encode+decode round trip of every page text.

The pipeline's tail pays for its rows, not for its job count.  The
redirect records (Output/Composite.pm:83-125) are one broadcast left join
over the cached title aggregate (operators/prescan.redirect_records_df);
the session lets AQE size the three caches (plans/session.py), so the
dictionary write and the redirect triples run one task per aggregate
partition that holds data; and both read-backs pass their known schema,
so no schema-inference job runs.  Every job the pipeline submits is
described ``kg_pipeline:<stage>`` (prescan, lineage, transform, triples),
and the caller's job description is restored on return.

Each stage writes a parquet table under ``work_dir`` (the Iceberg-table
stand-in in this environment — swap the writer for
``writeTo(...).createOrReplace()`` on a cluster with an Iceberg catalog).
A completed stage is detected by Spark's ``_SUCCESS`` marker, so a killed
run resumes by skipping the writes of the finished stages; pass 1's parse
and title aggregate are not written and run only when a stage that reads
them runs, so a finished resume starts no job.  The written ``dicts``
table is the one place the pass-1 dictionaries are read from: the kernel
side-loads it and ``redirects_raw`` is read back from it.  Within a
stage, Spark's task retry handles partial work.  Per-stage metrics
(seconds; rows as observed on the stage's write job, null for a resumed
stage) and per-partition lineage (row counts, sha256 checksums of the
input contents) land in ``work_dir/metrics.jsonl`` and
``work_dir/lineage``.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from wikiprep_spark.operators import edges as edge_ops
from wikiprep_spark.operators import prescan as prescan_ops
from wikiprep_spark.operators.transform import (
    TRANSFORMED_SCHEMA,
    transform_pages,
)
from wikiprep_spark.sources.pages import parse_pages_prescan

# the triples table as written, pred its partition column
TRIPLES_SCHEMA = "subj string, pred string, obj string, prop string"
# the tagged dictionary table (operators/prescan.tagged_dicts_df)
DICTS_SCHEMA = "kind string, k string, v string"

EDGE_BUILDERS = {
    "anchors": edge_ops.anchors_edges,
    "links": edge_ops.links_edges,
    "categories": edge_ops.categories_edges,
    "related": edge_ops.related_edges,
    "interwiki": edge_ops.interwiki_edges,
    "external": edge_ops.external_edges,
    "disambig": edge_ops.disambig_edges,
    "template_inclusions": edge_ops.template_inclusion_edges,
    "pages": edge_ops.pages_table,
}


class Metrics:
    def __init__(self):
        self.stages = []

    def record(self, stage: str, seconds: float, rows: int | None = None,
               **extra):
        entry = {"stage": stage, "seconds": round(seconds, 3), "rows": rows}
        entry.update(extra)
        self.stages.append(entry)

    def save(self, path: str):
        with open(path, "w") as fh:
            for entry in self.stages:
                fh.write(json.dumps(entry) + "\n")


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write(df: DataFrame, path: str, partition_by=None) -> int | None:
    """Write parquet; the row count rides along on the write job via the
    Observation API (a separate .count() would re-scan the written data —
    measured as a material serial tail in scaling runs)."""
    from pyspark.sql import Observation

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    try:
        return obs.get["rows"]
    except Exception:
        return None


def lineage_df(pre: DataFrame) -> DataFrame:
    """Per-input-partition lineage, an aggregate of the cached pass-1
    parse: it keeps one row per source row (malformed records included)
    in the source's partitioning, with the sha256 of each raw record and
    its length already computed.  Row count, an order-insensitive
    checksum (sum of crc32(content_sha256)) and the raw record chars:
    the per-row content invariant survives every re-run / resume."""
    return (
        pre.select(
            F.spark_partition_id().alias("partition_id"),
            F.crc32("content_sha256").alias("crc"),
            "record_chars",
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum("crc").alias("content_checksum"),
            F.sum("record_chars").alias("byte_count"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    src_pages: DataFrame,
    work_dir: str | None = None,
    resume: bool = True,
    fuse_parse: bool = True,
) -> dict:
    """Run the full src_pages -> triples pipeline in the fused two-pass
    mode (module docstring), writing every stage under ``work_dir`` — a
    fresh temp dir when ``None``.  With ``resume``, stages whose
    ``_SUCCESS`` marker exists are read back instead of recomputed.

    ``fuse_parse`` is accepted for callers of the former multi-mode
    signature; the fused mode is the only one, so ``False`` raises.

    Returns a dict of DataFrames: transformed, every edge table,
    redirect_records, template_redirects, redirects_raw (from_title,
    to_title; the dicts table's redirect rows), template_bodies (the
    template index), triples (subj, pred, obj, prop), plus "_metrics" (the
    Metrics object), "_dicts_path" (the tagged dictionary parquet
    functions/dictload.load_env_from_parquet reads) and "_counts" (row
    counts observed on the write jobs of the stages that ran; callers
    should prefer these over re-scanning with .count()).
    """
    if not fuse_parse:
        raise ValueError("run_pipeline has one mode, the fused two-pass "
                         "mode; fuse_parse=False is not supported")
    if work_dir is None:
        work_dir = tempfile.mkdtemp(prefix="wikiprep_work_")
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    try:
        return _run_pipeline(spark, src_pages, work_dir, resume)
    finally:
        sc.setJobDescription(caller_description)


def _run_pipeline(spark: SparkSession, src_pages: DataFrame, work_dir: str,
                  resume: bool) -> dict:
    def stage(name: str):
        spark.sparkContext.setJobDescription("kg_pipeline:" + name)

    metrics = Metrics()
    out: dict = {}
    counts: dict = {}

    # --- pass 1: prescan — one title-keyed aggregation for all three
    # dictionaries; id-dedup is a broadcast anti join (no full-data shuffle)
    stage("prescan")
    t0 = time.time()
    # the dictionary aggregation reads text only for template pages — parse
    # with the prescan projection so the pass doesn't Arrow-ship every
    # page's full text back to the JVM.  Cached: the dup-id losers derive
    # from it too, and without the cache the anti-join's subquery re-runs
    # the python parse inside EVERY job that consumes live_pages (measured
    # as a full extra parse pass in both the prescan and transform jobs)
    pre = parse_pages_prescan(src_pages).persist()
    losers = prescan_ops.dup_losers(pre).persist()
    live_pre = prescan_ops.live_pages(pre, losers)
    # the dictionary write and both sides of the redirect join share this
    # aggregate; Spark does no cross-branch CSE, so cache it once (skinny
    # rows — only template candidates carry text).  The dictionary write,
    # one branch, is its first consumer and fills the cache
    agg = prescan_ops.title_aggregate(live_pre).persist()

    # the dictionaries persist as one shared tagged parquet table
    # (prescanSave equivalent; distributed write, no driver roundtrip) —
    # transform workers side-load it once per process
    n_dict_rows = None
    dicts_path = os.path.join(work_dir, "dicts")
    if not (resume and _stage_done(dicts_path)):
        n_dict_rows = _write(prescan_ops.tagged_dicts_df(agg), dicts_path)
    metrics.record("prescan", time.time() - t0, dict_rows=n_dict_rows)

    # lineage: an aggregate of the cached parse, so the source is scanned
    # and each record hashed once in this pass
    stage("lineage")
    t0 = time.time()
    lineage_path = os.path.join(work_dir, "lineage")
    n_lineage_rows = None
    if not (resume and _stage_done(lineage_path)):
        n_lineage_rows = _write(lineage_df(pre), lineage_path)
    metrics.record("lineage", time.time() - t0, rows=n_lineage_rows)

    # --- pass 2: transform
    stage("transform")
    t0 = time.time()
    transformed_path = os.path.join(work_dir, "transformed_pages")
    if not (resume and _stage_done(transformed_path)):
        live = prescan_ops.live_pages(
            transform_pages(src_pages, dicts_path), losers).drop("seq")
        counts["transformed"] = _write(live, transformed_path)
    # read back with the known schema: no schema-inference job
    transformed = spark.read.schema(TRANSFORMED_SCHEMA).parquet(
        transformed_path)
    metrics.record("transform", time.time() - t0,
                   rows=counts.get("transformed"))

    # edge tables: lazy projections of the wide table
    for name, builder in EDGE_BUILDERS.items():
        out[name] = builder(transformed)

    # redirect records: the output join (Output/Composite.pm:83-125) over
    # the cached title aggregate — row-local from-side, one broadcast of
    # the claimed titles for the to-side
    redirect_records, template_redirects = (
        prescan_ops.redirect_records_df(agg))
    out["redirect_records"] = redirect_records
    out["template_redirects"] = template_redirects

    # single-scan triple derivation (the edge tables above remain
    # available as pruned per-kind projections)
    stage("triples")
    t0 = time.time()
    triples_path = os.path.join(work_dir, "triples")
    if not (resume and _stage_done(triples_path)):
        # partitioned by predicate: partition pruning for per-edge reads
        counts["triples"] = _write(
            edge_ops.triples_from_transformed(transformed, redirect_records),
            triples_path, partition_by="pred")
    # the partitioned read-back moves pred last; restore the documented
    # column order
    out["triples"] = spark.read.schema(TRIPLES_SCHEMA).parquet(
        triples_path).select("subj", "pred", "obj", "prop")
    metrics.record("triples", time.time() - t0, rows=counts.get("triples"))
    metrics.save(os.path.join(work_dir, "metrics.jsonl"))

    out["transformed"] = transformed
    # the redirect map as the kernel sees it: read back from the written
    # dictionaries, the one boundary pass 1 ends at
    out["redirects_raw"] = spark.read.schema(DICTS_SCHEMA).parquet(
        dicts_path).where(F.col("kind") == "r").select(
        F.col("k").alias("from_title"), F.col("v").alias("to_title"))
    out["template_bodies"] = prescan_ops.template_bodies_df(agg)
    out["_metrics"] = metrics
    out["_dicts_path"] = dicts_path
    out["_counts"] = counts
    return out
