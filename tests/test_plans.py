"""Physical-plan regression gates (SURVEY.md §6 scale contract).

A plan that silently degrades — a broadcast join falling back to
sort-merge, a filter no longer reaching the parquet scan, a global sort
sneaking into the IVF bootstrap — is a 100 TB incident that small-scale
correctness tests can't see.  tools_plan_audit.py owns the per-operator
rules; this module asserts them on every pytest run (sf0.001 inputs, the
plans are scale-independent) and additionally proves the runtime-only
property static explain can't show: AQE reusing the (band,bucket)
exchange across both LSH self-join sides.
"""

import os
import re

import pytest

import tools_plan_audit as pa

# the sf0.001 tables beside the suite's SPARK_GRAFT_SF_DIR (tests/conftest.py)
SF001 = os.path.join(os.path.dirname(os.environ["SPARK_GRAFT_SF_DIR"]),
                     "sf0.001")


def test_flagship_plan_rules(spark):
    results = pa.run_checks(spark, sf="/root/testdata/sf0.001")
    probs = {name: v for name, (_, v) in results.items() if v}
    assert not probs, f"plan rule violations: {probs}"


def _minhash_lsh(spark):
    from wikiprep_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(SF001, "documents.parquet"))
    return dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16,
                                   threshold=0.8)


def _cosine_lsh(spark):
    from wikiprep_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(SF001, "embeddings.parquet"))
    return similarity.cosine_near_dup_pairs(emb, dim=64, threshold=0.95)


@pytest.mark.parametrize("build", [_minhash_lsh, _cosine_lsh],
                         ids=["minhash_lsh_pairs", "cosine_near_dup_pairs"])
def test_lsh_self_join_reuses_exchange(spark, build):
    fp = pa.final_plan(build(spark))
    assert "isFinalPlan=true" in fp
    assert len(re.findall(r"ReusedExchange", fp)) >= 1, (
        "post-AQE final plan lost the (band,bucket) exchange reuse — "
        "the banding chain would recompute per self-join side"
    )


def _plan_nodes(plan):
    """Every physical node reachable through ``children`` — a cached
    relation's own plan sits behind its InMemoryTableScan leaf and is not
    walked."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.fixture(scope="module")
def pipeline_writes(spark, tmp_path_factory):
    """One run_pipeline over the sf0.001 parquet source (a plain parquet
    source, so the only python in the plans is ours) with a spy on
    ``_write``.  Returns, per written table, the DataFrame handed to the
    writer and the job description in force on the writing thread; the
    pipeline's output dict; and the job description after the call, which
    the caller set to ``caller`` before it."""
    from wikiprep_spark.plans import pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    sc = spark.sparkContext
    tmp = tmp_path_factory.mktemp("pipeline_plans")
    writes, descriptions = {}, {}
    write = pipeline._write

    def spy_write(df, path, partition_by=None):
        name = os.path.basename(path)
        writes[name] = df
        descriptions[name] = sc.getLocalProperty("spark.job.description")
        return write(df, path, partition_by)

    src_path = str(tmp / "src")
    build_src_pages(spark, SF001).write.parquet(src_path)
    sc.setJobDescription("caller")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(pipeline, "_write", spy_write)
            out = pipeline.run_pipeline(spark, spark.read.parquet(src_path),
                                        work_dir=str(tmp / "work"))
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobDescription(None)
    return writes, descriptions, out, after


def _nodes(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return list(_plan_nodes(plan))


def _count(nodes, cls):
    return sum(1 for n in nodes if n.getClass().getSimpleName() == cls)


def test_pipeline_pass2_parses_once(pipeline_writes):
    """One python operator per pass: the transformed_pages write runs the
    parse inside the transform kernel — one MapInPandas — and drops the
    duplicate-id losers after it with a broadcast anti-join whose build
    side reads the cached pass-1 parse, never a second parse; the
    dictionary write runs no python (template bodies are preprocessed in
    the pass-1 parse), and no plan carries a JVM-side XML id scan."""
    writes = pipeline_writes[0]
    assert set(writes) == {"dicts", "transformed_pages", "triples",
                           "lineage"}

    transform = _nodes(writes["transformed_pages"])
    assert [n.nodeName() for n in transform].count("MapInPandas") == 1
    anti = [n for n in transform if n.nodeName() == "BroadcastHashJoin"
            and "LeftAnti" in n.toString()]
    assert len(anti) == 1
    build = [n.nodeName()
             for n in _plan_nodes(anti[0].children().apply(1))]
    assert build[0] == "BroadcastExchange"
    assert "InMemoryTableScan" in build and "MapInPandas" not in build
    assert "ArrowEvalPython" not in [n.nodeName()
                                     for n in _nodes(writes["dicts"])]
    assert not any("from_xml" in pa.formatted_plan(df)
                   for df in writes.values())


def test_pipeline_tail_one_broadcast(spark, pipeline_writes):
    """The redirect records are one broadcast join over the cached title
    aggregate: the triples write plan holds exactly one BroadcastExchange
    and no shuffle, its build side reading the cache.  The session lets
    AQE size the cached aggregate, so it reads back with fewer partitions
    than spark.sql.shuffle.partitions, and no write that consumes the
    caches (pre, losers, agg) gains a shuffle from the changed output
    partitioning."""
    writes, _, out, _ = pipeline_writes
    triples = _nodes(writes["triples"])
    assert _count(triples, "BroadcastExchangeExec") == 1
    join = [n for n in triples if n.nodeName() == "BroadcastHashJoin"]
    assert len(join) == 1
    assert "InMemoryTableScan" in [
        n.nodeName() for n in _plan_nodes(join[0].children().apply(1))]
    for name in ("dicts", "transformed_pages", "triples"):
        assert _count(_nodes(writes[name]), "ShuffleExchangeExec") == 0, name
    assert out["template_bodies"].rdd.getNumPartitions() < int(
        spark.conf.get("spark.sql.shuffle.partitions"))


def test_pipeline_job_descriptions(pipeline_writes):
    """Every job is described <query>:<stage>, and the caller's
    description is restored."""
    _, descriptions, _, after = pipeline_writes
    assert descriptions == {"dicts": "kg_pipeline:prescan",
                            "lineage": "kg_pipeline:lineage",
                            "transformed_pages": "kg_pipeline:transform",
                            "triples": "kg_pipeline:triples"}
    assert after == "caller"


def test_pipeline_lineage_reads_the_pass1_cache(pipeline_writes):
    """The lineage is an aggregate of the cached pass-1 parse: its write
    plan reads an InMemoryTableScan, scans no file and hashes nothing
    (the parse already carries each record's sha256).  Outside that
    cache, the source parquet is scanned once, by the transformed_pages
    write — two scans of the source per run, not three."""
    writes = pipeline_writes[0]
    lineage = _nodes(writes["lineage"])
    assert _count(lineage, "InMemoryTableScanExec") == 1
    assert _count(lineage, "FileSourceScanExec") == 0
    assert "sha2(" not in pa.formatted_plan(writes["lineage"])

    def source_scans(df):
        return [n for n in _nodes(df)
                if n.getClass().getSimpleName() == "FileSourceScanExec"
                and n.relation().location().rootPaths().head().getName()
                == "src"]

    assert {name: len(source_scans(df)) for name, df in writes.items()} == {
        "dicts": 0, "lineage": 0, "transformed_pages": 1, "triples": 0}


def test_hof_lambdas_hoist_row_constants(spark):
    """Row-constant work sits in a projection below the higher-order
    functions that read it: a lambda shares no subexpression it captures,
    so an inline copy re-runs per array element (the normalizing regex per
    shingle, the token hash per minhash permutation) or per tie-break
    branch (the language stopword counts)."""
    from wikiprep_spark.operators import dedup, textops

    def evals(df, fn):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(fn + r"\(", plan))

    docs = spark.read.parquet(os.path.join(SF001, "documents.parquet"))
    toks = dedup._token_sets(docs, "doc_id", "text", shingle=3)
    assert evals(toks, "regexp_replace") == 1
    sigs = dedup.minhash_signatures(docs, toks=toks.localCheckpoint())
    assert evals(sigs, "xxhash64") == 1
    assert evals(textops.lang_id(docs), "regexp_replace") == 1


def test_minhash_signatures_one_compiled_aggregate(spark):
    """The signatures are one groupBy(doc) of min aggregates over the
    exploded token hashes: no higher-order-function lambda is left for
    the interpreter to run per token per permutation."""
    from wikiprep_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(SF001, "documents.parquet"))
    toks = dedup._token_sets(docs, "doc_id", "text", shingle=3)
    sigs = dedup.minhash_signatures(docs, toks=toks.localCheckpoint())
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan
    assert len(re.findall(r"\bAggregate \[", plan)) == 1


def test_pipeline_dicts_one_explode(pipeline_writes):
    """The dictionary write is one projection of the cached title
    aggregate exploded once — no Union of per-kind branches, which ran a
    task and left a part file per branch per aggregate partition."""
    names = [n.nodeName() for n in _nodes(pipeline_writes[0]["dicts"])]
    assert "Union" not in names
    assert names.count("Generate") == 1
