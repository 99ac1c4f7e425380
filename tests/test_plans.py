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
