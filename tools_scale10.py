#!/usr/bin/env python
"""Data-scale evidence: the flagship plans at 1x vs 10x input size.

The scaling-efficiency gate (bench_scaling.py, N vs 4N cores) shows the
plans parallelize; this measures the other axis — does throughput hold
when the DATA grows 10x at fixed parallelism (the "would the plan survive
100x" argument as a measured curve):

- kg pipeline: replicate=20 vs replicate=200 over the sf0.1 corpus
  (122k -> 1.22M pages; per-page markup work, so replication is a fair
  scale-up).
- LSH dedups (minhash bands + prefix-filter jaccard, production 3-gram
  config): sf0.01 vs sf0.1 documents (500 -> 5000 DISTINCT docs;
  replication would manufacture degenerate duplicate clusters and
  quadratic pair output, which is a different workload, so the scale axis
  here is the driver's own sf ladder).

Prints one JSON line; run on an idle host (this is measurement, not a
gate — the per-round artifact is bench.py's).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (_bench_near_dedup, _cpu_probe, _settle, _warmup_dir,
                   run_kg_pipeline)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# kg replication levels; override e.g. SPARK_GRAFT_SCALE_REPS=2000 for a
# single 100x point (12.2M pages, ~40 min)
REPS = [int(r) for r in os.environ.get(
    "SPARK_GRAFT_SCALE_REPS", "20,200").split(",")]


def main():
    from wikiprep_spark.plans.pipeline import run_pipeline as _rp
    from wikiprep_spark.plans.session import build_session
    from wikiprep_spark.sources.corpus import build_src_pages as _bsp

    spark = build_session(app_name="wikiprep-scale10",
                          master=f"local[{CPUS}]",
                          shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    # steady-state warmup outside every measured window
    warm = _rp(spark, _bsp(spark, _warmup_dir(), limit=60))
    warm["triples"].write.format("noop").mode("overwrite").save()
    _settle()

    out = {"cpus": CPUS, "probe_ms": round(_cpu_probe(), 1), "kg": {},
           "lsh": {}}

    for rep in REPS:
        wall, n_pages, n_triples, _ = run_kg_pipeline(
            spark, "/root/testdata/sf0.1", rep)
        out["kg"][f"rep{rep}"] = {
            "sec": round(wall, 2), "pages": n_pages,
            "triples": n_triples,
            "pages_per_sec": round(n_pages / wall, 1),
        }
        _settle()

    if len(REPS) > 1:
        for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            builders = _bench_near_dedup(spark, sf)
            res = {}
            for name in ("dedup_minhash_lsh_sh3",
                         "dedup_token_jaccard_sh3"):
                t0 = time.time()
                df = builders[name]()
                n = df.count()
                res[name] = {"sec": round(time.time() - t0, 2), "pairs": n}
            out["lsh"][sf.rsplit("/", 1)[1]] = res
            _settle()

        # 10x beyond the sf ladder: 50k DISTINCT synthesized docs (same
        # vocabulary/length distribution, planted sparse near-dups — NOT
        # replication, which manufactures degenerate duplicate clusters).
        # Materialized to parquet first so the measured window contains
        # only the dedup operators, like the sf levels above.
        import shutil
        import tempfile

        from wikiprep_spark.sources.corpus import synth_documents

        n_synth = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", "50000"))
        stmp = tempfile.mkdtemp(prefix="wikiprep_synth_docs_")
        synth_documents(spark, n_synth).repartition(CPUS).write.parquet(
            os.path.join(stmp, "docs"))
        sdocs = spark.read.parquet(os.path.join(stmp, "docs"))
        builders = _bench_near_dedup(spark, "/root/testdata/sf0.1",
                                     docs=sdocs)
        res = {}
        for name in ("dedup_minhash_lsh_sh3", "dedup_near_groups_sh3",
                     "dedup_token_jaccard_sh3"):
            t0 = time.time()
            df = builders[name]()
            n = df.count()
            res[name] = {"sec": round(time.time() - t0, 2), "rows": n}
        out["lsh"][f"synth{n_synth}"] = res
        shutil.rmtree(stmp, ignore_errors=True)
        _settle()

        out["kg"]["scale_ratio"] = round(
            out["kg"][f"rep{REPS[-1]}"]["pages_per_sec"]
            / out["kg"][f"rep{REPS[0]}"]["pages_per_sec"], 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
