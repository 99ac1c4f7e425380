"""Graph, dedup, similarity and pipeline operator tests (small data)."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from wikiprep_spark.operators import dedup, graph, similarity


def test_transitive_closure_roots(spark):
    # chain 1->2->3->4 and a lone edge 10->11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        (r["node"], r["root"], r["depth"])
        for r in graph.transitive_closure_roots(edges).collect()
    }
    assert got == {(1, 4, 3), (2, 4, 2), (3, 4, 1), (10, 11, 1)}


def _pointer_jumping_oracle(edges, jumps):
    """(node, root, depth) after ``jumps`` simultaneous pointer jumps, one
    at a time, stopping early at the fixpoint."""
    table = {s: (d, 1) for s, d in edges}
    for _ in range(jumps):
        nxt = {n: (table[p][0], depth + table[p][1]) if p in table
               else (p, depth) for n, (p, depth) in table.items()}
        if nxt == table:
            break
        table = nxt
    return {(n, p, depth) for n, (p, depth) in table.items()}


@pytest.mark.parametrize("cap", [1, 3, 5])
def test_transitive_closure_roots_odd_cap(spark, cap):
    """An odd max_iterations runs exactly that many jumps, on a chain too
    long to resolve within the cap and on a cycle (which never does)."""
    chain = [(i, i + 1) for i in range(1, 40)]
    cycle = [(101, 102), (102, 103), (103, 104), (104, 105), (105, 101)]
    for edges in (chain, cycle):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {tuple(r) for r in graph.transitive_closure_roots(
            df, max_iterations=cap).collect()}
        assert got == _pointer_jumping_oracle(edges, cap), edges


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "src long, dst long"
    )
    got = {
        (r["node"], r["component"])
        for r in graph.connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}


def _union_find_components(edges):
    """{node: min node of its undirected component}, pure Python."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in parent}


# a path whose ids ascend away from one end, so the minimum label must
# travel the whole length: 2 rounds do not finish it
_CC_PATH = [(i, i + 1) for i in range(1, 40)]
_CC_CASES = {
    "path": _CC_PATH,
    "disjoint": [(1, 2), (2, 3), (7, 8), (20, 21), (21, 22), (22, 20)],
    "self_loop": [(9, 9), (4, 5)],
    "empty": [],
}


def _cc_edges(spark, edges, ids):
    if ids == "string":
        edges = [("t%d" % s, "t%d" % d) for s, d in edges]
    return edges, spark.createDataFrame(edges, "src %s, dst %s" % (ids, ids))


@pytest.mark.parametrize("ids", ["long", "string"])
@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_connected_components_oracle(spark, case, ids):
    """Components and min labels match union-find for long ids and for
    the same graph relabelled to strings (compared as strings, so "t10"
    sorts before "t9")."""
    edges, df = _cc_edges(spark, _CC_CASES[case], ids)
    got = {tuple(r) for r in graph.connected_components(df).collect()}
    assert got == set(_union_find_components(edges).items())


@pytest.mark.parametrize("ids", ["long", "string"])
def test_connected_components_path_needs_three_rounds(spark, ids):
    """The path case is long enough that a 2-round cap leaves it
    unconverged, so the oracle test above runs the probe past round 2."""
    edges, df = _cc_edges(spark, _CC_PATH, ids)
    got = {tuple(r) for r in graph.connected_components(
        df, max_iterations=2).collect()}
    assert got != set(_union_find_components(edges).items())


@pytest.mark.parametrize("edges", [
    [(3, 7)],
    [(5, 1), (1, 9), (2, 1), (1, 4)],
], ids=["pair", "star"])
def test_connected_components_star_ends_after_seed(spark, edges):
    """A component shaped as a star around its minimum (a near-dup pair or
    cluster) is final after the seeded labels, so the loop checkpoints
    ``sym`` and one round only — no second round to confirm it."""
    df = spark.createDataFrame(edges, "src long, dst long")
    checkpoint, calls = type(df).localCheckpoint, []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return checkpoint(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(df), "localCheckpoint", counting)
        got = {tuple(r) for r in graph.connected_components(df).collect()}
    assert got == set(_union_find_components(edges).items())
    assert len(calls) == 2


_GRAPHS = st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                   max_size=14)


@pytest.mark.parametrize("ids", ["long", "string"])
@settings(max_examples=8, deadline=None)
@given(edges=_GRAPHS)
def test_connected_components_matches_union_find(spark, ids, edges):
    """Seeded min-label propagation equals union-find on random small
    graphs (self-loops, duplicate and reversed edges, long paths)."""
    edges, df = _cc_edges(spark, edges, ids)
    got = {tuple(r) for r in graph.connected_components(df).collect()}
    assert got == set(_union_find_components(edges).items())


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "The quick  brown fox jumps over the lazy dog"),  # dup of 0
            (2, "the quick brown fox jumps over a sleepy dog"),   # near-dup
            (3, "completely different text about spark pipelines"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup(spark, docs):
    groups = {r["representative_id"]: r["n_docs"]
              for r in dedup.exact_dedup(docs).collect()}
    assert groups[0] == 2  # doc 1 normalizes to doc 0's text
    assert groups[2] == 1 and groups[3] == 1


def test_token_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.token_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_exact_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs  # identical token sets always collide
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_hub_bucket_guard(spark):
    # degenerate boilerplate corpus: 40 identical docs + 2 distinct
    # near-dups.  With a cap below 40, the boilerplate band-buckets are
    # dropped (bounding candidates at k^2 per allowed bucket) while the
    # small near-dup pair survives.
    rows = [(i, "standard site boilerplate footer text here") for i in range(40)]
    rows += [(100, "a unique article about distributed spark engines"),
             (101, "a unique article about distributed flink engines")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    guarded = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, max_bucket=10
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in guarded}
    assert (100, 101) in got
    assert not any(a < 40 and b < 40 for a, b in got)  # hub pairs dropped

    stats = dedup.minhash_lsh_bucket_stats(docs, max_bucket=10).collect()
    dropped = [r for r in stats if r["dropped"]]
    assert dropped and all(r["n_docs"] == 40 for r in dropped)
    # unguarded run still finds everything (exhaustive small-corpus mode)
    full = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    assert full.where("doc_a < 40 and doc_b < 40").count() == 40 * 39 / 2


def test_simhash_groups(spark, docs):
    rows = dedup.simhash(docs).collect()
    sh = {r["doc"]: r["simhash"] for r in rows}
    assert sh[0] == sh[1]
    groups = dedup.simhash_dup_groups(docs).collect()
    assert any(g["n_docs"] >= 2 for g in groups)


def test_cosine_topk_exact(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") == 0)
    got = [(r["neighbor_id"], r["rank"])
           for r in similarity.cosine_topk(emb, q, k=3).collect()]
    assert got[0] == (1, 1)
    assert [n for n, _ in got] == [1, 2, 3]


def test_cosine_near_dup_lsh_matches_exact(spark):
    """Banded hyperplane LSH + exact verify recovers ALL pairs above the
    threshold on a clustered corpus (the recall-1 regime the band math
    guarantees), and the hub-bucket guard bounds degenerate clusters."""
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    # 10 cluster centers, 5 tight members each (cosine >> 0.95 within)
    for c in range(10):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for m in range(5):
            vec = [x + rng.uniform(-0.01, 0.01) for x in center]
            rows.append((c * 10 + m, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r["vec_a"], r["vec_b"])
             for r in similarity.cosine_pairs_exact(emb, 0.95).collect()}
    lsh = {(r["vec_a"], r["vec_b"])
           for r in similarity.cosine_near_dup_pairs(
               emb, dim=dim, threshold=0.95).collect()}
    assert lsh == exact and exact  # precision AND recall 1

    guarded = similarity.cosine_near_dup_pairs(
        emb, dim=dim, threshold=0.95, max_bucket=3
    )
    assert {(r["vec_a"], r["vec_b"]) for r in guarded.collect()} <= exact


def test_ivf_topk(spark):
    import random

    rng = random.Random(3)
    dim = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)

    exact = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.cosine_topk(emb, q, k=5).collect()}
    # probing every inverted list == exhaustive search
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in similarity.ivf_cosine_topk(
                emb, q, k=5, n_centroids=6, n_probe=6).collect()}
    assert full == exact
    # partial probe: every result must carry the true cosine and rank
    # consistently within the probed subset
    part = similarity.ivf_cosine_topk(emb, q, k=5, n_centroids=6,
                                      n_probe=2).collect()
    assert part and all(r["neighbor_id"] != r["query_id"] for r in part)
    exact_pairs = {(r["query_id"], r["neighbor_id"])
                   for r in similarity.cosine_topk(emb, q, k=60).collect()}
    assert all((r["query_id"], r["neighbor_id"]) in exact_pairs
               for r in part)


def test_lsh_topk_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.lsh_cosine_topk(emb, q, dim=8, k=5, n_planes=2)
    # every approx neighbor must be a real vector with correct cosine rank
    # within its bucket; sanity: results non-empty and self excluded
    rows = approx.collect()
    assert rows
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    assert exact.count() == 15


def test_fused_pipeline_equality(spark, tmp_path):
    """The fused two-pass pipeline's lineage table equals, row for row, a
    JVM-side oracle over the source partitions (spark_partition_id,
    crc32(sha2(content, 256)), length(content)), and its totals equal a
    pure-Python oracle over the source rows, malformed records and a
    non-BMP character included: total rows, content_checksum = sum of
    crc32(sha256(content) hex digest) and byte_count = sum of
    len(content).  Duplicate page ids keep the first page in seq order
    (bin/wikiprep:466-470): corpus page 1005 comes twice more under
    "wiki/dup" and once under "!wrap", which sorts first and wins."""
    import hashlib
    import json
    import zlib

    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import _row, build_src_pages

    src_dir = str(tmp_path / "src")
    bad = spark.createDataFrame(
        [("!bad", "a.xml", "c0", "wikitext", "garbage <id>1001</id> é"),
         ("wiki/dup", "a.xml", "c1", "wikitext",
          _row(1005, "Dup A", "text a")[4]),
         ("wiki/dup", "b.xml", "c2", "wikitext",
          _row(1005, "Dup B", "text b")[4]),
         ("!wrap", "w.xml", "c0", "wikitext",
          "<mediawiki>" + _row(1005, "Dup W", "text w \U0001F600")[4]
          + "</mediawiki>")],
        "repo string, path string, commit string, lang string, "
        "content string")
    build_src_pages(spark, "/root/testdata/sf0.001", limit=60) \
        .unionByName(bad).repartition(3).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    contents = [r["content"] for r in src.select("content").collect()]

    out = run_pipeline(spark, src, work_dir=str(tmp_path / "w"),
                       resume=False)
    lineage = spark.read.parquet(str(tmp_path / "w" / "lineage"))
    per_partition = (
        src.select(F.spark_partition_id().alias("partition_id"),
                   F.crc32(F.sha2("content", 256)).alias("crc"),
                   F.length("content").alias("record_chars"))
        .groupBy("partition_id")
        .agg(F.count("*").alias("rows"),
             F.sum("crc").alias("content_checksum"),
             F.sum("record_chars").alias("byte_count")))
    assert sorted(map(tuple, lineage.collect())) == sorted(
        map(tuple, per_partition.collect()))
    got = tuple(lineage.agg(F.sum("rows"), F.sum("content_checksum"),
                            F.sum("byte_count")).first())
    want = (
        len(contents),
        sum(zlib.crc32(hashlib.sha256(c.encode()).hexdigest().encode())
            for c in contents),
        sum(len(c) for c in contents),
    )
    assert got == want
    assert out["_counts"]["transformed"] == out["transformed"].count() > 0
    ids = [r["page_id"] for r in out["transformed"].select("page_id")
           .collect()]
    assert len(ids) == len(set(ids))
    assert out["transformed"].where("page_id = 1005").first()["title"] \
        == "Dup W"
    # metrics.jsonl carries the row counts observed on the write jobs
    with open(tmp_path / "w" / "metrics.jsonl") as fh:
        rows = {e["stage"]: e["rows"] for e in map(json.loads, fh)}
    assert (rows["transform"], rows["triples"]) == (
        out["_counts"]["transformed"], out["_counts"]["triples"])


def test_pipeline_resume_skips_finished_stages(spark, tmp_path):
    """Killed-run semantics: a re-run with resume=True must NOT recompute
    stages whose _SUCCESS marker exists, and must recompute exactly the
    stage whose marker was removed."""
    import os
    import shutil

    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    src_dir = str(tmp_path / "src")
    build_src_pages(spark, "/root/testdata/sf0.001", limit=40) \
        .repartition(2).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    wd = str(tmp_path / "work")

    def mtimes(stage):
        d = os.path.join(wd, stage)
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)}

    first = run_pipeline(spark, src, work_dir=wd, resume=True)
    n_triples = first["triples"].count()
    before = {st: mtimes(st) for st in ("dicts", "transformed_pages")}

    # full resume: nothing recomputed, same results
    second = run_pipeline(spark, src, work_dir=wd, resume=True)
    assert {st: mtimes(st) for st in before} == before
    assert second["_counts"] == {}
    assert second["triples"].count() == n_triples

    # kill marker of the LAST stage only -> that stage recomputes, the
    # dictionary and transform stages stay untouched
    os.remove(os.path.join(wd, "triples", "_SUCCESS"))
    third = run_pipeline(spark, src, work_dir=wd, resume=True)
    assert set(third["_counts"]) == {"triples"}
    assert third["triples"].count() == n_triples
    assert {st: mtimes(st) for st in before} == before

    # cold resume of the finished run: a copy of the source matches no
    # cached plan, and past the caller's own read of it the call starts
    # no job — not even the pass-1 parse
    cold_dir = str(tmp_path / "src_copy")
    shutil.copytree(src_dir, cold_dir)
    cold_src = spark.read.parquet(cold_dir)
    sc = spark.sparkContext
    sc.setJobGroup("cold_resume", "cold_resume")
    try:
        cold = run_pipeline(spark, cold_src, work_dir=wd, resume=True)
        jobs = sc.statusTracker().getJobIdsForGroup("cold_resume")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert jobs == []
    assert cold["triples"].count() == n_triples


def test_pipeline_failure_joins_lineage_thread(spark, tmp_path,
                                               monkeypatch):
    """A failing transform write propagates its error and leaves nothing
    writing into work_dir: the lineage is a synchronous stage written
    before the transform, so its table is complete, and no lineage
    thread is started."""
    import os
    import threading

    from wikiprep_spark.plans import pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    def failing_transform(src_pages, dicts_path):
        return src_pages.select(
            F.lit(None).cast("long").alias("page_id"),
            F.lit("").alias("seq"),
            F.raise_error(F.lit("transform boom")).cast("string")
            .alias("text"))

    monkeypatch.setattr(pipeline, "transform_pages", failing_transform)
    src = build_src_pages(spark, "/root/testdata/sf0.001", limit=20)
    wd = tmp_path / "work"
    with pytest.raises(Exception, match="transform boom"):
        pipeline.run_pipeline(spark, src, work_dir=str(wd), resume=False)
    assert not [t for t in threading.enumerate()
                if t.name == "wikiprep-lineage"]
    assert os.path.exists(wd / "lineage" / "_SUCCESS")


def test_run_pipeline_rejects_unfused_mode(spark):
    from wikiprep_spark.plans.pipeline import run_pipeline

    with pytest.raises(ValueError):
        run_pipeline(spark, None, fuse_parse=False)


def _page_rec(id_literal, title, body):
    return ("<page><title>%s</title><id>%s</id><revision>"
            "<timestamp>2008-01-01T00:00:00Z</timestamp>"
            "<text>%s</text></revision></page>"
            % (title, id_literal, body))


def _live_vs_first_wins_oracle(spark, src):
    """Live (page_id, seq) pairs after dup_losers, and the same set from a
    pure-Python oracle of the one page-id rule (parse_page_record): sort
    by seq, keep records it rejects with a NULL page_id (they are counted,
    never losers), keep the first record per id.  Also returns how many
    records the oracle rejected."""
    from wikiprep_spark.operators import prescan as P
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record
    from wikiprep_spark.sources.pages import parse_pages_prescan

    pre = parse_pages_prescan(src)
    live = P.live_pages(pre, P.dup_losers(pre))
    got = {tuple(r) for r in live.select("page_id", "seq").collect()}

    first, rejected = {}, set()
    for r in sorted(src.collect(),
                    key=lambda r: (r["repo"], r["path"], r["commit"])):
        seq = "%s\x00%s\x00%s" % (r["repo"], r["path"], r["commit"])
        try:
            pid = parse_page_record(r["content"])["id"]
        except ValueError:
            rejected.add((None, seq))
            continue
        first.setdefault(pid, seq)
    return got, set(first.items()) | rejected, len(rejected)


def test_dup_losers_from_src_equivalence(spark):
    """First page wins per id (bin/wikiprep:466-470): dup_losers computed
    from the source rows equals the pure-Python oracle on a hostile
    corpus — duplicate ids, malformed records that merely contain
    "<id>N</id>", single and double wrapping, int64-overflowing ids."""
    from wikiprep_spark.sources.corpus import build_src_pages, _row

    src = build_src_pages(spark, "/root/testdata/sf0.001", limit=30)
    hostile = [
        # duplicate id 1005 (also a corpus page) under two more paths
        ("wiki/dup", "a.xml", "c1", "wikitext",
         _row(1005, "Dup A", "text a")[4]),
        ("wiki/dup", "b.xml", "c2", "wikitext",
         _row(1005, "Dup B", "text b")[4]),
        # malformed records that merely contain "<id>N</id>" of a real
        # page; "!" sorts their seq BEFORE every valid record, so if one
        # counted as a page it would win its id and evict the real one
        ("!bad", "a.xml", "c0", "wikitext",
         "garbage <id>1001</id> not xml"),
        ("!bad", "b.xml", "c0", "wikitext",
         "<page><title>T</title><id>1002</id>"),
        # singly-wrapped 1005 (valid: the export shape, and it sorts
        # first, so it is the 1005 that wins) and a doubly-wrapped one
        # (rejected)
        ("!wrap", "w.xml", "c0", "wikitext",
         "<mediawiki>" + _row(1005, "Dup W", "text w \U0001F600")[4] + "</mediawiki>"),
        ("!wrap2", "w.xml", "c0", "wikitext",
         "<export><mediawiki>" + _row(1005, "Dup W2", "text w2")[4]
         + "</mediawiki></export>"),
        # the same int64-overflowing id twice: both records are rejected,
        # so neither is a page nor a loser
        ("!huge", "a.xml", "c0", "wikitext",
         _page_rec("99999999999999999999", "Huge A", "ha")),
        ("!huge", "b.xml", "c0", "wikitext",
         _page_rec("99999999999999999999", "Huge B", "hb")),
    ]
    src = src.unionByName(spark.createDataFrame(
        hostile,
        "repo string, path string, commit string, lang string, "
        "content string"))

    got, want, n_rejected = _live_vs_first_wins_oracle(spark, src)
    assert n_rejected == 5
    assert got == want
    assert sum(1 for pid, _ in got if pid == 1005) == 1
    assert (1005, "!wrap\x00w.xml\x00c0") in got


def test_dup_losers_literal_id_forms(spark):
    """'<id>007</id>' and '<id>7</id>' are the SAME page id under the
    page-id rule, so the later one is a loser; 8 is a bystander."""
    src = spark.createDataFrame(
        [("r", "a.xml", "c1", "wikitext", _page_rec("007", "Padded", "a")),
         ("r", "b.xml", "c2", "wikitext", _page_rec("7", "Bare", "b")),
         ("r", "c.xml", "c3", "wikitext", _page_rec("8", "Other", "c"))],
        "repo string, path string, commit string, lang string, "
        "content string")

    got, want, n_rejected = _live_vs_first_wins_oracle(spark, src)
    assert n_rejected == 0
    assert got == want
    assert got == {(7, "r\x00a.xml\x00c1"), (8, "r\x00c.xml\x00c3")}


def test_redirect_records_match_sequential(spark):
    """The redirect output join (Output/Composite.pm:83-125) over the title
    aggregate equals the sequential oracle (functions/prescan.py
    build_redirect_records) as multisets on a hostile corpus, listed in
    dump order."""
    from collections import Counter

    from wikiprep_spark.functions.prescan import (
        build_redirect_records,
        prescan_pages,
    )
    from wikiprep_spark.operators import prescan as P
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record
    from wikiprep_spark.sources.pages import parse_pages_prescan

    pages = [
        (1, "Beta", "article beta"),
        (2, "Template:Infobox", "{{{1}}} box"),
        # a redirect to a template: routed to template_redirects
        (3, "Template:Ibox", "#REDIRECT [[Template:Infobox]]"),
        # a redirect from a template page: a later template claims the
        # title, so the redirect is dropped
        (4, "Template:Old", "#REDIRECT [[Beta]]"),
        (5, "Template:Old", "old body"),
        # a Template-namespace redirect nothing claims: kept, from 'unknown'
        (6, "Template:Moved", "#REDIRECT [[Beta]]"),
        # claimed by an earlier non-redirect page: dropped
        (7, "Alpha", "article alpha"),
        (8, "Alpha", "#REDIRECT [[Beta]]"),
        # claimed by a later page: kept, from_id is that claim
        (9, "Gamma", "#REDIRECT [[Beta]]"),
        (10, "Gamma", "article gamma"),
        # both ends unresolvable
        (11, "Nowhere", "#REDIRECT [[Nothing]]"),
        # a double redirect: R1's target is no claimed title
        (12, "R1", "#REDIRECT [[R2]]"),
        (13, "R2", "#REDIRECT [[Beta]]"),
        # two redirects with one title: the last wins
        (14, "Dual", "#REDIRECT [[Beta]]"),
        (15, "Dual", "#REDIRECT [[Alpha]]"),
        # a Template-namespace page shadowed by an earlier same-title
        # page is not a template id; the alias resolves to the first
        (16, "Template:Shadow", "first shadow"),
        (17, "Template:Shadow", "second shadow"),
        (18, "Shadow alias", "#REDIRECT [[Template:Shadow]]"),
        # a duplicate id loses to the first page: Zeta is never claimed
        (1, "Zeta", "article zeta"),
        (19, "To zeta", "#REDIRECT [[Zeta]]"),
    ]
    rows = [("r", "%02d.xml" % i, "c", "wikitext", _page_rec(pid, t, body))
            for i, (pid, t, body) in enumerate(pages)]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")

    pre = parse_pages_prescan(src)
    agg = P.title_aggregate(P.live_pages(pre, P.dup_losers(pre)))
    recs, tmpl = P.redirect_records_df(agg)
    got_recs = Counter(tuple(r) for r in recs.collect())
    got_tmpl = Counter(tuple(r) for r in tmpl.collect())

    want_recs, want_tmpl = build_redirect_records(
        prescan_pages(parse_page_record(r[4]) for r in rows))
    assert got_recs == Counter(
        (d["from_id"], d["from_title"], d["to_id"], d["to_title"])
        for d in want_recs)
    assert got_tmpl == Counter(want_tmpl)
    # the corpus reaches every case
    assert got_tmpl == Counter({(2, "Template:Ibox"): 1,
                                (16, "Shadow alias"): 1})
    assert got_recs == Counter({
        ("unknown", "Template:Moved", "1", "Beta"): 1,
        ("10", "Gamma", "1", "Beta"): 1,
        ("unknown", "Nowhere", "unknown", "Nothing"): 1,
        ("unknown", "R1", "unknown", "R2"): 1,
        ("unknown", "R2", "1", "Beta"): 1,
        ("unknown", "Dual", "7", "Alpha"): 1,
        ("unknown", "To zeta", "unknown", "Zeta"): 1,
    })


def test_near_dup_groups(spark):
    """Dedup decisions: transitively-linked near-dups collapse to one
    min-id representative; unique docs represent themselves."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),       # dup of 1
            (3, "alpha beta gamma delta epsilon"),  # near-dup of 1/2
            (9, "totally different words here entirely"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.near_dup_groups(
        docs, threshold=0.8).collect()}
    assert got[1]["representative_id"] == 1 and not got[1]["is_duplicate"]
    assert got[2]["representative_id"] == 1 and got[2]["is_duplicate"]
    assert got[3]["representative_id"] == 1 and got[3]["is_duplicate"]
    assert got[9]["representative_id"] == 9 and not got[9]["is_duplicate"]


def test_ivf_kmeans_refine(spark):
    """Lloyd refinement: (a) bit-identical centroids under ANY input
    partitioning (the decimal-accumulation determinism claim — float sums
    would diverge), (b) the spherical-kmeans objective does not get worse,
    (c) empty clusters keep their previous centroid."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = similarity.ivf_centroids(emb, 4)

    a = similarity.ivf_kmeans_refine(emb.repartition(3), seeds, n_iters=2)
    b = similarity.ivf_kmeans_refine(emb.repartition(7), seeds, n_iters=2)
    assert a == b  # exact equality, not approx

    def inertia(centroids):
        # mean cosine distance to the nearest centroid, the spherical-
        # kmeans objective: the first ranked entry's neg is -max cosine
        best = F.element_at(
            similarity._centroid_ranking(centroids, "embedding"), 1)
        return emb.select(F.avg(F.lit(1.0) + best["neg"])).first()[0]

    assert inertia(a) <= inertia(seeds) + 1e-12

    # a centroid no vector chooses survives refinement unchanged: cosine
    # is scale-invariant, so 2x seed 0 ties with seed 0 on every vector
    # (power-of-two scaling is FP-exact) and the lower centroid id wins
    # the tie -> centroid 99 gets zero members
    dup = [x * 2 for x in seeds[0][1]]
    refined = dict(similarity.ivf_kmeans_refine(emb, seeds + [(99, dup)],
                                                n_iters=1))
    assert refined[99] == dup


def test_bpe_token_count(spark, docs):
    from wikiprep_spark.operators import textops

    got = {r["doc_id"]: r for r in
           textops.bpe_token_count(docs).collect()}
    df2 = spark.createDataFrame(
        [(100, "It's 42 degrees — really?!")], "doc_id long, text string")
    r = textops.bpe_token_count(df2).first()
    # It|'s| 42| degrees| —| really|?!  -> 7 pre-tokens
    assert r["n_bpe_tokens"] == 7
    assert r["n_ws_tokens"] == 5
    assert all(v["n_bpe_tokens"] >= v["n_ws_tokens"] for v in got.values())


def test_winnow_fingerprints_property(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + window - 1 (= 11 at k=8, w=4) share at least one fingerprint;
    unrelated documents share none."""
    from wikiprep_spark.operators import textops

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC dddd " + shared + " eeee"),
            (3, "zz yy xx ww vv uu tt ss rr qq pp oo nn"),
        ],
        "doc_id long, text string",
    )
    fps = textops.winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]          # shared run -> shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # unrelated -> disjoint
    assert not (by_doc[2] & by_doc[3])


def test_shingle_dedup(spark, docs):
    from pyspark.sql import functions as F

    # 3-gram shingle sets: identical normalized docs still match exactly
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.token_jaccard_pairs(
                 docs, threshold=0.5, shingle=3).collect()}
    assert pairs[(0, 1)] == 1.0
    lsh = {(r["doc_a"], r["doc_b"])
           for r in dedup.minhash_lsh_pairs(
               docs, threshold=0.5, shingle=3).collect()}
    assert (0, 1) in lsh
    # shingle sets are far more selective than unigram sets
    toks = dedup._token_sets(docs, "doc_id", "text", shingle=3).collect()
    t = {r["doc"]: set(r["toks"]) for r in toks}
    inter = len(t[0] & t[3]) / len(t[0] | t[3])
    assert inter < 0.2


def _inline_token_sets(docs, shingle):
    """The token-set expression with the word array captured by the
    shingle lambda instead of read from a projected column."""
    toks = F.split(dedup.normalized_text("text"), " ")
    if shingle > 1:
        toks = F.transform(
            F.sequence(F.lit(0),
                       F.greatest(F.size(toks) - shingle, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle)),
        )
    return docs.select(F.col("doc_id").alias("doc"),
                       F.array_distinct(toks).alias("toks"))


def _inline_signatures(toks, num_hashes):
    """The signature expression with xxhash64 inside every permutation."""
    m = dedup._MERSENNE

    def perm(a, b):
        return lambda t: F.pmod(
            F.pmod(F.xxhash64(t), F.lit(m)) * F.lit(a) + F.lit(b), F.lit(m))

    return toks.select("doc", F.array(*[
        F.array_min(F.transform("toks", perm(2 * i + 1, 1000003 * (i + 1))))
        for i in range(num_hashes)]).alias("sig"))


@pytest.mark.parametrize("shingle", [1, 2, 3, 5])
def test_token_sets_and_signatures_match_inline_form(spark, shingle):
    """The hoisted word array and the aggregated signatures give the same
    token sets and signatures, row for row, as the inline expressions,
    also for NULL text and for docs shorter than the shingle."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "word"),
            (2, "two words"),
            (3, "Three\tWORDS  here"),
            (4, "  Tabs\t\tand   runs OF\tspaces  "),
            (5, "a b a b a b a b a b"),
            (6, base),
            (7, base.replace("lazy", "sleepy")),
            (8, base.upper()),
            (9, None),
            (10, "short doc"),
        ],
        "doc_id long, text string",
    )
    toks = dedup._token_sets(docs, "doc_id", "text", shingle)
    want = _inline_token_sets(docs, shingle)
    assert sorted(toks.collect()) == sorted(want.collect())
    sigs = dedup.minhash_signatures(docs, toks=toks)
    assert (sorted(sigs.collect())
            == sorted(_inline_signatures(want, 32).collect()))


def test_parse_page_record_single_wrap_only():
    """The parser accepts exactly one wrapping element — the MediaWiki
    export shape, <page> under the root; deeper nesting is rejected."""
    from wikiprep_spark.sources.mediawiki_xml import (
        make_page_xml, parse_page_record)

    inner = make_page_xml(42, "T", "body")
    assert parse_page_record(inner)["id"] == 42
    assert parse_page_record(
        "<mediawiki>%s</mediawiki>" % inner)["id"] == 42
    with pytest.raises(ValueError):
        parse_page_record(
            "<export><mediawiki>%s</mediawiki></export>" % inner)


def test_parse_page_record_id_bigint_grammar():
    """The page-id grammar: a trimmed, optionally signed integer literal
    ('007' is 7).  Ids outside BIGINT range (which would overflow the
    parsed table's BIGINT page_id column) and int() extensions like '1_2'
    underscore separators are REJECTED, not silently accepted."""
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record

    def rec(id_literal):
        return ("<page><title>T</title><id>%s</id>"
                "<revision><text>b</text></revision></page>" % id_literal)

    assert parse_page_record(rec("007"))["id"] == 7
    assert parse_page_record(rec(" 42 "))["id"] == 42  # cast trims
    assert parse_page_record(rec(str(2 ** 63 - 1)))["id"] == 2 ** 63 - 1
    for bad in (str(2 ** 63), str(10 ** 25), "1_2", "0x10", "4.0", ""):
        with pytest.raises(ValueError):
            parse_page_record(rec(bad))


def test_embedding_near_dup_groups(spark):
    """Vector dedup decisions: transitively-linked near-dup vectors
    collapse to one min-id representative; isolated vectors represent
    themselves — the embedding twin of near_dup_groups."""
    import random

    rng = random.Random(5)
    dim = 16
    rows = []
    for c in range(4):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for m in range(3):
            rows.append((c * 10 + m,
                         [x + rng.uniform(-0.005, 0.005) for x in center]))
    rows.append((99, [1.0] + [0.0] * (dim - 1)))  # isolated
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {r["vec_id"]: r for r in similarity.embedding_near_dup_groups(
        emb, dim=dim, threshold=0.95).collect()}
    assert len(got) == 13
    for c in range(4):
        rep = c * 10
        assert not got[rep]["is_duplicate"]
        for m in (1, 2):
            assert got[rep + m]["representative_id"] == rep
            assert got[rep + m]["is_duplicate"]
    assert got[99]["representative_id"] == 99 and not got[99]["is_duplicate"]


def test_winnow_overlap_pairs(spark):
    """MOSS containment: a document embedding another's full text pairs
    at overlap 1.0 regardless of its extra content (where Jaccard would
    dilute); unrelated text does not pair; the boilerplate posting guard
    drops pairs whose only shared evidence is hyper-common fingerprints."""
    from wikiprep_spark.operators import textops

    core = "def quicksort(arr): return sorted(arr) # classic algorithm"
    docs = spark.createDataFrame(
        [
            (1, core),
            (2, "intro paragraph here. " + core + " and a long trailing "
                "discussion of complexity bounds and pivots."),
            (3, "completely unrelated prose about mountain weather"),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): r for r in
           textops.winnow_overlap_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["overlap"] == 1.0  # containment, not Jaccard
    assert not any(3 in p for p in got)

    # boilerplate guard: 30 docs sharing ONLY a license header pair with
    # each other; with max_posting below 30 those pairs disappear while
    # the genuine clone pair (1,2) survives
    header = "copyright acme corp all rights reserved license apache two"
    rows = [(100 + i, header + f" unique body text number {i} "
             + "x" * (i % 7)) for i in range(30)]
    many = docs.unionByName(spark.createDataFrame(
        rows, "doc_id long, text string"))
    guarded = {(r["doc_a"], r["doc_b"]) for r in
               textops.winnow_overlap_pairs(
                   many, threshold=0.5, max_posting=10).collect()}
    assert (1, 2) in guarded
    assert not any(a >= 100 and b >= 100 for a, b in guarded)


def test_synth_documents_distribution_and_planted_dups(spark):
    """The scale-corpus synthesizer must (a) be deterministic, (b) match
    the driver testdata's documents shape/distribution, (c) plant sparse
    one-word near-duplicates (not replication's identical clusters), and
    (d) stay pure JVM codegen — a python stage in the generator would
    pollute the data-scale measurements it exists for."""
    from wikiprep_spark.sources.corpus import _DOC_VOCAB, synth_documents

    df = synth_documents(spark, 1000)
    rows = df.orderBy("doc_id").collect()
    assert rows == synth_documents(spark, 1000).orderBy("doc_id").collect()
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,lang:string,source:string,"
        "n_chars:bigint>")
    vocab = set(_DOC_VOCAB)
    for r in rows[:50]:
        words = r.text.split()
        assert 10 <= len(words) <= 100
        assert set(words) <= vocab
        assert r.n_chars == len(r.text)
    assert {r.lang for r in rows} == {"en", "zh", "es", "fr", "de"}
    # planted near-dups: doc (200k-1) differs from doc (200k-2) in at
    # most one position (the substitute may coincide with the original)
    for k in (199, 399, 599, 799, 999):
        a, b = rows[k - 1].text.split(), rows[k].text.split()
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) <= 1
    # non-planted neighbors are NOT near-identical
    a, b = rows[10].text.split(), rows[11].text.split()
    assert len(a) != len(b) or sum(x != y for x, y in zip(a, b)) > 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InMemory" not in plan
