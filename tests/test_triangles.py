"""Triangle counting with degree-ordered orientation.

The driver gate compares the part-co-order graph against a DuckDB
id-ordering enumeration; these tests pin the algorithm on hand graphs
and against a brute-force itertools reference, including the properties
the orientation trick could get wrong (hubs, duplicate/reversed input
edges, self-loops).
"""

import itertools
import re

from wikiprep_spark.operators.graph import triangle_counts


def _py_triangles(edge_list):
    adj = {}
    es = set()
    for s, d in edge_list:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        es.add((a, b))
    nodes = sorted({n for e in es for n in e})
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in nodes}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    out = {}
    for n in nodes:
        d = len(adj[n])
        c = round(2.0 * tri[n] / (d * (d - 1)), 6) if d >= 2 else 0.0
        out[n] = (d, tri[n], c)
    return out


def _check(spark, edge_list):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in triangle_counts(df).collect()}
    assert got == _py_triangles(edge_list)
    return got


def test_k4_plus_pendant(spark):
    k4 = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    got = _check(spark, k4 + [(4, 5)])
    assert got[1] == (3, 3, 1.0)       # K4 member: all pairs closed
    assert got[5] == (1, 0, 0.0)       # pendant


def test_hub_star_plus_rim(spark):
    """A hub with 10 spokes and a rim path: triangles only where the rim
    closes; the degree-ordered orientation must not miscount at the
    hub (the 'last reducer' shape the operator exists to survive)."""
    hub = [(100, i) for i in range(10)]
    rim = [(i, i + 1) for i in range(9)]
    got = _check(spark, hub + rim)
    assert got[100][1] == 9            # one triangle per rim edge


def test_duplicate_reversed_and_self_edges(spark):
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (3, 2), (1, 3)]
    got = _check(spark, edges)
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)


def test_broadcast_closing_edges_only_for_integral_ids(spark):
    """The closing semi-join broadcasts the oriented edge list only when
    its ids are integral (a row count bounds bytes only for fixed-width
    ids); string ids keep the shuffle semi-join.  Both give the oracle's
    counts."""
    k4 = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    edge_list = k4 + [(4, 5), (5, 6), (6, 4), (6, 7)]
    plans = {}
    for ids, edges in (
        ("long", edge_list),
        ("string", [("n%d" % s, "n%d" % d) for s, d in edge_list]),
    ):
        df = spark.createDataFrame(edges, "src %s, dst %s" % (ids, ids))
        out = triangle_counts(df)
        # the planned strategy, before AQE re-plans small stages at run time
        plans[ids] = out._jdf.queryExecution().executedPlan().toString()
        got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
               for r in out.collect()}
        assert got == _py_triangles(edges), ids
    assert "BroadcastHashJoin" in plans["long"]
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plans["long"])
    assert not re.search(r"BroadcastHashJoin .*LeftSemi", plans["string"])
