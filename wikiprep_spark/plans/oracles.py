"""DuckDB oracle SQL for the driver's correctness gate.

For the knowledge-graph queries the oracle does NOT parse any markup: the
synthetic corpus (sources/corpus.py) is constructed so every expected edge
set is a closed-form function of ``documents.doc_id`` — these statements
compute those expectations analytically.  If the Spark pipeline mis-parses
templates, links, redirects, categories, urls, disambig pages or related
sections, the value hashes diverge.  Keep the arithmetic in exact sync with
sources/corpus.py (j1/j2/j3/jr formulas and the page-id layout).
"""

# Shared CTEs: n = document count, mm = redirect modulus, art = doc ids.
_KG_BASE = (
    "WITH nn AS (SELECT count(*)::BIGINT AS n, "
    "greatest(count(*)//5, 1)::BIGINT AS mm FROM documents), "
    "art AS (SELECT doc_id::BIGINT AS i FROM documents) "
)

KG_ORACLES = {
    "kg_links": _KG_BASE + """
, tgt AS (
    SELECT i, (7*i+1)%n AS t FROM art, nn
    UNION ALL SELECT i, (13*i+3)%n FROM art, nn
    UNION ALL SELECT i, 5*((11*i+2)%mm) FROM art, nn
    UNION ALL SELECT i, (3*i+7)%n FROM art, nn WHERE i%3=0
)
SELECT DISTINCT source_id, target_id FROM (
    SELECT 1000+i AS source_id, 1000+t AS target_id FROM tgt WHERE t<>i
    UNION ALL
    SELECT 1000+3*n+i, 1000+i FROM art, nn WHERE i%50=0
    UNION ALL
    SELECT 1000+3*n+i, 1000+(i+3)%n FROM art, nn WHERE i%50=0
)
""",
    "kg_anchors": _KG_BASE + """
SELECT 1000+t AS target_id, 1000+s AS source_id, a AS anchor_text FROM (
    SELECT (7*i+1)%n AS t, i AS s, 'Doc ' || ((7*i+1)%n)::VARCHAR AS a
      FROM art, nn WHERE (7*i+1)%n <> i
    UNION ALL
    SELECT (13*i+3)%n, i, 'alias ' || i::VARCHAR
      FROM art, nn WHERE (13*i+3)%n <> i
    UNION ALL
    SELECT 5*((11*i+2)%mm), i, 'Redirect ' || (5*((11*i+2)%mm))::VARCHAR
      FROM art, nn WHERE 5*((11*i+2)%mm) <> i
    UNION ALL
    SELECT (3*i+7)%n, i, 'Doc ' || ((3*i+7)%n)::VARCHAR
      FROM art, nn WHERE i%3=0 AND (3*i+7)%n <> i
)
UNION ALL
SELECT 1000+i, 1000+3*n+i, 'Doc ' || i::VARCHAR FROM art, nn WHERE i%50=0
UNION ALL
SELECT 1000+(i+3)%n, 1000+3*n+i, 'Doc ' || ((i+3)%n)::VARCHAR
  FROM art, nn WHERE i%50=0
""",
    "kg_categories": _KG_BASE + """
SELECT CAST(1000+i AS BIGINT) AS page_id,
       CAST(100+i%10 AS BIGINT) AS category_id FROM art
UNION ALL
SELECT 1000+i, 110 FROM art WHERE i%4=0
UNION ALL SELECT 100+k, 120 FROM range(10) t(k)
UNION ALL SELECT 110, 120
""",
    "kg_related": _KG_BASE + """
SELECT CAST(1000+i AS BIGINT) AS page_id,
       CAST(1000+(3*i+7)%n AS BIGINT) AS related_id
FROM art, nn WHERE i%3=0 AND (3*i+7)%n <> i
""",
    "kg_redirects": _KG_BASE + """
SELECT 'unknown' AS from_id, 'Redirect '||i::VARCHAR AS from_title,
       (1000+i)::VARCHAR AS to_id, 'Doc '||i::VARCHAR AS to_title
FROM art WHERE i%5=0
UNION ALL
SELECT 'unknown', 'Double 0', 'unknown', 'Redirect 0'
""",
    "kg_external": _KG_BASE + """
SELECT CAST(1000+i AS BIGINT) AS source_id,
       'http://example.org/doc/'||i::VARCHAR AS url,
       'homepage '||i::VARCHAR AS anchor
FROM art WHERE i%6=0
UNION ALL
SELECT 1000+i, 'http://data.example.com/'||i::VARCHAR, NULL
FROM art WHERE i%6=0
""",
    "kg_interwiki": _KG_BASE + """
SELECT CAST(1000+i AS BIGINT) AS page_id, 'Memoryalpha' AS namespace,
       'Doc '||i::VARCHAR AS title
FROM art WHERE i%8=0
""",
    "kg_template_inclusions": _KG_BASE + """
SELECT CAST(1000+i AS BIGINT) AS page_id, CAST(11 AS BIGINT) AS template_id,
       CAST(0 AS INTEGER) AS incl_idx, 'name' AS param,
       'Doc '||i::VARCHAR AS value FROM art
UNION ALL
SELECT 1000+i, 11, 0, 'num', i::VARCHAR FROM art
UNION ALL
SELECT 1000+i, 11, 0, 'cat', 'topic '||(i%10)::VARCHAR FROM art
UNION ALL SELECT 1000+i, 12, 0, NULL, NULL FROM art WHERE i%7=0
UNION ALL SELECT 1000+i, 13, 0, NULL, NULL FROM art WHERE i%7=0
""",
    "kg_disambig": _KG_BASE + """
SELECT CAST(1000+3*n+i AS BIGINT) AS disambig_id,
       CAST(0 AS INTEGER) AS line_no, CAST(0 AS INTEGER) AS pos,
       CAST(1000+i AS BIGINT) AS target_id,
       'Doc '||i::VARCHAR AS anchor_text
FROM art, nn WHERE i%50=0
UNION ALL
SELECT 1000+3*n+i, 1, 0, 1000+(i+3)%n, 'Doc '||((i+3)%n)::VARCHAR
FROM art, nn WHERE i%50=0
""",
    "kg_pages": _KG_BASE + """
SELECT CAST(1000+i AS BIGINT) AS page_id, 'Doc '||i::VARCHAR AS title,
       CAST(CASE WHEN i%7=0 THEN 1 ELSE 0 END AS INTEGER) AS is_stub,
       CAST(0 AS INTEGER) AS is_disambig,
       CAST(0 AS INTEGER) AS is_category,
       CAST(0 AS INTEGER) AS is_image
FROM art
UNION ALL
SELECT CAST(100+k AS BIGINT), 'Category:Topic '||k::VARCHAR, 0, 0, 1, 0
FROM range(10) t(k)
UNION ALL SELECT 110, 'Category:Even4', 0, 0, 1, 0
UNION ALL SELECT 120, 'Category:Topics', 0, 0, 1, 0
UNION ALL
SELECT CAST(1000+3*n+i AS BIGINT), 'Doc '||i::VARCHAR||' (disambiguation)',
       0, 1, 0, 0
FROM art, nn WHERE i%50=0
""",
    "kg_category_counts": _KG_BASE + """
SELECT CAST(100+i%10 AS BIGINT) AS category_id,
       count(*)::BIGINT AS n_pages FROM art GROUP BY 1
UNION ALL
SELECT 110, count(*)::BIGINT FROM art WHERE i%4=0
UNION ALL
SELECT 120, 11  -- the 11 topic/even4 category pages under Category:Topics
""",
    "kg_redirect_closure": _KG_BASE + """
SELECT 'Redirect '||i::VARCHAR AS from_title,
       'Doc '||i::VARCHAR AS canonical_title, CAST(1 AS BIGINT) AS hops
FROM art WHERE i%5=0
UNION ALL SELECT 'Double 0', 'Doc 0', 2
UNION ALL SELECT 'Template:Ibox', 'Template:Infobox', 1
""",
    "kg_canonical_titles": _KG_BASE + """
SELECT 'Doc '||i::VARCHAR AS title, 'Doc '||i::VARCHAR AS canonical
FROM art WHERE i%5=0
UNION ALL
SELECT 'Redirect '||i::VARCHAR, 'Doc '||i::VARCHAR FROM art WHERE i%5=0
UNION ALL SELECT 'Double 0', 'Doc 0'
UNION ALL SELECT 'Template:Ibox', 'Template:Ibox'
UNION ALL SELECT 'Template:Infobox', 'Template:Ibox'
""",
    # redirect transitive closure over the synthetic chain graph derived
    # from orders: parent(k) = k-1000 for k >= 1000 -> root k%1000,
    # depth k//1000 (closed form; the Spark side does real pointer jumping)
    "graph_closure": """
SELECT o_orderkey::BIGINT AS node,
       (o_orderkey%1000)::BIGINT AS root,
       (o_orderkey//1000)::BIGINT AS depth
FROM orders WHERE o_orderkey >= 1000
""",
    # connected components over customer->nation->region edges: the
    # component label is the global minimum node id, which is the smallest
    # customer key in the region (customer keys < nation node ids < region
    # node ids by construction)
    "graph_components": """
WITH nodes AS (
    SELECT c_custkey::BIGINT AS node, n.n_regionkey AS region
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT (10000000+n_nationkey)::BIGINT, n_regionkey FROM nation
    UNION ALL
    SELECT (20000000+r_regionkey)::BIGINT, r_regionkey FROM region
),
labels AS (SELECT region, min(node) AS component FROM nodes GROUP BY region)
SELECT n.node, l.component::BIGINT AS component
FROM nodes n JOIN labels l USING (region)
""",
}

TPCH_ORACLES = {
    # TPC-H Q1 shape: scan + filter + aggregate
    "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)::DOUBLE AS sum_qty,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)::DOUBLE
           AS sum_base_price,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2))
              - CAST(l_discount AS DECIMAL(18,2)))), 2)::DOUBLE
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    # broadcast-join shape: orders x customer x nation x region
    "q_join_revenue_by_nation": """
SELECT n.n_name AS nation, count(*) AS n_orders,
       round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    # window/top-k shape: biggest order per customer
    "q_window_top_order": """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
    # anti-join shape: customers without orders
    "q_anti_customers_without_orders": """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
""",
    # event-time windowed aggregation (batch equivalent of the streaming op)
    "q_events_hourly": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
""",
}


# incoming-link counts: group the links oracle by target
KG_ORACLES["kg_incoming_links"] = (
    "WITH links AS (" + KG_ORACLES["kg_links"] + ") "
    "SELECT target_id, count(*)::BIGINT AS n_links FROM links GROUP BY 1"
)

# names kept from the retired pipeline modes (pruned dictionaries, fused
# vs staged parse): they resolve to the one pipeline run, so they carry
# the IDENTICAL oracles
KG_ORACLES["kg_links_pruned"] = KG_ORACLES["kg_links"]
KG_ORACLES["kg_template_inclusions_pruned"] = (
    KG_ORACLES["kg_template_inclusions"])
KG_ORACLES["kg_links_fused"] = KG_ORACLES["kg_links"]
KG_ORACLES["kg_anchors_fused"] = KG_ORACLES["kg_anchors"]


def textops_oracles():
    """Oracles for the text-analysis / dedup / similarity operators — exact
    SQL re-implementations of the same deterministic logic."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    toks = f"string_split({norm}, ' ')"
    en = "['the','and','of','to','in','is','that','with']"
    sql = {}
    sql["dedup_exact"] = f"""
SELECT md5({norm}) AS content_md5,
       min(doc_id)::BIGINT AS representative_id,
       count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1
"""
    sql["text_token_stats"] = f"""
SELECT doc_id::BIGINT AS doc_id,
       len({toks})::BIGINT AS n_tokens,
       length({norm})::BIGINT AS n_chars_norm
FROM documents
"""
    sql["text_fingerprint"] = f"""
SELECT doc_id::BIGINT AS doc_id, md5({norm}) AS fingerprint,
       len({toks})::VARCHAR || '|' || {toks}[1] || '|' || {toks}[-1]
         AS shape_key
FROM documents
"""
    # BPE-ish pre-tokenizer count: the pattern is lookahead-free, so Java
    # regex (Spark) and RE2 (DuckDB) produce identical token streams
    from wikiprep_spark.operators.textops import BPE_PRETOKEN_PATTERN

    bpe_pat = BPE_PRETOKEN_PATTERN.replace("'", "''")
    sql["text_bpe_tokens"] = f"""
SELECT doc_id::BIGINT AS doc_id,
       len(regexp_extract_all(text, '{bpe_pat}', 0))::BIGINT
         AS n_bpe_tokens,
       len({toks})::BIGINT AS n_ws_tokens
FROM documents
"""
    # winnowing fingerprints (k=8, window=4): exact SQL twin — k-gram
    # md5-60bit hashes (hex fold), sliding-window minima, distinct
    _WK, _WW = 8, 4
    hex_fold = ("list_reduce(list_transform(generate_series(1, 15), "
                "q -> strpos('0123456789abcdef', substr(gmd5, q, 1)) - 1), "
                "(a, b) -> a * 16 + b)")
    sql["text_winnow_fingerprints"] = f"""
WITH t AS (
  SELECT doc_id, {norm} AS tnorm FROM documents
), g AS (
  SELECT doc_id, unnest(generate_series(
           1, greatest(length(tnorm) - {_WK} + 1, 1))) AS i, tnorm
  FROM t
), gh AS (
  SELECT doc_id, i, {hex_fold} AS h
  FROM (SELECT doc_id, i, md5(substr(tnorm, i, {_WK})) AS gmd5 FROM g)
), hs AS (
  SELECT doc_id, list(h ORDER BY i) AS hs FROM gh GROUP BY doc_id
), m AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(hs) - {_WW} + 1, 1)),
           j -> list_min(hs[j:j + {_WW} - 1]))) AS fps
  FROM hs
)
SELECT doc_id::BIGINT AS doc_id, unnest(fps)::BIGINT AS fp FROM m
"""
    # MOSS containment pairs: the fingerprint oracle wrapped in a postings
    # self-join + |common| / min-size containment at the query threshold
    sql["text_winnow_overlap"] = f"""
WITH fps AS ({sql["text_winnow_fingerprints"]}
), sz AS (
  SELECT doc_id, count(*)::BIGINT AS sz FROM fps GROUP BY 1
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
  FROM fps a JOIN fps b USING (fp) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, n_common,
       round(n_common::DOUBLE / least(sa.sz, sb.sz)::DOUBLE, 6) AS overlap
FROM p
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_common::DOUBLE / least(sa.sz, sb.sz)::DOUBLE >= 0.8
"""
    sql["text_quality"] = f"""
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id, {norm} AS t, {toks} AS w FROM documents
), f AS (
  SELECT doc_id,
         len(w)::DOUBLE AS n_tokens,
         length(t)::DOUBLE AS n_chars,
         length(regexp_replace(t, '[^a-z]', '', 'g'))::DOUBLE AS alpha_chars,
         len(list_filter(w, x -> list_contains({en}, x)))::DOUBLE AS stop_hits
  FROM b
)
SELECT doc_id,
  round(CASE WHEN n_tokens>0 THEN stop_hits/n_tokens ELSE 0 END, 6)
    AS stopword_ratio,
  round(CASE WHEN n_chars>0 THEN alpha_chars/n_chars ELSE 0 END, 6)
    AS alpha_ratio,
  round(CASE WHEN n_tokens>0 THEN (n_chars-(n_tokens-1))/n_tokens ELSE 0 END,
        6) AS mean_token_len,
  round(
    least(CASE WHEN n_tokens>0 THEN stop_hits/n_tokens ELSE 0 END*2.0,1.0)*0.5
    + least(CASE WHEN n_chars>0 THEN alpha_chars/n_chars ELSE 0 END,1.0)*0.3
    + CASE WHEN n_tokens>=20 AND n_tokens<=1000 THEN 0.2 ELSE 0 END, 6)
    AS quality_score
FROM f
"""
    # token-set Jaccard near-dup pairs at >= 0.5, rounded for stable hashing
    sql["dedup_token_jaccard"] = f"""
WITH t AS (
  SELECT doc_id AS doc, list_distinct({toks}) AS toks FROM documents
), e AS (
  SELECT doc, unnest(toks) AS tok, len(toks) AS sz FROM t
), p AS (
  SELECT l.doc AS doc_a, r.doc AS doc_b, count(*)::BIGINT AS inter,
         any_value(l.sz) AS sz_a, any_value(r.sz) AS sz_b
  FROM e l JOIN e r USING (tok) WHERE l.doc < r.doc
  GROUP BY l.doc, r.doc
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
       round(inter/(sz_a+sz_b-inter), 6) AS jaccard
FROM p WHERE inter/(sz_a+sz_b-inter) >= 0.5
"""
    # MinHash+LSH verified pairs at threshold 0.8 with 16 bands x 2 rows:
    # per-pair miss probability (1-0.8^2)^16 ~= 8e-8 and the pipeline is
    # fully deterministic, so the verified output equals the exact all-pairs
    # Jaccard >= 0.8 set — computable exactly in SQL.
    sql["dedup_minhash_lsh"] = f"""
WITH t AS (
  SELECT doc_id AS doc, list_distinct({toks}) AS toks FROM documents
), e AS (
  SELECT doc, unnest(toks) AS tok, len(toks) AS sz FROM t
), p AS (
  SELECT l.doc AS doc_a, r.doc AS doc_b, count(*)::BIGINT AS inter,
         any_value(l.sz) AS sz_a, any_value(r.sz) AS sz_b
  FROM e l JOIN e r USING (tok) WHERE l.doc < r.doc
  GROUP BY l.doc, r.doc
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
       round(inter/(sz_a+sz_b-inter), 6) AS jaccard
FROM p WHERE inter/(sz_a+sz_b-inter) >= 0.8
"""
    # near-dup DECISION groups: the exact pair graph (== the verified LSH
    # output in the provably-exhaustive band config), its undirected
    # transitive closure via a recursive CTE, min reachable node as the
    # component representative; unpaired documents represent themselves
    sql["dedup_near_groups"] = f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS doc, list_distinct({toks}) AS toks FROM documents
), e0 AS (
  SELECT doc, unnest(toks) AS tok, len(toks) AS sz FROM t
), p AS (
  SELECT l.doc AS doc_a, r.doc AS doc_b, count(*)::BIGINT AS inter,
         any_value(l.sz) AS sz_a, any_value(r.sz) AS sz_b
  FROM e0 l JOIN e0 r USING (tok) WHERE l.doc < r.doc
  GROUP BY l.doc, r.doc
), pairs AS (
  SELECT doc_a, doc_b FROM p WHERE inter/(sz_a+sz_b-inter) >= 0.8
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_id, doc_id FROM documents
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
)
SELECT a::BIGINT AS doc_id, min(b)::BIGINT AS representative_id,
       (min(b) <> a) AS is_duplicate
FROM reach GROUP BY a
"""

    # 16-bit SimHash dup groups: the Spark side hashes tokens with the
    # md5-derived 60-bit integer (operators/dedup.simhash), whose bit b
    # lives in hex digit 15 - b//4 (1-indexed) of the 15-char md5 prefix —
    # directly recomputable per token in SQL, so the per-bit majority
    # votes (ties -> 0, matching votes > 0 on the Spark side) and the
    # final group-by reproduce the full pipeline bit-for-bit.
    def _simhash_bit(b):
        digit = (f"(strpos('0123456789abcdef', "
                 f"substr(md5(tok), {15 - b // 4}, 1)) - 1)")
        vote = (f"(CASE WHEN ({digit} // {1 << (b % 4)}) % 2 = 1 "
                f"THEN 1 ELSE -1 END)")
        return (f"(CASE WHEN list_sum(list_transform(toks, tok -> {vote}))"
                f" > 0 THEN {1 << b} ELSE 0 END)")

    simhash_expr = "\n     + ".join(_simhash_bit(b) for b in range(16))
    sql["dedup_simhash"] = f"""
WITH t AS (
  SELECT doc_id AS doc, list_distinct({toks}) AS toks FROM documents
), h AS (
  SELECT doc, {simhash_expr} AS simhash FROM t
)
SELECT simhash::BIGINT AS simhash, min(doc)::BIGINT AS representative_id,
       count(*)::BIGINT AS n_docs
FROM h GROUP BY simhash HAVING count(*) > 1
"""

    # stopword-vote language id: same counts, same en<de<fr<es tie-break
    langs = {
        "en": en,
        "de": "['der','die','das','und','ist','nicht','mit','ein']",
        "fr": "['le','la','les','et','est','que','pas','une']",
        "es": "['el','la','los','que','es','una','por','con']",
    }
    cnt = {
        lg: f"len(list_filter({toks}, x -> list_contains({ws}, x)))"
        for lg, ws in langs.items()
    }
    sql["text_lang_id"] = f"""
WITH f AS (
  SELECT doc_id::BIGINT AS doc_id,
         {cnt['en']} AS c_en, {cnt['de']} AS c_de,
         {cnt['fr']} AS c_fr, {cnt['es']} AS c_es
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'unknown'
       WHEN c_en >= greatest(c_de, c_fr, c_es) THEN 'en'
       WHEN c_de >= greatest(c_fr, c_es) THEN 'de'
       WHEN c_fr >= c_es THEN 'fr'
       ELSE 'es' END AS detected_lang,
  greatest(c_en, c_de, c_fr, c_es)::BIGINT AS stopword_hits
FROM f
"""

    # cosine top-k: identical left-to-right double folds on both engines
    # make the unrounded cosine bit-identical, so ordering and round(,6)
    # agree exactly.
    def dot(a, b):
        return (f"list_reduce(list_transform(generate_series(1, len({a})), "
                f"i -> {a}[i]*{b}[i]), (x, y) -> x+y)")

    cos = f"{dot('c.v', 'q.v')} / (sqrt({dot('c.v', 'c.v')}) * sqrt({dot('q.v', 'q.v')}))"
    sql["sim_cosine_topk"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id, v FROM e WHERE vec_id < 10
), s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM e c, q WHERE c.vec_id <> q.vec_id
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       rank::BIGINT AS rank, round(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""

    # LSH cosine top-k: the random-hyperplane constants are generated by
    # the same LCG (operators/similarity.py hyperplane_values) and inlined
    # here as literals, so buckets match bit-for-bit.
    from wikiprep_spark.operators.similarity import hyperplane_values

    def bucket(v):
        terms = []
        for p in range(6):
            plane = "[" + ",".join(
                repr(x) for x in hyperplane_values(64, seed=p + 1)) + "]"
            terms.append(
                f"(CASE WHEN {dot(v, plane)} > 0 THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(terms)

    # IVF top-k at full probe width == exhaustive search (gates the
    # inverted-file machinery end to end)
    sql["sim_ivf_topk"] = sql["sim_cosine_topk"]

    # exact embedding near-dup pairs (same fold order as Spark -> bit-exact).
    # sim_near_dup runs the banded-LSH scale path in its recall-1
    # configuration (24 one-plane bands), so the exact all-pairs SQL gates
    # both it and the quadratic baseline.
    sql["sim_near_dup"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), s AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {dot('a.v', 'b.v')} / (sqrt({dot('a.v', 'a.v')}) * sqrt({dot('b.v', 'b.v')})) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a::BIGINT AS vec_a, vec_b::BIGINT AS vec_b,
       round(cosine, 6) AS cosine
FROM s WHERE cosine >= 0.35
"""
    sql["sim_near_dup_exact"] = sql["sim_near_dup"]

    # embedding dedup decisions: the exact cosine pair graph's connected
    # components with min-id representatives — same recursive-closure
    # pattern as dedup_near_groups, over vectors instead of shingles
    sql["sim_near_dup_groups"] = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), s AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {dot('a.v', 'b.v')} / (sqrt({dot('a.v', 'a.v')}) * sqrt({dot('b.v', 'b.v')})) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
), pairs AS (
  SELECT vec_a, vec_b FROM s WHERE cosine >= 0.35
), sym AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
  UNION SELECT vec_id, vec_id FROM embeddings
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
)
SELECT a::BIGINT AS vec_id, min(b)::BIGINT AS representative_id,
       (min(b) <> a) AS is_duplicate
FROM reach GROUP BY a
"""
    sql["sim_lsh_topk"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id, v, {bucket('v')} AS bucket FROM e
), q AS (
  SELECT vec_id, v, bucket FROM c WHERE vec_id < 10
), s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM c JOIN q USING (bucket) WHERE c.vec_id <> q.vec_id
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       rank::BIGINT AS rank, round(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""
    return sql


def curation_oracles():
    """DuckDB twins for the corpus-curation operators
    (operators/curation.py).  The Spark side computes the repetition /
    n-gram statistics with sorted-array linear passes inside higher-order
    functions; the twins recompute the same quantities the relational way
    (unnest + group by), so a bug in the HOF state machines cannot hide."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    sql = {}

    # Gopher repetition stats: duplicate-line fractions + the token share
    # of the single most frequent bigram/trigram
    def gram_cte(n):
        joined = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
        return f"""
  SELECT doc_id, max(c) AS m FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(w) - {n - 1}), i -> {joined})) AS g
      FROM b WHERE len(w) >= {n})
    GROUP BY doc_id, g)
  GROUP BY doc_id
"""

    sql["cur_repetition"] = f"""
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(text, chr(10)) AS lines,
         string_split({norm}, ' ') AS w
  FROM documents
), lc AS (
  SELECT doc_id, ln, count(*) AS c, length(ln) AS l
  FROM (SELECT doc_id, unnest(lines) AS ln FROM b)
  GROUP BY doc_id, ln
), ls AS (
  SELECT doc_id,
         sum(c)::BIGINT AS n_lines,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dl,
         sum(CASE WHEN c > 1 THEN c * l ELSE 0 END)::BIGINT AS dc,
         sum(c * l)::BIGINT AS total_chars
  FROM lc GROUP BY doc_id
), g2 AS ({gram_cte(2)}), g3 AS ({gram_cte(3)})
SELECT b.doc_id, ls.n_lines,
       round(ls.dl::DOUBLE / ls.n_lines, 6) AS dup_line_frac,
       round(ls.dc::DOUBLE / greatest(ls.total_chars, 1), 6)
         AS dup_line_char_frac,
       coalesce(round(2.0 * g2.m / len(b.w), 6), 0.0) AS top_bigram_frac,
       coalesce(round(3.0 * g3.m / len(b.w), 6), 0.0) AS top_trigram_frac
FROM b JOIN ls USING (doc_id)
LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
"""

    # PII scrub: patterns are RE2-safe (no lookaround/backrefs), so Java
    # regex and RE2 agree on every span; counts are staged exactly like
    # the Spark side (emails on raw text, IPs post-email, phones post-IP)
    from wikiprep_spark.operators.curation import (
        PII_EMAIL, PII_IPV4, PII_PHONE,
    )

    sql["cur_pii_scrub"] = f"""
WITH s1 AS (
  SELECT doc_id::BIGINT AS doc_id, text,
         regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM documents
), s2 AS (
  SELECT doc_id, text, t1,
         regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL}'))::BIGINT AS n_emails,
       len(regexp_extract_all(t1, '{PII_IPV4}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(t2, '{PII_PHONE}'))::BIGINT AS n_phones,
       regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS scrubbed_text
FROM s2
"""

    # decontamination: recompute the md5-60bit 5-gram hashes (1-indexed
    # lists here vs 0-indexed Spark arrays) so the HASHED match set —
    # not just the string grams — is what's gated
    hex_fold = ("list_reduce(list_transform(generate_series(1, 15), "
                "q -> strpos('0123456789abcdef', substr(gmd5, q, 1)) - 1), "
                "(a, b) -> a * 16 + b)")
    g5 = " || ' ' || ".join(f"w[i + {j}]" for j in range(5))
    sql["cur_decontaminate"] = f"""
WITH tk AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS w
  FROM documents
), ge AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, len(w) - 4), i -> {g5})) AS g
  FROM tk WHERE len(w) >= 5
), gh AS (
  SELECT DISTINCT doc_id, {hex_fold} AS gram
  FROM (SELECT doc_id, md5(g) AS gmd5 FROM ge)
), ev AS (
  SELECT DISTINCT gram FROM gh WHERE doc_id % 97 = 0
), hits AS (
  SELECT gh.doc_id, count(*)::BIGINT AS n_shared_ngrams
  FROM gh JOIN ev USING (gram) GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(h.n_shared_ngrams, 0)::BIGINT AS n_shared_ngrams,
       (coalesce(h.n_shared_ngrams, 0) > 0) AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""

    # stratified sample: fold the first 4 md5 hex digits of 'sample:<id>'
    # into the [0,10000) bucket and apply the per-language keep rates
    from wikiprep_spark.operators.curation import (
        _BUCKETS, SAMPLE_DEFAULT_RATE, SAMPLE_RATES,
    )

    bucket_fold = ("list_reduce(list_transform(generate_series(1, 4), "
                   "q -> strpos('0123456789abcdef', substr(bmd5, q, 1)) - 1),"
                   " (a, b) -> a * 16 + b)")
    whens = " ".join(
        f"WHEN '{lg}' THEN {int(rate * _BUCKETS)}"
        for lg, rate in sorted(SAMPLE_RATES.items())
    )
    sql["cur_sample"] = f"""
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id, lang,
         ({bucket_fold} % {_BUCKETS})::BIGINT AS bucket
  FROM (SELECT doc_id, lang,
               md5('sample:' || doc_id::VARCHAR) AS bmd5 FROM documents)
)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang {whens}
               ELSE {int(SAMPLE_DEFAULT_RATE * _BUCKETS)} END
"""
    return sql


def streaming_oracles():
    """DuckDB twins for the driver-gated streaming backlog queries
    (plans/queries.py stream_*_backlog).

    stream_dedup_backlog: the streaming state guarantees exactly one
    output row per distinct normalized-content hash across micro-batches;
    the twin is the distinct key set.

    stream_sessionize_backlog: the backlog is time-split, so the stateful
    fold reproduces batch gap-sessionization; emitted rows are CLOSED
    sessions == every session but each user's last.  The running session
    id uses RANGE (not ROWS) so duplicate-timestamp peers share a session
    id regardless of tie order."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    sql = {}
    sql["stream_dedup_backlog"] = f"""
SELECT DISTINCT md5({norm}) AS content_md5
FROM documents WHERE doc_id IS NOT NULL
"""
    sql["stream_sessionize_backlog"] = """
WITH t AS (
  -- floor, not round: Spark's timestamp->long cast truncates the
  -- fractional second, DuckDB's epoch()::BIGINT would round it
  SELECT user_id::BIGINT AS u, floor(epoch(ts))::BIGINT AS t
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), b AS (
  SELECT u, t,
         CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
              THEN 1 ELSE 0 END AS nb
  FROM t WINDOW w AS (PARTITION BY u ORDER BY t)
), g AS (
  SELECT u, t,
         sum(nb) OVER (PARTITION BY u ORDER BY t
                       RANGE UNBOUNDED PRECEDING) AS sid
  FROM b
), s AS (
  SELECT u, sid, min(t) AS session_start, max(t) AS session_end,
         count(*)::BIGINT AS n_events
  FROM g GROUP BY u, sid
)
SELECT u AS user_id, session_start, session_end, n_events
FROM s
WHERE sid < (SELECT max(sid) FROM s s2 WHERE s2.u = s.u)
"""
    return sql


def pagerank_oracle(damping=0.85, iterations=5):
    """Relational twin of operators/graph.py pagerank over the closed-form
    kg_links edge set: the five iterations are UNROLLED as chained CTEs
    (one contribution aggregate + one dangling-mass scalar per round), so
    the gate covers the exact fixed-point arithmetic, not just the final
    shape.  Float expressions mirror the Spark side operation-for-
    operation ((1.0-d)*inv, dm*inv with inv = 1.0/n) so the only
    cross-engine drift is aggregate summation order — absorbed by the
    final round(6), same contract as the curation fractions."""
    edges = ("SELECT source_id AS src, target_id AS dst FROM ("
             + KG_ORACLES["kg_links"] + ")")
    d = repr(damping)
    sql = f"""
WITH edges AS ({edges}),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
prc AS (SELECT 1.0/count(*) AS inv FROM nodes),
odeg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, inv AS rank FROM nodes CROSS JOIN prc)"""
    for k in range(1, iterations + 1):
        p = f"r{k - 1}"
        sql += f""",
c{k} AS (
  SELECT e.dst AS node, sum(r.rank/o.deg) AS contrib
  FROM edges e JOIN {p} r ON e.src = r.node
  JOIN odeg o ON e.src = o.src
  GROUP BY e.dst
),
d{k} AS (
  SELECT coalesce(sum(r.rank), 0.0) AS dm
  FROM {p} r LEFT JOIN odeg o ON r.node = o.src
  WHERE o.src IS NULL
),
r{k} AS (
  SELECT n.node,
         (1.0-{d})*prc.inv
           + {d}*(coalesce(c.contrib, 0.0) + d{k}.dm*prc.inv) AS rank
  FROM nodes n CROSS JOIN prc CROSS JOIN d{k}
  LEFT JOIN c{k} c ON n.node = c.node
)"""
    sql += f"""
SELECT node, round(rank, 6) AS rank FROM r{iterations}
"""
    return sql


def bm25_oracle(k=10):
    """Relational twin of operators/retrieval.py bm25_topk: same
    normalized tokens, same literal query-term filter, tf/df/idf/score
    recomputed with unnest + group by, score expression mirroring the
    Spark float-op order term-for-term, round(6) before ranking with the
    same (score DESC, doc_id ASC) tiebreak."""
    from wikiprep_spark.operators.retrieval import (
        BM25_B, BM25_K1, DEFAULT_QUERIES,
    )

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, q in DEFAULT_QUERIES.items()
        for t in dict.fromkeys(q.split())
    )
    all_terms = sorted({t for q in DEFAULT_QUERIES.values()
                        for t in q.split()})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    k1, b = repr(BM25_K1), repr(BM25_B)
    one_minus_b = repr(1.0 - BM25_B)  # Spark folds (1.0 - b) in Python
    return f"""
WITH qt AS (
  SELECT * FROM (VALUES {qvals}) t(query_id, term)
),
ex AS (
  SELECT doc_id::BIGINT AS doc_id, len(w)::DOUBLE AS dl,
         unnest(w) AS term
  FROM (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents)
),
st AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, max(dl) AS dl FROM ex GROUP BY doc_id)
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf, max(dl) AS dl
  FROM ex WHERE term IN ({in_list})
  GROUP BY doc_id, term
),
idf AS (
  SELECT term,
         ln(1.0 + ((st.n_docs - df) + 0.5)/(df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
  CROSS JOIN st
),
sc AS (
  SELECT query_id, doc_id,
         round(sum(((idf.idf*tf.tf)*({k1}+1.0))
                   / (tf.tf + {k1}*({one_minus_b}
                                    + (({b}*tf.dl)/st.avgdl)))), 6)
           AS score
  FROM tf JOIN idf USING (term) JOIN qt USING (term) CROSS JOIN st
  GROUP BY query_id, doc_id
)
SELECT query_id::BIGINT AS query_id, doc_id, score,
       rnk::INTEGER AS rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM sc)
WHERE rnk <= {k}
"""


def lm_ppl_oracle(k=1.0):
    """Relational twin of operators/lm.py lm_perplexity (self-perplexity
    over documents): refits the add-k bigram model with unnest + group-by
    and mirrors the scoring expression term-for-term; round(6) absorbs
    summation-order drift (same contract as bm25_oracle)."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    kk = repr(k)
    return f"""
WITH tok AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS w
  FROM documents
),
ex AS (
  SELECT doc_id, (len(w) - 1)::DOUBLE AS n,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM tok WHERE len(w) >= 2
),
big AS (SELECT bigram, count(*)::DOUBLE AS c2 FROM ex GROUP BY bigram),
ctx AS (
  SELECT split_part(bigram, ' ', 1) AS w1, count(*)::DOUBLE AS c1
  FROM ex GROUP BY 1
),
vv AS (
  SELECT count(DISTINCT t)::DOUBLE AS v
  FROM (SELECT unnest(w) AS t FROM tok)
),
sc AS (
  SELECT e.doc_id, max(e.n) AS n,
         sum(-ln((coalesce(b.c2, 0.0) + {kk})
                 / (coalesce(c.c1, 0.0) + {kk} * vv.v))) AS nll
  FROM ex e
  LEFT JOIN big b USING (bigram)
  LEFT JOIN ctx c ON split_part(e.bigram, ' ', 1) = c.w1
  CROSS JOIN vv
  GROUP BY e.doc_id
)
SELECT doc_id, n::BIGINT AS n_bigrams, round(nll / n, 6) AS avg_nll,
       round(exp(nll / n), 6) AS ppl
FROM sc
"""


def pack_oracle(seq_len=2048):
    """Relational twin of operators/packing.py pack_sequences: the oracle
    USES the naive single-window global cumsum the Spark side must avoid
    (one reducer is fine in DuckDB on test data) — same numbers, different
    plan, which is exactly what makes it a useful gate for the distributed
    prefix-sum."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(string_split({norm}, ' '))::BIGINT AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, n AS n_tokens, (cum - n)::BIGINT AS tok_start,
       ((cum - n) // {seq_len})::BIGINT AS seq_first,
       ((cum - 1) // {seq_len})::BIGINT AS seq_last
FROM c
"""


SKEW_ORACLE = """
WITH c AS (
  SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1
), t AS (
  SELECT sum(cnt)::BIGINT AS total_rows, count(*)::BIGINT AS n_keys
  FROM c
), top AS (
  SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 20
)
SELECT row_number() OVER (ORDER BY cnt DESC, key ASC)::BIGINT AS rank,
       key, cnt,
       round(cnt::DOUBLE / t.total_rows, 6) AS share,
       t.total_rows, t.n_keys
FROM top CROSS JOIN t
"""


TRIANGLES_ORACLE = """
WITH li AS (
  SELECT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
), e AS (
  SELECT DISTINCT l1.p AS a, l2.p AS b
  FROM li l1 JOIN li l2 ON l1.ok = l2.ok AND l1.p < l2.p
), deg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY 1
), tri AS (
  -- id-ordering enumeration (a<b everywhere, so x<y<z counts each
  -- triangle once); the Spark side uses degree-ordered orientation
  -- instead — same triangle set, different (skew-safe) plan
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), pn AS (
  SELECT node, count(*)::BIGINT AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY 1
)
SELECT d.node, d.degree,
       coalesce(pn.n_triangles, 0)::BIGINT AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(pn.n_triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN pn USING (node)
"""


def chunks_oracle(chunk_tokens=32, overlap=8):
    """Relational twin of operators/textops.py chunk_documents at the
    driver query's window size: same window algebra (stride, smallest
    covering K, truncated last slice), chunk text compared byte-exact."""
    s = chunk_tokens - overlap
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS w
  FROM documents
), n AS (
  SELECT doc_id, len(w) AS n, w FROM t
), c AS (
  SELECT doc_id, n, w,
         unnest(generate_series(
           0, greatest(ceil((n - {chunk_tokens}) / {s}.0)::INT, 0))) AS k
  FROM n
)
SELECT doc_id, k::BIGINT AS chunk_id,
       (k * {s})::BIGINT AS chunk_start,
       least({chunk_tokens}, n - k * {s})::BIGINT AS n_tokens,
       array_to_string(w[k * {s} + 1:k * {s} + {chunk_tokens}], ' ')
         AS chunk_text
FROM c
"""


def dsir_oracle(buckets=4096, k=1.0):
    """Relational twin of operators/curation.py dsir_logweights with the
    driver query's target slice (lang = 'en'): recompute the hashed-ngram
    bucket multinomials, the add-k log-ratio on a complete bucket spine,
    and the per-doc feature-sum — float ops mirrored term-for-term, the
    final round(6) absorbing summation-order drift (the LM/BM25
    contract).  The deterministic Gumbel uses the md5 sampling-bucket
    fold, same as the stratified-sample twin."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    hex_fold = ("list_reduce(list_transform(generate_series(1, 15), "
                "q -> strpos('0123456789abcdef', substr(gmd5, q, 1)) - 1), "
                "(a, b) -> a * 16 + b)")
    gumbel_fold = ("list_reduce(list_transform(generate_series(1, 4), "
                   "q -> strpos('0123456789abcdef', substr(bmd5, q, 1)) - 1),"
                   " (a, b) -> a * 16 + b)")
    bi = ("unnest(list_transform(generate_series(1, len(w) - 1), "
          "i -> w[i] || ' ' || w[i + 1]))")

    def feats(src):
        return f"""
  SELECT doc_id, ({hex_fold} % {buckets})::BIGINT AS b
  FROM (SELECT doc_id, md5(g) AS gmd5 FROM (
    SELECT doc_id, unnest(w) AS g FROM {src}
    UNION ALL
    SELECT doc_id, {bi} AS g FROM {src} WHERE len(w) >= 2))
"""

    return f"""
WITH dt AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS w
  FROM documents
), tt AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS w
  FROM documents WHERE lang = 'en'
), fs AS ({feats("dt")}
), ft AS ({feats("tt")}
), cs AS (
  SELECT b, count(*)::DOUBLE AS c FROM fs GROUP BY b
), ct AS (
  SELECT b, count(*)::DOUBLE AS c FROM ft GROUP BY b
), tot AS (
  SELECT (SELECT count(*) FROM fs)::DOUBLE AS ns,
         (SELECT count(*) FROM ft)::DOUBLE AS nt
), lam AS (
  SELECT r.range::BIGINT AS b,
         ln((coalesce(ct.c, 0) + {k}) / (tot.nt + {k} * {buckets}))
         - ln((coalesce(cs.c, 0) + {k}) / (tot.ns + {k} * {buckets}))
           AS lam
  FROM range({buckets}) r
  LEFT JOIN ct ON ct.b = r.range
  LEFT JOIN cs ON cs.b = r.range
  CROSS JOIN tot
), sc AS (
  SELECT doc_id, count(*)::BIGINT AS n_feats, sum(lam) AS lw
  FROM fs JOIN lam USING (b) GROUP BY 1
), gu AS (
  SELECT doc_id::BIGINT AS doc_id,
         (({gumbel_fold} % 10000) + 0.5) / 10000.0 AS u
  FROM (SELECT doc_id, md5('dsir:' || doc_id::VARCHAR) AS bmd5
        FROM documents)
)
SELECT sc.doc_id, sc.n_feats, round(sc.lw, 6) AS log_weight,
       round(sc.lw - ln(-ln(gu.u)), 6) AS resample_score
FROM sc JOIN gu USING (doc_id)
"""


def dup_passages_oracle(k=8, min_docs=2):
    """Relational twin of operators/dedup.py dup_passages.  Joins on the
    raw k-token shingle STRING (DuckDB, small data) where the engine
    shuffles xxhash64 keys — same output absent a 64-bit collision; the
    gaps-and-islands merge is the same algebra on both sides."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS w
  FROM documents
), n AS (
  SELECT doc_id, len(w)::BIGINT AS n_tokens, w FROM t
), s AS (
  SELECT doc_id, n_tokens, w,
         unnest(generate_series(1, greatest(n_tokens - {k} + 1, 1))) AS pos
  FROM n
), sh AS (
  SELECT doc_id, n_tokens, pos,
         array_to_string(w[pos:pos + {k} - 1], ' ') AS g
  FROM s
), dup AS (
  SELECT g FROM (
    SELECT g, count(DISTINCT doc_id) AS nd FROM sh GROUP BY g
  ) WHERE nd >= {min_docs}
), m AS (
  SELECT doc_id, n_tokens, pos,
         least(pos + {k} - 1, n_tokens) AS e
  FROM sh JOIN dup USING (g)
), isl AS (
  SELECT doc_id, n_tokens, pos, e,
         CASE WHEN pos > coalesce(
                max(e) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS st
  FROM m
), isl2 AS (
  SELECT doc_id, n_tokens, pos, e,
         sum(st) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS island
  FROM isl
), sp AS (
  SELECT doc_id, island, min(pos) AS s, max(e) AS e
  FROM isl2 GROUP BY 1, 2
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS dup_spans,
         sum(e - s + 1)::BIGINT AS dup_tokens
  FROM sp GROUP BY 1
)
SELECT n.doc_id, n.n_tokens,
       coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
       coalesce(a.dup_spans, 0)::BIGINT AS dup_spans,
       round(coalesce(a.dup_tokens, 0)::DOUBLE / n.n_tokens::DOUBLE, 6)
         AS dup_ratio
FROM n LEFT JOIN agg a USING (doc_id)
"""


ASOF_ORACLE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts,
         epoch_us(ts) AS purchase_us
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
)
SELECT p.purchase_id, p.user_id, p.purchase_us, v.view_id,
       p.purchase_us - epoch_us(v.ts) AS gap_us
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def hll_oracle():
    """Relational twin of operators/sketches.hll_distinct over events
    (distinct users per day): same md5 registers (hex fold), same integer
    two-power harmonic sum (bit-exact across engines), and the estimator
    expression is THE SAME LITERAL TEXT as the Spark side
    (sketches.HLL_EST_EXPR) so the double arithmetic folds identically."""
    from wikiprep_spark.operators.sketches import HLL_EST_EXPR

    f3 = ("list_reduce(list_transform(generate_series(1, 3), "
          "q -> strpos('0123456789abcdef', substr(hx, q, 1)) - 1), "
          "(a, b) -> a * 16 + b)")
    f12 = ("list_reduce(list_transform(generate_series(4, 15), "
           "q -> strpos('0123456789abcdef', substr(hx, q, 1)) - 1), "
           "(a, b) -> a * 16 + b)")
    return f"""
WITH h AS (
  SELECT ts::DATE AS day,
         md5('hll:' || user_id::VARCHAR) AS hx
  FROM events
), rt AS (
  SELECT day, {f3} AS reg, {f12} AS tail FROM h
), mr AS (
  SELECT day, reg,
         max(CASE WHEN tail = 0 THEN 49
                  ELSE 49 - length(bin(tail)) END) AS max_rho
  FROM rt GROUP BY day, reg
), g AS (
  SELECT day,
         (sum(1::BIGINT << (49 - max_rho))
          + (4096 - count(*)) * 562949953421312)::BIGINT AS sum_int,
         (4096 - count(*))::BIGINT AS zeros,
         count(*)::BIGINT AS registers_used
  FROM mr GROUP BY day
)
SELECT day, {HLL_EST_EXPR} AS hll_distinct, registers_used FROM g
"""


CMS_ORACLE = """
WITH k AS (
  SELECT user_id::VARCHAR AS key FROM events
), b AS (
  SELECT key, i, md5('cms' || i::VARCHAR || ':' || key) AS hx
  FROM k CROSS JOIN range(4) t(i)
), bb AS (
  SELECT key, i,
         list_reduce(list_transform(generate_series(1, 3),
           q -> strpos('0123456789abcdef', substr(hx, q, 1)) - 1),
           (a, b) -> a * 16 + b) % 1024 AS bucket
  FROM b
), sk AS (
  SELECT i, bucket, count(*)::BIGINT AS cnt FROM bb GROUP BY 1, 2
), ex AS (
  SELECT key, count(*)::BIGINT AS exact_cnt FROM k GROUP BY 1
  ORDER BY exact_cnt DESC, key ASC LIMIT 20
), pb AS (
  SELECT key, i, md5('cms' || i::VARCHAR || ':' || key) AS hx
  FROM ex CROSS JOIN range(4) t(i)
), pbb AS (
  SELECT key, i,
         list_reduce(list_transform(generate_series(1, 3),
           q -> strpos('0123456789abcdef', substr(hx, q, 1)) - 1),
           (a, b) -> a * 16 + b) % 1024 AS bucket
  FROM pb
), est AS (
  SELECT pbb.key, min(sk.cnt)::BIGINT AS cms_cnt
  FROM pbb JOIN sk USING (i, bucket) GROUP BY 1
)
SELECT ex.key, ex.exact_cnt, est.cms_cnt
FROM ex JOIN est USING (key)
"""


def semdedup_oracle(n_clusters=16, eps=0.35):
    """Full relational twin of operators/semdedup.semantic_dedup: the
    md5-smallest seed centroids, argmax-cosine assignment (ties to the
    lower centroid id), the (centroid_cos DESC, vec_id ASC) cluster
    order on the UNROUNDED cosine, and the greedy-prefix drop test — all
    re-derived in SQL with the same left-to-right double folds."""
    def dot(a, b):
        return (f"list_reduce(list_transform(generate_series(1, len({a})), "
                f"i -> {a}[i]*{b}[i]), (x, y) -> x+y)")

    cass = (f"{dot('e.v', 's.v')} / (sqrt({dot('e.v', 'e.v')})"
            f" * sqrt({dot('s.v', 's.v')}))")
    pcos = (f"{dot('i.v', 'j.v')} / (sqrt({dot('i.v', 'i.v')})"
            f" * sqrt({dot('j.v', 'j.v')}))")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS (
  SELECT v, row_number() OVER (
           ORDER BY md5('sem:' || vec_id::VARCHAR)) - 1 AS cid
  FROM e ORDER BY md5('sem:' || vec_id::VARCHAR) LIMIT {n_clusters}
), asg0 AS (
  SELECT e.vec_id, e.v, s.cid, {cass} AS cc
  FROM e CROSS JOIN seeds s
), asg AS (
  SELECT vec_id, v, cid, cc FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rn
    FROM asg0)
  WHERE rn = 1
), rk AS (
  SELECT vec_id, v, cid, cc,
         row_number() OVER (
           PARTITION BY cid ORDER BY cc DESC, vec_id ASC)::BIGINT AS cr
  FROM asg
), drp AS (
  SELECT DISTINCT i.vec_id
  FROM rk i JOIN rk j ON i.cid = j.cid AND j.cr < i.cr
  WHERE {pcos} >= {eps!r}
)
SELECT rk.vec_id, rk.cid::BIGINT AS cluster_id, rk.cr AS cluster_rank,
       round(rk.cc, 6) AS centroid_cos,
       (drp.vec_id IS NOT NULL) AS is_duplicate
FROM rk LEFT JOIN drp USING (vec_id)
"""


def entity_mentions_oracle(n_unigrams=10, n_bigrams=30):
    """Relational twin of operators/entitylink (ngram_dictionary +
    link_entities, max_len=2): same normalization, doc-frequency
    dictionary with (df DESC, surface ASC) ranking, n-gram mention scan,
    strict-containment longest-match filter, df/n_docs prior."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH dall AS (
  SELECT doc_id::BIGINT AS doc_id, string_split({norm}, ' ') AS toks
  FROM documents
), nd AS (
  SELECT count(*)::DOUBLE AS n FROM documents
), u1 AS (
  SELECT surface, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS surface FROM dall)
  GROUP BY 1
), t1 AS (
  SELECT surface, df FROM u1 ORDER BY df DESC, surface ASC
  LIMIT {n_unigrams}
), u2 AS (
  SELECT surface, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(list_distinct(
          list_transform(generate_series(1, len(toks) - 1),
                         s -> toks[s] || ' ' || toks[s + 1]))) AS surface
        FROM dall WHERE len(toks) >= 2)
  GROUP BY 1
), t2 AS (
  SELECT surface, df FROM u2 ORDER BY df DESC, surface ASC
  LIMIT {n_bigrams}
), dict AS (
  SELECT surface, row_number() OVER (
           ORDER BY df DESC, surface ASC)::BIGINT AS entity_id,
         df::DOUBLE AS df
  FROM t1
  UNION ALL
  SELECT surface, {n_unigrams} + row_number() OVER (
           ORDER BY df DESC, surface ASC),
         df::DOUBLE
  FROM t2
), d AS (
  SELECT doc_id, toks FROM dall WHERE toks <> ['']
), m AS (
  SELECT doc_id, s::BIGINT AS pos, 1::BIGINT AS n_tokens,
         toks[s] AS surface
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS s FROM d)
  UNION ALL
  SELECT doc_id, s::BIGINT, 2::BIGINT, toks[s] || ' ' || toks[s + 1]
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 1)) AS s
        FROM d WHERE len(toks) >= 2)
), mm AS (
  SELECT m.doc_id, m.pos, m.n_tokens, m.surface, dict.entity_id, dict.df
  FROM m JOIN dict USING (surface)
)
SELECT a.doc_id, a.pos, a.n_tokens, a.surface, a.entity_id,
       round(a.df / nd.n, 6) AS prior
FROM mm a CROSS JOIN nd
WHERE NOT EXISTS (
  SELECT 1 FROM mm b
  WHERE b.doc_id = a.doc_id AND b.pos <= a.pos
    AND b.pos + b.n_tokens >= a.pos + a.n_tokens
    AND b.n_tokens > a.n_tokens)
"""


def profile_oracle():
    """Twin of operators/profile.numeric_profile over events.value:
    decimal power sums (order-independent, engine-exact), the stddev
    expression is THE SAME LITERAL TEXT as the Spark side
    (profile._STD_EXPR), and quantile_cont uses the identical
    h = (n-1)*q linear interpolation as Spark's exact percentile."""
    from wikiprep_spark.operators.profile import _STD_EXPR

    return f"""
WITH s AS (
  SELECT event_type,
         count(*)::BIGINT AS n_rows,
         count(value)::BIGINT AS n_vals,
         min(value) AS min_val, max(value) AS max_val,
         sum(CAST(value AS DECIMAL(18,6)))::DOUBLE AS s1d,
         sum(CAST(value AS DECIMAL(18,6))
             * CAST(value AS DECIMAL(18,6)))::DOUBLE AS s2d,
         quantile_cont(value, [0.25, 0.5, 0.75, 0.95]) AS qs
  FROM events GROUP BY 1
)
SELECT event_type, n_rows, (n_rows - n_vals)::BIGINT AS n_nulls,
       min_val, max_val,
       round(s1d / n_vals, 6) AS mean_val,
       round({_STD_EXPR}, 6) AS stddev_val,
       round(qs[1], 6) AS q_25, round(qs[2], 6) AS q_50,
       round(qs[3], 6) AS q_75, round(qs[4], 6) AS q_95
FROM s
"""


JSON_PROPS_ORACLE = """
SELECT event_type,
       count(k)::BIGINT AS n_parsed,
       sum(k)::BIGINT AS sum_val,
       min(k)::BIGINT AS min_val,
       max(k)::BIGINT AS max_val
FROM (SELECT event_type,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY 1
"""


ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
       count(*) AS n_items,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2))
              - CAST(l_discount AS DECIMAL(18,2)))), 2)::DOUBLE AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')::BIGINT AS n_click,
       count(*) FILTER (event_type = 'error')::BIGINT AS n_error,
       count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
       count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup,
       count(*) FILTER (event_type = 'view')::BIGINT AS n_view
FROM events GROUP BY 1
"""


RANGE_JOIN_ORACLE = """
WITH pts AS (
  SELECT DISTINCT
         datediff('day', DATE '1970-01-01', l_shipdate::DATE)::BIGINT
           AS ship_day
  FROM lineitem
), iv AS (
  SELECT o_orderkey,
         datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
           AS start_day
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_nationkey = 0
)
SELECT iv.o_orderkey, iv.start_day,
       (iv.start_day + 30)::BIGINT AS end_day, pts.ship_day
FROM iv JOIN pts
  ON pts.ship_day BETWEEN iv.start_day AND iv.start_day + 30
"""


WEIGHTED_SAMPLE_ORACLE = """
WITH f AS (
  SELECT doc_id, n_chars::DOUBLE AS weight,
         list_reduce(list_transform(generate_series(1, 4),
           q -> strpos('0123456789abcdef',
                substr(md5('wsample:' || doc_id::VARCHAR), q, 1)) - 1),
           (x, y) -> x * 16 + y) % 10000 AS bucket
  FROM documents WHERE n_chars > 0
), b AS (
  SELECT doc_id, weight,
         power((bucket + 0.5) / 10000.0, 1.0 / weight) AS k
  FROM f
)
SELECT doc_id, weight, round(k, 6) AS es_key,
       row_number() OVER (ORDER BY k DESC, doc_id ASC)::BIGINT AS rank
FROM b ORDER BY k DESC, doc_id ASC LIMIT 100
"""


BLOOM_ORACLE = """
WITH b0 AS (
  SELECT i, md5('bloom' || i::VARCHAR || ':' || o_custkey::VARCHAR) AS hx
  FROM orders CROSS JOIN range(4) t(i)
  WHERE o_orderkey % 3 = 0
), bits AS (
  SELECT DISTINCT
    list_reduce(list_transform(generate_series(1, 5),
      q -> strpos('0123456789abcdef', substr(hx, q, 1)) - 1),
      (a, b) -> a * 16 + b) % 262144 AS bit_pos
  FROM b0
), p0 AS (
  SELECT c_custkey::VARCHAR AS key, i,
         md5('bloom' || i::VARCHAR || ':' || c_custkey::VARCHAR) AS hx
  FROM customer CROSS JOIN range(4) t(i)
), pp AS (
  SELECT key, i,
    list_reduce(list_transform(generate_series(1, 5),
      q -> strpos('0123456789abcdef', substr(hx, q, 1)) - 1),
      (a, b) -> a * 16 + b) % 262144 AS bit_pos
  FROM p0
)
SELECT pp.key::BIGINT AS key, (count(bits.bit_pos) = 4) AS maybe_member
FROM pp LEFT JOIN bits USING (bit_pos)
GROUP BY pp.key
"""


def all_oracles():
    out = {}
    out.update(KG_ORACLES)
    out.update(TPCH_ORACLES)
    out.update(textops_oracles())
    out.update(curation_oracles())
    out.update(streaming_oracles())
    out["graph_pagerank"] = pagerank_oracle()
    out["text_bm25_topk"] = bm25_oracle()
    out["text_lm_ppl"] = lm_ppl_oracle()
    out["text_pack_seqs"] = pack_oracle()
    out["dedup_passages"] = dup_passages_oracle()
    out["cur_dsir"] = dsir_oracle()
    out["text_chunks"] = chunks_oracle()
    out["graph_triangles"] = TRIANGLES_ORACLE
    out["q_skew_events"] = SKEW_ORACLE
    out["sketch_hll_users"] = hll_oracle()
    out["sketch_cms_heavy"] = CMS_ORACLE
    out["sim_semantic_dedup"] = semdedup_oracle()
    out["text_entity_mentions"] = entity_mentions_oracle()
    out["q_profile_events"] = profile_oracle()
    out["q_json_props"] = JSON_PROPS_ORACLE
    out["q_rollup_pricing"] = ROLLUP_ORACLE
    out["q_pivot_user_events"] = PIVOT_ORACLE
    # DuckDB's native range join — an independent implementation of the
    # operator (same contract as the as-of oracle)
    out["q_range_ship_window"] = RANGE_JOIN_ORACLE
    out["cur_weighted_sample"] = WEIGHTED_SAMPLE_ORACLE
    out["dedup_bloom_seen"] = BLOOM_ORACLE
    # DuckDB's native ASOF JOIN — an independent implementation of the
    # operator, not a transcription of the Spark union/carry-forward plan
    out["q_asof_attribution"] = ASOF_ORACLE
    return out
