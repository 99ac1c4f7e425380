"""Graph statistics aggregates (the reference's Statistics.pm, re-enabled).

The reference ships %statCategories / %statIncomingLinks / %catHierarchy but
leaves the module commented out (bin/wikiprep:52-53); the two counts are
pure groupBys and genuinely useful, so they're first-class here (SURVEY.md
§2.4 A3-A4).  The category hierarchy is the categories edge table itself
(parent = category_id), so it needs no operator of its own.

Incoming-link and category counts group on HUB keys (top categories and
highly-linked pages dominate), so both run as explicit two-phase salted
aggregations: groupBy((key, salt)) partial counts, then groupBy(key) —
the partial combine bounds any single reducer's share of a hub key even
when AQE is off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_count(df: DataFrame, key: str, buckets: int = 16,
                 out: str = "n") -> DataFrame:
    """Two-phase count by ``key`` with a deterministic salt: phase 1 combines
    within (key, salt) buckets, phase 2 sums the partials.  Deterministic
    salting (hash of the whole row spread via pmod) so retries are stable."""
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return (
        partial.groupBy(key)
        .agg(F.sum("_partial").cast("long").alias(out))
    )


def category_counts(categories_edges: DataFrame) -> DataFrame:
    """Pages per category (Statistics.pm:26-31): (category_id, n_pages)."""
    return salted_count(
        categories_edges.select("page_id", "category_id"),
        "category_id", out="n_pages",
    )


def incoming_link_counts(links_edges: DataFrame) -> DataFrame:
    """Incoming links per page (Statistics.pm:33-41): (target_id, n_links).
    links_edges is already distinct and self-free."""
    return salted_count(
        links_edges.select("source_id", "target_id"),
        "target_id", out="n_links",
    )


def key_skew_stats(df, key_cols, top_k: int = 20):
    """Heavy-hitter profile of a prospective shuffle key: the ``top_k``
    most frequent key values with their absolute counts and share of the
    table, plus the global key cardinality riding every row.

    This is the decision input for every skew defense in this repo (salted
    two-phase aggs, LSH hub-bucket guards, AQE skew-join): at 100 TB you
    measure a key's hub profile BEFORE joining on it, with a plan that is
    itself skew-proof — per-key counts are one map-side-combining agg, the
    top-k is a distributed partial TakeOrderedAndProject (no global sort),
    and only the final ``top_k`` rows pass through a single task to pick
    up ranks.  Deterministic tiebreak: count desc, key asc.

    Output: (rank, key, cnt, share, total_rows, n_keys)."""
    from pyspark.sql import Window, functions as F

    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    counts = (
        df.select(key.alias("key"))
        .groupBy("key").agg(F.count("*").alias("cnt"))
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(top_k)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank", "key", F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("total_rows"), 6).alias("share"),
            "total_rows", "n_keys",
        )
    )
