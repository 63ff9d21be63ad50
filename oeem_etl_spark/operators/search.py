"""Inverted-index search operators (SURVEY.md §2 L-ext/H9 family):
postings build, conjunctive (AND) retrieval, positional phrase search.

The classic IR decomposition (Manning, Raghavan & Schütze, "Introduction
to Information Retrieval", 2008 — public method): tokenize once into a
positional postings relation (term, doc, pos), then express retrieval as
relational algebra over it. Spark-first shapes:

- **postings build** — one posexplode scan of the corpus; at 100 TB the
  postings table is written partitioned/bucketed by term so retrieval
  becomes partition-pruned scans instead of corpus scans.
- **conjunctive (AND) search** — `term IN (...)` is a pushed-down scan
  filter (the query's terms are a handful of literals), then ONE hash
  aggregate per doc counting distinct matched terms; a doc qualifies iff
  it matched all |Q| terms. No joins, no distinct before the agg.
- **phrase search** — the anchor trick: an occurrence of the phrase
  starting at position p puts its i-th term at p + i, so every posting of
  a phrase term votes for anchor = pos - slot, and an anchor with all
  |phrase| distinct slots is a match. One pushed-down scan filter, one
  broadcast join against the |phrase|-row slot table (a term repeated in
  the phrase votes once per slot), one shuffle on (doc, anchor). This is
  a fixed-fan-out linear plan — never the quadratic positional self-join
  textbooks warn about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame


def build_postings(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus -> positional postings (term, ``key``, pos); pos is 0-based
    word offset under whitespace tokenization (lowercased)."""
    return docs.select(
        F.col(key),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos", "term"),
    ).select("term", key, "pos")


def conjunctive_search(
    postings: DataFrame, terms: list[str], key: str = "doc_id"
) -> DataFrame:
    """Docs containing ALL ``terms`` -> (key, n_occurrences) where
    n_occurrences totals the matched postings. The IN-list filter reaches
    the postings scan; one hash aggregate decides membership."""
    n = len(set(terms))
    return (
        postings.where(F.col("term").isin(list(set(terms))))
        .groupBy(key)
        .agg(
            F.count_distinct("term").alias("__hit"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("__hit") == n)
        .select(key, "n_occurrences")
    )


def phrase_search(
    postings: DataFrame, phrase: list[str], key: str = "doc_id"
) -> DataFrame:
    """Docs containing the exact consecutive ``phrase`` -> (key,
    n_matches = number of distinct start positions). Anchor-vote plan:
    scan-filter to phrase terms, broadcast-join the (term, slot) table,
    group on (key, anchor = pos - slot) and demand all slots present."""
    spark = postings.sparkSession
    n = len(phrase)
    slots = local_frame(
        spark,
        [(t, i) for i, t in enumerate(phrase)], "term string, slot int"
    )
    votes = (
        postings.where(F.col("term").isin(list(set(phrase))))
        .join(F.broadcast(slots), "term")
        .select(key, (F.col("pos") - F.col("slot")).alias("anchor"), "slot")
    )
    return (
        votes.groupBy(key, "anchor")
        .agg(F.count_distinct("slot").alias("__s"))
        .where(F.col("__s") == n)
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )
