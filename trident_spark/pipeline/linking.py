"""Entity linking: mention literals → canonical KB IRIs (C11-C12).

Two stages, exactly as the north-star prescribes:

1. candidate generation — broadcast hash join of mention surface forms
   against a small alias dictionary (no shuffle of the big side);
2. candidate scoring — a pure Catalyst expression over (mention, alias,
   prior) columns (:func:`link_score_col`, no Arrow hop), then a window
   top-1 per mention.  The pandas UDF :func:`link_score` it replaced is
   kept only as the differential-test reference.

The output is a set of owl:sameAs edges feeding canonicalization (cc.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from trident_spark.pipeline.kg import term_id

SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
KB_PREFIX = "https://kb.trident-spark.dev/entity/"

# predicates whose literal objects are entity mentions worth linking
MENTION_PREDICATES = (
    "https://schema.org/name",
    "https://trident-spark.dev/svo/works_for",
    "https://trident-spark.dev/svo/born_in",
    "https://trident-spark.dev/svo/located_in",
    "https://schema.org/homeLocation",
)


def link_score_col(mention, alias, prior):
    """Candidate score as a pure Catalyst expression (no Arrow hop):
    exact match → 1.0; otherwise token-Jaccard of the lowercased word
    sets, blended 70/30 with the popularity prior — the same arithmetic,
    in the same order, as the :func:`link_score` pandas UDF it replaced
    (kept below as the differential-test reference, rule 8).  ``(?U)\\s+``
    matches Python ``str.split``'s Unicode-whitespace behaviour."""
    m, a = F.lower(F.trim(mention)), F.lower(F.trim(alias))
    mt = F.array_distinct(F.split(m, r"(?U)\s+"))
    at = F.array_distinct(F.split(a, r"(?U)\s+"))
    inter = F.size(F.array_intersect(mt, at)).cast("double")
    union = F.size(F.array_union(mt, at)).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    exact = F.when(m == a, F.lit(1.0)).otherwise(F.lit(0.0))
    sim = F.greatest(exact, jac)
    return sim * F.lit(0.7) + prior.cast("double") * F.lit(0.3)


@pandas_udf(DoubleType())
def link_score(mention: pd.Series, alias: pd.Series, prior: pd.Series) -> pd.Series:
    """Batched candidate score: normalized-edit-free similarity + prior.

    Deterministic and cheap: exact match → 1.0; otherwise token-Jaccard of
    the lowercased word sets, blended 70/30 with the popularity prior.
    (Reference implementation for the differential test; the query path
    uses :func:`link_score_col`.)
    """
    m = mention.str.lower().str.strip()
    a = alias.str.lower().str.strip()
    exact = (m == a).astype("float64")
    mt = m.str.split()
    at = a.str.split()
    jac = pd.Series(
        [
            (len(set(x) & set(y)) / len(set(x) | set(y)))
            if isinstance(x, list) and isinstance(y, list) and (set(x) | set(y))
            else 0.0
            for x, y in zip(mt, at)
        ],
        index=m.index,
        dtype="float64",
    )
    sim = exact.combine(jac, max)
    return 0.7 * sim + 0.3 * prior.astype("float64")


def extract_mentions(skolemized: DataFrame) -> DataFrame:
    """Literal objects of mention-bearing predicates → distinct mentions."""
    return (
        skolemized.where(
            (F.col("obj_kind") == "literal")
            & F.col("pred").isin(*MENTION_PREDICATES)
        )
        .select(
            F.col("subj").alias("mention_subj"),
            F.col("obj_lexical").alias("mention"),
            "url",
            "warc_ts",
        )
        .withColumn("alias_key", F.lower(F.trim(F.col("mention"))))
        .dropDuplicates(["mention_subj", "alias_key"])
    )


def link_entities(skolemized: DataFrame, alias_dict: DataFrame,
                  min_score: float = 0.5) -> DataFrame:
    """→ sameAs edges (subj term, canonical IRI) via broadcast join + top-1.

    alias_dict(alias string, canonical_iri string, prior double) must be
    small enough to broadcast (the usual case: an alias table is O(10^7)
    rows ≪ the corpus).  Ambiguous aliases are resolved by the score
    + row_number window.
    """
    mentions = extract_mentions(skolemized)
    cands = mentions.join(
        F.broadcast(alias_dict.withColumn("alias_key", F.lower(F.trim("alias")))),
        "alias_key",
    )
    scored = cands.withColumn(
        "score", link_score_col(F.col("mention"), F.col("alias"), F.col("prior"))
    ).where(F.col("score") >= min_score)

    w = Window.partitionBy("mention_subj", "alias_key").orderBy(
        F.desc("score"), F.asc("canonical_iri")
    )
    top1 = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return top1.select(
        F.col("mention_subj").alias("subj"),
        F.lit(SAME_AS).alias("pred"),
        F.col("canonical_iri").alias("obj_lexical"),
        F.lit("iri").alias("obj_kind"),
        "url",
        "warc_ts",
        F.col("score"),
    )


def same_as_triples(same_as: DataFrame) -> DataFrame:
    """sameAs edges in the skolemized-triple schema, so they join the graph
    (and their canonical IRIs enter the term dictionary)."""
    return same_as.select(
        "url",
        "warc_ts",
        "subj",
        "pred",
        "obj_lexical",
        "obj_kind",
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("linking").alias("source"),
    )


def same_as_id_edges(same_as: DataFrame) -> DataFrame:
    """sameAs IRI pairs → (src_id, dst_id) long edges for cc.py."""
    return same_as.select(
        term_id(F.lit("iri"), F.col("subj")).alias("src"),
        term_id(F.lit("iri"), F.col("obj_lexical")).alias("dst"),
    )
