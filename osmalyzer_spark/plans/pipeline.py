"""Corpus-cleaning pipeline: the composite a training-data job actually
runs — quality gate, exact dedup, near-dup collapse — with per-stage
row-count lineage, built entirely from the engine's operators.

Stages (all lazy until the final action; each stage's drop count is
recorded for the pipeline report):

1. text_stats projection + quality gate (textstats.quality_score >= min)
2. exact dedup on the normalized token-set fingerprint (keep min id)
3. MinHash-LSH near-dup candidate pairs -> connected components ->
   keep each component's min id
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmalyzer_spark.operators.dedup import (
    connected_components_star,
    exact_dedup,
    minhash_dedup,
)
from osmalyzer_spark.operators.textstats import text_stats


@dataclass
class CleanReport:
    n_input: int
    n_after_quality: int
    n_after_exact: int
    n_after_neardup: int

    def as_rows(self):
        return [
            ("input", self.n_input),
            ("after_quality", self.n_after_quality),
            ("after_exact_dedup", self.n_after_exact),
            ("after_neardup", self.n_after_neardup),
        ]


def clean_corpus(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    neardup_threshold: float = 0.7,
    num_hashes: int = 128,
    bands: int = 32,
) -> tuple[DataFrame, CleanReport]:
    """Returns (cleaned docs DataFrame, per-stage report)."""
    n_input = docs.count()

    stats = text_stats(docs, id_col, text_col)
    good_ids = stats.filter(F.col("quality") >= min_quality).select(id_col)
    quality_docs = docs.join(good_ids, id_col, "left_semi").persist()
    n_quality = quality_docs.count()

    # exact dedup: drop every member except the group keeper
    groups = exact_dedup(quality_docs, id_col, text_col, normalized=True)
    to_drop = groups.select(F.explode("members").alias(id_col)).join(
        groups.select(F.col("keep_id").alias(id_col)), id_col, "left_anti"
    )
    exact_docs = quality_docs.join(to_drop, id_col, "left_anti").persist()
    n_exact = exact_docs.count()

    # near-dup collapse: LSH pairs -> components -> keep component min
    pairs = minhash_dedup(
        exact_docs, id_col, text_col,
        threshold=neardup_threshold, num_hashes=num_hashes, bands=bands,
    )
    comps = connected_components_star(pairs)
    drop_near = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    cleaned = exact_docs.join(drop_near, id_col, "left_anti")
    n_final = cleaned.count()

    return cleaned, CleanReport(n_input, n_quality, n_exact, n_final)
