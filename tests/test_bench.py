"""The replica construction behind bench.py's scale tiers (default tier).

A ×N row is only comparable with its base row if the replicated corpus
has exactly N times the base corpus's duplicate structure.
"""

from __future__ import annotations

from collections import Counter

from bench import marker_replicas
from manifold_spark.operators import NGRAM_MAX_DF
from manifold_spark.operators.dedup import ngram_jaccard_pairs


def test_marker_replicas_multiply_pairs_exactly(spark, sf_dir):
    """Over 3 marker-fused copies, exact n-gram Jaccard returns 3× the
    base pairs with the same Jaccard multiset, and no pair crosses
    copies (copy k of doc d is doc_id 3·d + k)."""
    factor = 3
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def pairs(df):
        return ngram_jaccard_pairs(
            df, "text", "doc_id", ["lang", "source"], threshold=0.1, max_df=NGRAM_MAX_DF
        ).collect()

    base = pairs(docs)
    copies = pairs(marker_replicas(docs, factor))
    assert base
    assert len(copies) == factor * len(base)
    assert all(r["id_a"] % factor == r["id_b"] % factor for r in copies)
    # each base pair, with its Jaccard, once per copy (so the same
    # Jaccard multiset, ×3)
    assert Counter((r["id_a"] // factor, r["id_b"] // factor, r["jaccard"]) for r in copies) == {
        (r["id_a"], r["id_b"], r["jaccard"]): factor for r in base
    }
