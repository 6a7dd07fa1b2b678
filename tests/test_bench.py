"""bench.py's pure helpers (default tier): the replica construction
behind its scale tiers and the driver heap it asks for.

A ×N row is only comparable with its base row if the replicated corpus
has exactly N times the base corpus's duplicate structure.
"""

from __future__ import annotations

from collections import Counter

from bench import driver_heap, marker_replicas, usable_memory_bytes
from manifold_spark.operators import NGRAM_MAX_DF
from manifold_spark.operators.dedup import ngram_jaccard_pairs

GB = 2**30


def near_dup_family(spark, first_id: int, size: int = 6):
    """``size`` docs in one (lang, source) block: a shared 24-token text
    with doc k's first k tokens rewritten. Every pair is a near-duplicate,
    and a pair's Jaccard depends on how many tokens its later doc
    rewrote, so the family brings C(size, 2) pairs with size - 1
    distinct Jaccard values."""
    base = [f"fam{i}" for i in range(24)]
    rows = [
        (first_id + k, " ".join([f"ed{k}x{p}" for p in range(k)] + base[k:]), "en", "famsrc")
        for k in range(size)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_marker_replicas_multiply_pairs_exactly(spark, sf_dir):
    """Over 3 marker-fused copies, exact n-gram Jaccard returns 3× the
    base pairs with the same Jaccard multiset, and no pair crosses
    copies (copy k of doc d is doc_id 3·d + k). The sf0.001 documents
    hold a single near-duplicate pair, so a crafted family joins them:
    the invariant is then checked on ≥10 pairs and ≥3 Jaccard values."""
    factor = 3
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    first_id = docs.agg({"doc_id": "max"}).first()[0] + 1
    docs = docs.unionByName(near_dup_family(spark, first_id))

    def pairs(df):
        return ngram_jaccard_pairs(
            df, "text", "doc_id", ["lang", "source"], threshold=0.1, max_df=NGRAM_MAX_DF
        ).collect()

    base = pairs(docs)
    copies = pairs(marker_replicas(docs, factor))
    assert len(base) >= 10
    assert len({r["jaccard"] for r in base}) >= 3
    assert len(copies) == factor * len(base)
    assert all(r["id_a"] % factor == r["id_b"] % factor for r in copies)
    # each base pair, with its Jaccard, once per copy (so the same
    # Jaccard multiset, ×3)
    assert Counter((r["id_a"] // factor, r["id_b"] // factor, r["jaccard"]) for r in copies) == {
        (r["id_a"], r["id_b"], r["jaccard"]): factor for r in base
    }


def test_driver_heap_is_half_the_usable_memory_capped():
    """The bench's driver heap follows the host: half the usable memory
    in whole GB, at least 1g, never above the mode's cap."""
    assert driver_heap(16, usable=15 * GB) == "7g"
    assert driver_heap(24, usable=40 * GB) == "20g"
    assert driver_heap(16, usable=64 * GB) == "16g"
    assert driver_heap(24, usable=64 * GB) == "24g"
    assert driver_heap(16, usable=GB) == "1g"


def test_usable_memory_takes_numeric_cgroup_limits(tmp_path):
    """A numeric cgroup limit below physical RAM binds; "max", junk and
    missing files do not."""
    physical = usable_memory_bytes(limit_files=())
    limit = tmp_path / "memory.max"
    limit.write_text(f"{physical // 4}\n")
    unlimited = tmp_path / "unlimited"
    unlimited.write_text("max\n")
    missing = str(tmp_path / "absent")
    assert usable_memory_bytes(limit_files=(str(unlimited), missing)) == physical
    assert usable_memory_bytes(limit_files=(str(unlimited), str(limit), missing)) == physical // 4
    assert driver_heap(16, usable=usable_memory_bytes(limit_files=(str(limit),))) == (
        f"{max(1, min(16, physical // 8 // GB))}g"
    )
