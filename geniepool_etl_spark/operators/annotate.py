"""Annotation enrichment joins.

Each enricher is a ``DataFrame -> DataFrame`` multi-column equi
left-outer join (SURVEY.md §2.3 J1-J4). Join strategy is left to
Catalyst + AQE by default: on a real cluster the Impact/Alpha tables
are broadcast-sized while dbSNP/gnomAD at production scale are not, and
hard-coding a broadcast would OOM the driver at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VARIANT_KEY = ["chrom", "pos", "ref", "alt"]
POSITION_KEY = ["chrom", "pos"]

# The four bases of the AlphaMissense score matrix (FIXTURES.md §6).
_BASES = ("A", "C", "G", "T")


def join_impact(variants: DataFrame, impact: DataFrame) -> DataFrame:
    """variants ⟕ impact on (chrom,pos,ref,alt) — reference M:55."""
    return variants.join(impact, VARIANT_KEY, "left")


def join_dbsnp(variants: DataFrame, dbsnp: DataFrame) -> DataFrame:
    """variants ⟕ dbSNP on (chrom,pos,ref,alt) — reference M:56."""
    return variants.join(dbsnp, VARIANT_KEY, "left")


def join_gnomad(variants: DataFrame, gnomad: DataFrame) -> DataFrame:
    """variants ⟕ gnomAD on (chrom,pos,ref,alt) — reference M:266."""
    return variants.join(gnomad, VARIANT_KEY, "left")


def alphamissense_score() -> F.Column:
    """Pick the substitution score for (ref → alt) from the A/C/G/T
    score columns of the alpha table.

    Re-expresses the reference's 12-branch CASE (M:212-228) as a
    generated ``when`` chain: the score in column ``alt`` applies only
    when the reference base's own column is exactly 0 (that is how the
    alpha matrix marks which base is the reference base); otherwise the
    score is null. Branches are mutually exclusive, so generation order
    is irrelevant.
    """
    expr = F.lit(None).cast("double")
    for ref_base in _BASES:
        for alt_base in _BASES:
            if alt_base == ref_base:
                continue
            cond = (
                (F.col("ref") == ref_base)
                & (F.col(ref_base) == 0)
                & (F.col("alt") == alt_base)
            )
            expr = F.when(cond, F.col(alt_base)).otherwise(expr)
    return expr


def join_alpha(variants: DataFrame, alpha: DataFrame) -> DataFrame:
    """variants ⟕ alpha on (chrom,pos) + CASE-select the score
    (reference M:201-234).

    The join is position-level; the alt allele is resolved by
    ``alphamissense_score``. The alpha matrix columns (A/C/G/T, POS)
    are dropped afterwards; output = ``alphamissense`` + the variant
    columns (reference M:230 ordering).
    """
    joined = variants.join(alpha, POSITION_KEY, "left")
    joined = joined.withColumn("alphamissense", alphamissense_score())
    return joined.select("alphamissense", *variants.columns)
