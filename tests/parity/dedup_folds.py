"""Interpreted-SQL forms of the MinHash and SimHash Arrow kernels.

The production operators (dedup.minhash_lsh_pairs and the SimHash
near-dup pairs) keep exactly one path, the kernels
dedup._shingle_sig_udf and dedup._simhash_udf. These folds are the
references the kernel parity tests in tests/test_operators.py compare
against on the same inputs, and the shapes the DuckDB oracles in
__spark_entry__.oracle_sql mirror. A semantic change must land in the
kernel, here and in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from indu_doc_transformer_spark.operators.textstats import norm_text


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams of the normalized text."""
    toks = F.split(norm_text(c), " ")
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """K lexicographic-min md5 hashes; string min is portable across
    engines (no hex->int conversion needed)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda seed: F.array_min(
            F.transform(
                shingles,
                lambda s: F.md5(F.concat(seed.cast("string"), F.lit(":"), s)),
            )
        ),
    )


def simhash64(c: Column) -> Column:
    """64-bit SimHash of the distinct whitespace tokens, as a 16-hex
    string. Bit p comes from nibble p/4 of each token's md5; the bit
    votes +1/-1 and the sign of the sum sets the output bit.

    Portable formula: nibble value = strpos('0123456789abcdef', ch)-1
    (same expression works in DuckDB)."""
    toks = F.array_distinct(F.split(norm_text(c), " "))
    hexes = F.transform(toks, lambda t: F.md5(t))

    def bit_sum(p):
        # p: Column 0..63; nibble index p/4 (1-based substr), bit 3-p%4
        nib_idx = (p / 4).cast("int") + 1
        shift_pow = F.pow(F.lit(2.0), (F.lit(3) - (p % 4)).cast("double")).cast("int")

        def vote(acc, h):
            nib = (
                F.instr(F.lit("0123456789abcdef"), F.substring(h, nib_idx, 1)) - 1
            ).cast("int")
            bit_on = ((nib / shift_pow).cast("int") % 2) == 1
            return acc + F.when(bit_on, 1).otherwise(-1)

        return F.aggregate(hexes, F.lit(0), vote)

    bits = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda p: F.when(bit_sum(p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    # reassemble 16 hex chars from 4-bit groups
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda g: F.substring(
                F.lit("0123456789abcdef"),
                (
                    F.element_at(bits, (g * 4 + 1).cast("int")) * 8
                    + F.element_at(bits, (g * 4 + 2).cast("int")) * 4
                    + F.element_at(bits, (g * 4 + 3).cast("int")) * 2
                    + F.element_at(bits, (g * 4 + 4).cast("int"))
                    + 1
                ).cast("int"),
                1,
            ),
        ),
        "",
    )
