"""Interpreted-SQL forms of the four n-gram operators' Arrow kernels.

The production operators (decontam.ngram_contamination,
dedup.duplicate_span_removal, textstats.top_ngram_stats and
textstats.dup_ngram_char_stats) keep exactly one path, their Arrow
kernel. These folds are the references the kernel parity tests in
tests/test_operators.py compare against on the same inputs, and the
shapes the DuckDB oracles in __spark_entry__.oracle_sql mirror. A
semantic change must land in the kernel, here and in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from indu_doc_transformer_spark.operators.textstats import _tokens


def distinct_grams(text, n: int):
    """Distinct whitespace-token n-grams of a text column, md5-hashed
    (the reference of decontam._distinct_grams_udf)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    return F.array_distinct(grams)


def span_windows(text, k: int) -> Column:
    """(start, md5) of every k-token window of a text column, 1-based
    starts (the reference of dedup._span_windows_udf)."""
    toks = _tokens(text)
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.array_join(F.slice(toks, i, k), " ")).alias("h"),
            ),
        ),
    ).otherwise(
        F.expr("cast(array() as array<struct<start:int,h:string>>)")
    )


def _gram_structs(toks: Column, ns: tuple) -> Column:
    """Flattened array of (n, gram) structs for every n in ``ns`` —
    the shared gram constructor for both repetition families (a change
    here must hold for top_ngram_stats AND dup_ngram_char_stats, whose
    oracles mirror it)."""
    n_tok = F.size(toks)

    def grams_for(n: int) -> Column:
        return F.when(
            n_tok >= n,
            F.transform(
                F.sequence(F.lit(1), n_tok - (n - 1)),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.array_join(F.slice(toks, i, n), " ").alias("gram"),
                ),
            ),
        ).otherwise(F.expr("cast(array() as array<struct<n:int,gram:string>>)"))

    return F.flatten(F.array(*[grams_for(n) for n in ns]))


def top_ngram_stats(df, id_col: str, text_col: str, ns: tuple = (2, 3, 4)):
    """The pure-SQL top n-gram fractions: one explode of (n, gram)
    structs + two shuffles (the reference of
    textstats.top_ngram_stats)."""
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    all_g = _gram_structs(toks, ns)
    g = (
        df.where(n_tok >= 2)
        .select(
            F.col(id_col).alias("id"),
            n_tok.cast("long").alias("ntok"),
            F.explode(all_g).alias("g"),
        )
        .select("id", "ntok", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = g.groupBy("id", "ntok", "n", "gram").agg(F.count("*").alias("cnt"))
    top = counts.groupBy("id", "ntok", "n").agg(F.max("cnt").alias("top_cnt"))
    aggs = [
        F.round(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("n") == n,
                        F.col("top_cnt") / (F.col("ntok") - (n - 1)).cast("double"),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias(f"top{n}_frac")
        for n in ns
    ]
    return top.groupBy("id", "ntok").agg(*aggs).drop("ntok")


def dup_ngram_char_stats(
    df, id_col: str, text_col: str, ns: tuple = (5, 6, 7, 8, 9, 10)
):
    """The pure-SQL duplicate n-gram char fractions: ONE explode + two
    shuffles for all six n's (the reference of
    textstats.dup_ngram_char_stats)."""
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    char_len = F.length(F.array_join(toks, " ")).cast("long")
    g = (
        df.where(n_tok >= min(ns))
        .select(
            F.col(id_col).alias("id"),
            char_len.alias("chars"),
            F.explode(_gram_structs(toks, ns)).alias("g"),
        )
        .select("id", "chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = g.groupBy("id", "chars", "n", "gram").agg(F.count("*").alias("cnt"))
    dup = counts.groupBy("id", "chars", "n").agg(
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("dup_chars")
    )
    aggs = [
        F.round(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("n") == n,
                        F.least(
                            F.lit(1.0),
                            F.col("dup_chars") / F.col("chars").cast("double"),
                        ),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias(f"dup{n}_frac")
        for n in ns
    ]
    return dup.groupBy("id", "chars").agg(*aggs).drop("chars")
