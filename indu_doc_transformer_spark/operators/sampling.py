"""Source-level corpus shaping: per-source document caps and
deterministic stratified sampling — the standard Common-Crawl-pipeline
steps that bound any single domain/dump's contribution to the corpus.

Scale design: the cap is a two-phase K-smallest selection, never a
window keyed by source. A rank window cannot be salted — all rows of a
source must meet in one task, so a source owning a large fraction of
the corpus serializes that task (AQE does NOT split window-exchange
partitions, only skewed joins). Phase 1 computes each source's K
smallest ids through a salted pre-aggregation (the hot source is
divided across ``num_salts`` groups, each capped to K before the tiny
per-source merge); phase 2 broadcasts that per-source top-K table (one
short row per source) and ranks by array position — no shuffle of the
corpus at all beyond the phase-1 aggregation. Sampling is stateless
per-row arithmetic on an md5 hash, so it is reproducible across runs,
engines, and cluster sizes — never `rand()`, which breaks retry
idempotency and oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def source_caps(
    df: DataFrame,
    id_col: str,
    source_col: str,
    max_per_source: int,
    num_salts: int = 16,
) -> DataFrame:
    """Keep at most ``max_per_source`` documents per source, preferring
    the smallest ids (deterministic; ids must be unique). Returns
    (id, source, rank, keep): rank is the 1-based position among the
    source's kept ids, NULL for capped-out rows.

    Two-phase K-smallest (no window on the skewed source key):
    1. groupBy(source, salt) -> sorted local K-smallest arrays (each
       group holds ~rows/num_salts of even the hottest source; size
       ``num_salts`` so that fits a task), then groupBy(source) merges
       the ≤ num_salts*K survivors per source into the global top-K.
    2. broadcast the (source, top-K array) table — #sources rows —
       back onto the corpus; rank = array_position, keep = rank found.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(source_col).alias("source"))
    salted = base.withColumn(
        "_salt", F.pmod(F.crc32(F.col("id").cast("string")), F.lit(num_salts))
    )
    local = salted.groupBy("source", "_salt").agg(
        F.slice(F.array_sort(F.collect_list("id")), 1, max_per_source).alias("topk")
    )
    topk = local.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("topk"))), 1, max_per_source
        ).alias("topk")
    )
    pos = F.array_position(F.col("topk"), F.col("id"))
    # eqNullSafe: a NULL source is a legitimate stratum (unknown
    # provenance) — groupBy keeps it as a group, and the join-back must
    # rank it like the replaced window did, not silently drop the rows
    return (
        base.join(
            F.broadcast(topk.withColumnRenamed("source", "_src")),
            base["source"].eqNullSafe(F.col("_src")),
        )
        .select(
            "id",
            "source",
            F.when(pos > 0, pos).cast("long").alias("rank"),
            (pos > 0).cast("int").alias("keep"),
        )
    )


def training_mixture(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    rates_pct: dict,
    tokens_per_shard: int,
    default_pct: int = 100,
) -> DataFrame:
    """The pipeline's FINAL artifact: a training mixture manifest —
    deterministic per-source Bernoulli sampling at the mixture weights
    (stratified_sample: md5 buckets, identical survivors on every
    engine/run/cluster size), then fixed-token-budget shard packing of
    the survivors in id order (textstats.token_shards: the distributed
    prefix sum — per-partition subtotals broadcast as offsets, docs
    never split). Returns (id, source, n_tokens, shard_id).

    Note: the shard pass materializes per-partition subtotals (a
    bounded collect, one row per partition), so building this plan
    runs jobs — it is an output-producing composition, not a lazy
    operator."""
    from .textstats import token_shards

    s = stratified_sample(df, id_col, source_col, rates_pct, default_pct)
    keep_ids = s.where(F.col("keep") == 1).select("id")
    survivors = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            F.col(source_col).alias("source"),
        ).join(keep_ids, "id")
    )
    shards = token_shards(survivors, "id", "_t", tokens_per_shard)
    return shards.join(survivors.select("id", "source"), "id").select(
        "id", "source", "n_tokens", "shard_id"
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates_pct: dict,
    default_pct: int = 100,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling: a doc survives iff
    the first 4 hex digits of md5(id) fall under its source's rate
    (percent, integer 0-100). Hash-based, so the SAME docs are sampled
    on every engine, run, and cluster size. Returns
    (id, source, bucket, keep)."""
    # md5 of the id string -> uniform 16-bit bucket 0..65535
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
                    ).cast("long")
    rate = F.lit(default_pct)
    for src, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(source_col) == src, F.lit(int(pct))).otherwise(rate)
    return df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        bucket.alias("bucket"),
    ).withColumn(
        "keep", (F.col("bucket") * 100 < rate * 65536).cast("int")
    )


def temperature_weights(
    df: DataFrame, source_col: str, tau: float = 0.7, budget_docs: int = 1000
) -> DataFrame:
    """Temperature-scaled mixture weights (the T5/mT5/PaLM multi-source
    sampling rule): w_i = n_i^tau / sum_j n_j^tau — tau < 1 upweights
    small sources, tau = 1 is natural frequency. Returns (source,
    n_docs, weight, rate_pct) where rate_pct is the integer percent to
    feed stratified_sample/training_mixture, sized so the expected kept
    docs ≈ budget_docs * weight (capped at the source's own size) —
    the doc-level selection itself stays md5-bucket deterministic.

    Scale: one count aggregate to #sources rows, one broadcast
    scalar-total cross join; nothing here touches document text."""
    agg = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    pw = agg.withColumn(
        "_p", F.pow(F.col("n_docs").cast("double"), F.lit(float(tau)))
    )
    tot = pw.agg(F.sum("_p").alias("_tot"))
    share = F.col("_p") / F.col("_tot")
    return pw.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(share, 6).alias("weight"),
        F.least(
            F.lit(100),
            F.round(F.lit(100.0 * budget_docs) * share / F.col("n_docs"))
            .cast("int"),
        ).alias("rate_pct"),
    )
