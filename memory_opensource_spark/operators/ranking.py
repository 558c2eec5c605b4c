"""Ranking / aggregation operators (SURVEY §2.5).

All formulas come from functions.decay (cited there); this module supplies the
DataFrame shapes: stratified multi-source merge, tier-1 ranked list, windowed
counts, temporal coherence.  Everything is window functions + groupBy aggregates —
map-side-combinable, shuffle-once plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.decay import (
    decayed_hit_sum,
    tier1_cache_score,
    tier1_cite_score,
    tier1_final_score,
)
from ..semantics import (
    NEO_DEFAULT_SCORE,
    RETRIEVAL_COUNT_LIMIT,
    STRATIFIED_QUOTA_FLOOR,
    VECTOR_OVERFETCH_FACTOR,
)


def stratified_merge(sources: dict[str, DataFrame], top_k: int,
                     id_col: str = "id", score_col: str = "score") -> DataFrame:
    """R2 stratified sampling with quotas (memory/memory_graph.py:6567-6727).

    - per-source quota = max(top_k / num_sources, 5) (:6579-6596);
    - vector sources get chunk_factor x3 (:6103) — callers over-fetch upstream;
    - graph source rows with NULL score get default 0.7 (:6599-6603);
    - adaptive fill (:6608-6652): remaining slots DISTRIBUTE EVENLY across
      sources that still have leftovers — slots_per_source = remaining //
      n_sources_with_remaining, the first ``remaining %% n`` sources (name
      order — the reference iterates its source list in fixed order) get one
      extra, and a source's take is capped by what it has (surplus is NOT
      redistributed, matching ``remaining_ids[:slots]``).  Round-5
      mirrored-deviation review replaced the earlier exhaust-first-source
      stand-in with the reference algorithm;
    - final dedup by id keeps the best (max) score.
    Returns {id, score, source}.
    """
    num_sources = max(len(sources), 1)
    quota = max(top_k // num_sources, STRATIFIED_QUOTA_FLOOR)

    ranked = []
    for name in sorted(sources):
        df = sources[name]
        score = F.coalesce(F.col(score_col), F.lit(NEO_DEFAULT_SCORE))
        ranked.append(
            df.select(
                F.col(id_col).alias("id"),
                score.alias("score"),
                F.lit(name).alias("source"),
            )
        )
    all_ranked = ranked[0]
    for r in ranked[1:]:
        all_ranked = all_ranked.unionByName(r)
    # ONE repartition positions the (quota-bounded, <= top_k * overfetch)
    # candidate set on a single partition; SinglePartition satisfies every
    # window distribution below (per-source ranks included), so all five
    # window stages + the dedup window run in one exchange-free stage
    # instead of serialized per-window exchanges (round-7: ~0.5 s of pure
    # stage latency on the agentic read)
    all_ranked = all_ranked.repartition(1)
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("id").asc())
    all_ranked = all_ranked.withColumn("src_rank", F.row_number().over(w))

    # adaptive fill in ONE lazy pass: the within-count and the leftover fill
    # ranks are both window aggregates over the already-reduced candidate set
    # (<= top_k * overfetch rows), so no eager count() action and no
    # checkpoint — the whole merge stays part of the caller's single plan.
    # The unpartitioned windows are fine BECAUSE the input is quota-bounded;
    # this is not a pattern for unbounded inputs.
    n_within = F.sum(
        F.when(F.col("src_rank") <= quota, 1).otherwise(0)
    ).over(Window.partitionBy())
    remaining = F.greatest(F.lit(top_k) - n_within, F.lit(0))
    # per-source leftover bookkeeping, all as window expressions (no split):
    # has_leftover per source; dense_rank over (has_leftover desc, source asc)
    # indexes the sources WITH leftovers 1..n in name order; the global max of
    # that index over leftover sources is n_sources_with_remaining
    src_w = Window.partitionBy("source")
    has_leftover = F.max(
        F.when(F.col("src_rank") > quota, 1).otherwise(0)
    ).over(src_w)
    idx_w = Window.partitionBy().orderBy(
        F.when(F.col("_has_lo") == 1, 0).otherwise(1), F.col("source").asc())
    stage = (all_ranked.withColumn("_has_lo", has_leftover)
             .withColumn("_src_i", F.dense_rank().over(idx_w)))
    n_srcs = F.max(F.when(F.col("_has_lo") == 1, F.col("_src_i"))
                   .otherwise(0)).over(Window.partitionBy())
    slots = (F.floor(remaining / F.greatest(n_srcs, F.lit(1)))
             + F.when(F.col("_src_i") <= remaining % F.greatest(n_srcs, F.lit(1)), 1)
             .otherwise(0))
    merged = (
        stage
        .withColumn("_keep",
                    (F.col("src_rank") <= quota)
                    | ((F.col("_has_lo") == 1)
                       & ((F.col("src_rank") - F.lit(quota)) <= slots)))
        .filter(F.col("_keep"))
        .drop("_keep", "_has_lo", "_src_i")
    )
    # dedup by id keeping best score (R1), deterministic
    w_best = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("source").asc())
    return (
        merged.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("id", "score", "source")
    )


def overfetch_k(top_k: int) -> int:
    """R5 (memory/memory_graph.py:6102-6104): vector_top_k = top_k * 3."""
    return top_k * VECTOR_OVERFETCH_FACTOR


def tier1_ranked(memories: DataFrame, max_items: int,
                 id_col: str = "memory_id") -> DataFrame:
    """R8 tier-1 ranked memories (services/memory_management.py:4025-4170).

    Expects counter columns cache_hit_total/cache_hit_ema_30d/
    cache_confidence_weighted_30d and citation_* twins.  Pure column expressions;
    the sort + cap is a TakeOrdered, not a full sort.
    """
    cache = tier1_cache_score(
        F.col("cache_hit_total"), F.col("cache_hit_ema_30d"),
        F.col("cache_confidence_weighted_30d"),
    )
    cite = tier1_cite_score(
        F.col("citation_hit_total"), F.col("citation_hit_ema_30d"),
        F.col("citation_confidence_weighted_30d"),
    )
    # reference: has_cite = (z_tot > 0) or (z_ema > 0) or (z_cw > 0.0)
    # (memory_management.py:4137) — a zero hit-total with nonzero EMA or
    # confidence still routes through the citation-weighted fuse
    has_cite = (
        (F.coalesce(F.col("citation_hit_total"), F.lit(0.0)) > 0)
        | (F.coalesce(F.col("citation_hit_ema_30d"), F.lit(0.0)) > 0)
        | (F.coalesce(F.col("citation_confidence_weighted_30d"), F.lit(0.0)) > 0)
    )
    return (
        memories.withColumn("score_cache", cache)
        .withColumn("score_cite", cite)
        .withColumn("final_score", tier1_final_score(F.col("score_cache"), F.col("score_cite"), has_cite))
        .orderBy(F.col("final_score").desc(), F.col(id_col).asc())
        .limit(max_items)
    )


def ema_counters(events: DataFrame, key_col: str, ts_col: str = "ts",
                 ref_ts: Column | None = None, weight: Column | None = None,
                 half_life_days: float = 30.0) -> DataFrame:
    """R9 batch-replay EMA: per key, sum of 0.5^((ref-ts)/half_life) (+optional
    confidence weights) — services/memory_management.py:3177-3342.  One shuffle,
    map-side partial aggregation.

    ``ref_ts`` defaults to now(): the earlier ``F.lit(None)`` default made
    delta_days NULL and silently returned NULL ema/ema_weighted for every
    key (round-5 review finding).  Oracle-checked callers pass an explicit
    literal reference time for determinism."""
    ref = ref_ts if ref_ts is not None else F.current_timestamp()
    return events.groupBy(key_col).agg(
        F.sum(decayed_hit_sum(F.col(ts_col), ref, F.lit(1.0), half_life_days)).alias("ema"),
        F.sum(
            decayed_hit_sum(F.col(ts_col), ref, weight if weight is not None else F.lit(1.0),
                            half_life_days)
        ).alias("ema_weighted"),
        F.count("*").cast("double").alias("hit_total"),
    )


def windowed_counts(logs: DataFrame, key_col: str, ts_col: str, days: int,
                    ref_ts: Column, limit: int = RETRIEVAL_COUNT_LIMIT) -> DataFrame:
    """R11 (services/memory_management.py:3675-3784): per-key event counts over
    the trailing N days, capped at `limit` keys (top by count desc, key asc)."""
    cutoff = ref_ts - F.expr(f"INTERVAL {days} DAYS")
    return (
        logs.filter(F.col(ts_col) >= cutoff)
        .groupBy(key_col)
        .agg(F.count("*").alias("retrieval_count"))
        .orderBy(F.col("retrieval_count").desc(), F.col(key_col).asc())
        .limit(limit)
    )


def trim_content(df: DataFrame, content_col: str = "content",
                 n_chars: int = 600) -> DataFrame:
    """R14 (memory/memory_graph.py:5175-5212): cap content at 600 chars."""
    return df.withColumn(content_col, F.substring(F.col(content_col), 1, n_chars))


def source_annotation(ids: DataFrame, presence: dict[str, DataFrame],
                      id_col: str = "id") -> DataFrame:
    """R15 (memory/memory_graph.py:6766-6808): per id, boolean presence flags per
    source — left-join booleans."""
    out = ids
    for name, df in sorted(presence.items()):
        flag = df.select(F.col(id_col)).distinct().withColumn(f"in_{name}", F.lit(True))
        out = out.join(flag, id_col, "left").withColumn(
            f"in_{name}", F.coalesce(F.col(f"in_{name}"), F.lit(False))
        )
    return out
