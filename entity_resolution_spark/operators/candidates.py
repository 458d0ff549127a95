"""Stage 2 — candidate-pair generation from the blocking index.

Replaces the reference's exhaustive nested-loop cross product
(/root/reference/src/entity_resolution/entity_resolution.py:326-344) with a
blocked equi self-join (SURVEY.md §2.3 J1) plus explicit skew handling
(north_rule: "salted repartition on hot keys"). The skew ladder lives in
one function, :func:`capped_block_pairs`, shared by the pipeline's
``candidate_pairs`` and every band-keyed dedup operator
(operators/dedup.py):

- **small blocks** (size <= max_block_size): direct self-join on the key
  with ``left_id < right_id``; AQE skew-join is the backstop.
- **hot blocks** (size <= drop_limit): *triangular tile decomposition* —
  members are salted into g groups (g = ceil(size/max_block_size),
  capped), each row is replicated to the g tiles containing its salt, and
  the join runs per (key, tile_i, tile_j). Every unordered pair lands in
  exactly one tile: distinct-salt pairs in tile (min,max); same-salt pairs
  kept only in the diagonal tile. This bounds the largest join partition
  at ~2·size/g rows instead of size, so a single vendored-file block can
  no longer serialize one executor.
- **per-block pair budget**: a hot block whose implied pair count exceeds
  the budget keeps a deterministic 1-in-K hash sample of its pairs
  (recall knob; ``hot_block_sampling`` logs the kept fraction).
- **pathological blocks** (size > drop_limit): stop-key removal — the key
  is dropped and LOGGED to the metrics frame (no silent truncation,
  SURVEY.md §4.2). At 100 TB these are empty files / boilerplate whose
  members are still paired through their other, more selective keys.

Pairs generated by multiple key families are deduplicated with a
``groupBy(left, right)`` keeping the lexicographically smallest block key
(deterministic provenance for the "at the same blocking key" metric).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig


def block_census(blocks: DataFrame, key: str = "block_key") -> DataFrame:
    """(key, block_size) by hash-aggregate — the one census behind the skew
    ladder, its stop-key / sampling logs and the block-size metrics.

    Joined back (never a count-over-window): the window form sorts each
    block in one task, so the very stop-keys the census exists to drop
    (10^8-member boilerplate keys) would straggle in the sort BEFORE the
    drop filter could remove them. The census is map-side combined to
    ~one row per key; the join back streams."""
    return blocks.groupBy(key).agg(F.count("*").alias("block_size"))


def _est_pairs() -> Column:
    """Implied unordered pair count of a census row's block."""
    return (F.col("block_size") * (F.col("block_size") - 1) / 2).cast("long")


def _budget_k(max_pairs_per_block: int) -> Column:
    """Per-block thinning divisor K: a block keeps 1 in K of its pairs so
    its implied pair count lands at ~the budget (K = 1 below it)."""
    return F.greatest(F.lit(1), F.ceil(_est_pairs() / max_pairs_per_block)).cast("long")


def capped_block_pairs(
    exploded: DataFrame,
    payload_cols: list[str],
    max_block_size: int = 2000,
    max_salt_groups: int = 64,
    drop_limit: int = 100_000,
    max_pairs_per_block: int = 10_000_000,
) -> DataFrame:
    """Skew-safe self-join of an inverted index (the ladder in the module
    docstring).

    ``exploded(bk, id, *payload_cols)`` -> ``(bk, left_id, right_id,
    l_<p>, r_<p>)`` with left_id < right_id, one row per (key, pair);
    payload columns ride the join so no join-back to the corpus is needed.
    """
    sized = exploded.join(block_census(exploded, "bk").hint("shuffle_hash"), "bk")

    small = sized.filter(
        (F.col("block_size") > 1) & (F.col("block_size") <= max_block_size)
    ).drop("block_size")
    # corpus-sized self-join: force a shuffle join — broadcasting the block
    # index is never right (it IS the corpus), and both sides share the
    # key partitioning so the exchange is reused
    a = small.select(
        "bk",
        F.col("id").alias("left_id"),
        *[F.col(c).alias(f"l_{c}") for c in payload_cols],
    )
    b = small.hint("shuffle_hash").select(
        "bk",
        F.col("id").alias("right_id"),
        *[F.col(c).alias(f"r_{c}") for c in payload_cols],
    )
    small_pairs = a.join(b, "bk").where(F.col("left_id") < F.col("right_id"))

    hot = sized.filter(
        (F.col("block_size") > max_block_size) & (F.col("block_size") <= drop_limit)
    )
    g = F.least(
        F.lit(max_salt_groups),
        F.ceil(F.col("block_size") / max_block_size).cast("int"),
    )
    salted = hot.select(
        "bk",
        "id",
        *payload_cols,
        g.alias("g"),
        F.pmod(F.xxhash64(F.col("id")), g).cast("int").alias("salt"),
        _budget_k(max_pairs_per_block).alias("__k"),
    )
    tiled = (
        salted.select(
            "bk", "id", *payload_cols, "salt", "__k",
            F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("t"),
        )
        .select(
            "bk", "id", *payload_cols, "salt", "__k",
            F.least("salt", "t").alias("ti"),
            F.greatest("salt", "t").alias("tj"),
        )
        .dropDuplicates(["bk", "id", "ti", "tj"])
    )
    ta, tb = tiled.alias("a"), tiled.hint("shuffle_hash").alias("b")
    hot_pairs = (
        ta.join(tb, ["bk", "ti", "tj"])
        .where(F.col("a.id") < F.col("b.id"))
        # same-salt pairs co-occur in every tile touching their salt: keep
        # them only in the diagonal tile so each pair is emitted once
        .where((F.col("a.salt") != F.col("b.salt")) | (F.col("ti") == F.col("tj")))
        # per-block budget: deterministic 1-in-K hash sample (K from the
        # census upstream — the filter rides the join output, no extra
        # shuffle)
        .where(F.pmod(F.xxhash64(F.col("a.id"), F.col("b.id")), F.col("a.__k")) == 0)
        .select(
            "bk",
            F.col("a.id").alias("left_id"),
            F.col("b.id").alias("right_id"),
            *[F.col(f"a.{c}").alias(f"l_{c}") for c in payload_cols],
            *[F.col(f"b.{c}").alias(f"r_{c}") for c in payload_cols],
        )
    )
    return small_pairs.unionByName(hot_pairs)


def candidate_pairs(blocks: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """blocks: (block_key, file_id) -> (left_id, right_id, block_key).

    One narrow shuffle for the census + size join (both keyed on block_key,
    so the exchange is reused by the self-joins), one for the final pair
    dedup.
    """
    cfg = cfg or PipelineConfig()
    pairs = capped_block_pairs(
        blocks.select(F.col("block_key").alias("bk"), F.col("file_id").alias("id")),
        [],
        max_block_size=cfg.max_block_size,
        max_salt_groups=cfg.max_salt_groups,
        drop_limit=cfg.block_key_drop_limit,
        max_pairs_per_block=cfg.max_pairs_per_hot_block,
    )
    return pairs.groupBy("left_id", "right_id").agg(F.min("bk").alias("block_key"))


def dropped_block_keys(blocks: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Stop-keys removed from candidate generation — surfaced, not silent."""
    cfg = cfg or PipelineConfig()
    return block_census(blocks).filter(F.col("block_size") > cfg.block_key_drop_limit)


def hot_block_sampling(blocks: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Blocks whose candidate pairs were hash-thinned by the per-block
    budget, with their kept fraction — the no-silent-truncation log."""
    cfg = cfg or PipelineConfig()
    return (
        # only blocks that actually reach the tiled path: keys above the
        # drop limit generate zero pairs (they're in dropped_block_keys)
        block_census(blocks).filter(
            (F.col("block_size") > cfg.max_block_size)
            & (F.col("block_size") <= cfg.block_key_drop_limit)
        )
        .withColumn("est_pairs", _est_pairs())
        .withColumn("kept_fraction", F.round(1.0 / _budget_k(cfg.max_pairs_per_hot_block), 6))
        .filter(F.col("kept_fraction") < 1.0)
    )
