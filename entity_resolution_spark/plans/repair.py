"""Affected-cluster repair: the one re-close behind the lifecycle verbs.

A fold (``resolve_incremental``), a retraction (``retract_and_repair``) or a
review (``apply_review_decisions``) touches a delta-bounded set of ids.
Connected components are closed under changes outside them, so only the
prior clusters holding a touched id can change; every other row keeps its
assignment verbatim. The repair has three parts:

- :func:`affected` partitions the prior clusters into the affected cluster
  ids, the unchanged rows and the affected clusters' members;
- :func:`member_evidence` replays the materialized evidence among the
  members — matched pairs from the scored lineage plus exact-duplicate
  star edges — never re-scored (pair scores are pair-local);
- :func:`reclose` re-closes: ``unchanged ∪ CC(edges) ∪ singletons``.

Every control frame is bounded by the delta x cluster sizes and broadcast;
the corpus is scanned, never shuffled. Callers hand :func:`reclose` edges
they have already materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.clustering import connected_components
from .pipeline import exact_duplicate_edges


def affected(
    prior_clusters: DataFrame, touched: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(aff_clusters, unchanged, members) for a ``touched`` (file_id) frame.

    aff_clusters: distinct ids of the prior clusters holding a touched
    row, checkpointed (every later step broadcasts it). unchanged: the
    (file_id, cluster_id) rows outside them — final as they are. members:
    the (file_id, cluster_id) rows inside them, lazy — each verb narrows
    it to the rows it re-closes and materializes that.
    """
    aff_clusters = (
        prior_clusters.join(F.broadcast(touched), "file_id", "left_semi")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    unchanged = prior_clusters.join(
        F.broadcast(aff_clusters), "cluster_id", "left_anti"
    ).select("file_id", "cluster_id")
    members = prior_clusters.join(
        F.broadcast(aff_clusters), "cluster_id", "left_semi"
    )
    return aff_clusters, unchanged, members


def member_evidence(
    prior_scored: DataFrame,
    features: DataFrame,
    members: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """(src, dst) evidence edges among ``members`` (file_id): prior matched
    pairs with both endpoints in the set, plus exact-duplicate star edges
    over the members' sha groups (representative = min member)."""
    near = (
        prior_scored.filter(F.col("score") >= cfg.similarity_threshold)
        .join(
            F.broadcast(members.withColumnRenamed("file_id", "left_id")),
            "left_id",
            "left_semi",
        )
        .join(
            F.broadcast(members.withColumnRenamed("file_id", "right_id")),
            "right_id",
            "left_semi",
        )
        .select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    )
    _, exact = exact_duplicate_edges(
        features.join(F.broadcast(members), "file_id", "left_semi")
    )
    return near.unionByName(exact)


def reclose(
    unchanged: DataFrame,
    edges: DataFrame,
    singles: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """``unchanged ∪ CC(edges) ∪ singletons``: rows of ``singles``
    (file_id) that no edge reaches keep their own id as cluster id."""
    components = connected_components(edges, cfg)
    singletons = singles.join(components, "file_id", "left_anti").select(
        "file_id", F.col("file_id").alias("cluster_id")
    )
    return unchanged.unionByName(components).unionByName(singletons)
