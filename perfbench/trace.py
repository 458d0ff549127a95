"""Spans recorded from the benchmark's side of each layer boundary.

A span is (name, start, end, parent, request); the layer is the part of
the name before the first dot. Every span runs under its own Spark job
group, so the jobs, stages and tasks Spark launched inside it are counted
through ``SparkStatusTracker`` (a nested span takes the group over while it
runs, so each span counts its own jobs only). Spans stay in memory and are
written out once, when the run ends.

The program itself is not instrumented: spans wrap calls into each layer's
public functions, in the order ``plans.pipeline.resolve()`` calls them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions._lcs_native import get_lib
from entity_resolution_spark.functions.minhash import batch_band_keys
from entity_resolution_spark.functions.similarity import batch_fuzz_ratio, batch_jaro_winkler
from entity_resolution_spark.operators.blocking import (
    exploded_blocks,
    with_block_keys,
    with_features,
)
from entity_resolution_spark.operators.candidates import candidate_pairs
from entity_resolution_spark.operators.clustering import assign_clusters, connected_components
from entity_resolution_spark.operators.scoring import ScoringContext, matched_edges, score_pairs
from entity_resolution_spark.plans.pipeline import _build_metrics, exact_duplicate_edges
from entity_resolution_spark.session import ensure_py_files
from entity_resolution_spark.sources.readers import validate_schema

from . import checks, corpus


class Tracer:
    """Span recorder. ``Tracer(None)`` is the untraced run's recorder: its
    spans cost one context-manager entry and record nothing."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = 0
        self.bookkeeping_s = 0.0  # time the tracer itself spent in span exits

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._group(self._stack[-1] if self._stack else None), "")
            rec.update(self._spark_counts(self._group(sid)))
            self.bookkeeping_s += time.perf_counter() - t

    def _group(self, sid: int | None) -> str:
        # unique per tracer: two tracers in one session never share a group
        return f"perfbench-{id(self):x}-{sid}"

    def _spark_counts(self, group: str) -> dict:
        # job/stage events reach the status store through the asynchronous
        # listener bus; drain it so the counts are complete (and repeat
        # exactly from run to run)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            jobs += 1
            for stage_id in info.stageIds if info else ():
                st = tracker.getStageInfo(stage_id)
                if st is not None and st.numCompletedTasks > 0:  # skipped stages run nothing
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, span: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def layer_counts(self) -> dict[str, dict[str, int]]:
        out: dict[str, dict[str, int]] = {}
        for s in self.spans:
            acc = out.setdefault(s["name"].split(".", 1)[0], {"jobs": 0, "stages": 0, "tasks": 0})
            for k in acc:
                acc[k] += s[k]
        return out

    def dump(self, path: str) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


@dataclass
class Replica:
    """Frames of a traced, stage-by-stage resolve() (all persisted)."""

    feat: DataFrame
    reps: DataFrame
    blocks: DataFrame
    pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    clusters: DataFrame
    fingerprint: tuple[int, int]


def traced_resolve(spark, files: DataFrame, cfg, tracer: Tracer) -> Replica:
    """resolve() without a StageStore, one span per stage: the same stage
    functions, called in resolve()'s order, forced at the same persist
    boundaries (the blocking index is forced on its own so block keys are
    timed apart from candidate generation)."""
    with tracer.span("pipeline.resolve"):
        ensure_py_files(spark)
        validate_schema(files)
        with tracer.span("blocking.with_features"):
            feat = with_features(files, cfg).persist()
            feat.count()
        with tracer.span("pipeline.exact_collapse"):
            reps, exact_edges = exact_duplicate_edges(feat)
            reps = reps.persist()
            reps.count()
        with tracer.span("blocking.block_keys"):
            blocks = (
                exploded_blocks(with_block_keys(reps, cfg))
                .filter(~F.col("block_key").startswith("sha:"))
                .persist()
            )
            blocks.count()
        with tracer.span("candidates.candidate_pairs"):
            pairs = candidate_pairs(blocks, cfg).persist()
            pairs.count()
        ctx = ScoringContext()
        with tracer.span("scoring.p1_fill"):
            scored = score_pairs(pairs, reps, cfg, ctx=ctx)
        with tracer.span("scoring.phase2"):
            scored = scored.persist()
            scored.count()
        ctx.release_phase1()
        edges = (
            matched_edges(scored, cfg)
            .select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
            .unionByName(exact_edges)
        )
        with tracer.span("clustering.connected_components"):
            components = connected_components(edges, cfg)
        with tracer.span("clustering.assign_clusters"):
            clusters, fp = checks.materialize(assign_clusters(feat, components))
        with tracer.span("pipeline.metrics"):
            _build_metrics(spark, files, pairs, scored, clusters, cfg, blocks=blocks)
    return Replica(feat, reps, blocks, pairs, scored, edges, clusters, fp)


def layer_metrics(rep: Replica, cfg, labels: pd.DataFrame) -> dict[str, float]:
    """Work counts and useful-outcome ratios of the batch layers, computed
    untimed from the replica's persisted frames."""
    feat = rep.feat.select(
        "file_id", "content_sha256", F.length("norm_content").alias("n_chars")
    ).toPandas()
    census = rep.blocks.groupBy("block_key").count().toPandas()
    pairs = rep.pairs.select("left_id", "right_id", "block_key").toPandas()
    scored = rep.scored.select("left_id", "right_id", "token_jaccard", "path_jw", "score").toPandas()
    clusters = rep.clusters.toPandas()
    n_rows, n_reps = len(feat), rep.reps.count()

    hot_keys = set(census.loc[census["count"] > cfg.max_block_size, "block_key"])
    sha_copies = feat.groupby("content_sha256")["file_id"].count()

    # a labeled positive is covered if blocking made it a candidate or the
    # exact-duplicate collapse joined it (non-representatives never pair)
    sha_of = dict(zip(feat["file_id"], feat["content_sha256"]))
    cand = set(zip(pairs["left_id"], pairs["right_id"]))
    pos = labels[
        labels["is_match"].astype(bool)
        & labels["left_id"].isin(sha_of)
        & labels["right_id"].isin(sha_of)
    ]
    covered = sum(
        (min(a, b), max(a, b)) in cand or sha_of.get(a) == sha_of.get(b)
        for a, b in zip(pos["left_id"], pos["right_id"])
    )

    # phase-1 survivors, recomputed with scoring's own bound arithmetic:
    # bound = w_c * 200*min(n_l,n_r)/(n_l+n_r) + base_score
    n_of = dict(zip(feat["file_id"], feat["n_chars"]))
    n_l = scored["left_id"].map(n_of).to_numpy(dtype=np.float64)
    n_r = scored["right_id"].map(n_of).to_numpy(dtype=np.float64)
    both = (n_l > 0) & (n_r > 0)
    ub = np.where(both, 200.0 * np.minimum(n_l, n_r) / np.where(both, n_l + n_r, 1.0), 0.0)
    base = (cfg.w_jaccard * 100.0) * scored["token_jaccard"].to_numpy() + (
        cfg.w_path * 100.0
    ) * scored["path_jw"].to_numpy()
    surv = cfg.w_content * ub + base >= cfg.similarity_threshold - cfg.w_content * 0.5
    matched = scored["score"].to_numpy() >= cfg.similarity_threshold
    cap = cfg.lev_max_chars
    lcs_cells = float(np.sum(np.minimum(n_l, cap)[surv] * np.minimum(n_r, cap)[surv]))
    n_pairs, n_surv = len(pairs), int(surv.sum())
    comp_sizes = clusters.groupby("cluster_id")["file_id"].count()
    return {
        "blocking.index_rows": float(census["count"].sum()),
        "blocking.blocks": float(len(census)),
        "blocking.max_block": float(census["count"].max()),
        "blocking.max_block_over_cap": float(census["count"].max()) / cfg.max_block_size,
        "blocking.hot_blocks": float(len(hot_keys)),
        "blocking.dropped_keys": float((census["count"] > cfg.block_key_drop_limit).sum()),
        "pipeline.rows": float(n_rows),
        "pipeline.reps": float(n_reps),
        "pipeline.collapse_ratio": n_reps / n_rows,
        "pipeline.top_digest_copies": float(sha_copies.max()),
        "candidates.pairs": float(n_pairs),
        "candidates.hot_block_pairs": float(pairs["block_key"].isin(hot_keys).sum()),
        "candidates.hot_block_pair_frac": float(pairs["block_key"].isin(hot_keys).mean()),
        "candidates.pair_completeness": covered / len(pos) if len(pos) else 1.0,
        "candidates.match_yield": float(matched.sum()) / n_pairs if n_pairs else 0.0,
        "scoring.survivors": float(n_surv),
        "scoring.survivor_frac": n_surv / n_pairs if n_pairs else 0.0,
        "scoring.match_per_survivor": float(matched.sum()) / n_surv if n_surv else 0.0,
        "scoring.lcs_cells": lcs_cells,
        "clustering.edges": float(rep.edges.count()),
        "clustering.components": float((comp_sizes > 1).sum()),
        "clustering.max_component": float(comp_sizes.max()),
    }


def kernel_rates(rep: Replica, cfg, seed: int, sample: int = 256) -> dict[str, float]:
    """Driver-side throughput of the scoring and blocking kernels on
    operands drawn from this workload's own candidate pairs."""
    rng = corpus.stream(seed, 7)
    pairs = rep.pairs.select("left_id", "right_id").toPandas()
    pick = pairs.iloc[rng.choice(len(pairs), min(sample, len(pairs)), replace=False)]
    ids = sorted(set(pick["left_id"]) | set(pick["right_id"]))
    text = rep.feat.filter(F.col("file_id").isin(ids)).select(
        "file_id", "basename", F.substring("norm_content", 1, cfg.lev_max_chars).alias("doc")
    ).toPandas().set_index("file_id")
    l_doc = text.loc[pick["left_id"], "doc"].reset_index(drop=True)
    r_doc = text.loc[pick["right_id"], "doc"].reset_index(drop=True)
    l_base = text.loc[pick["left_id"], "basename"].reset_index(drop=True)
    r_base = text.loc[pick["right_id"], "basename"].reset_index(drop=True)
    docs = text["doc"].reset_index(drop=True)
    return {
        "functions.fuzz_ratio_pairs_per_s": _rate(lambda: batch_fuzz_ratio(l_doc, r_doc), len(l_doc)),
        "functions.jaro_winkler_pairs_per_s": _rate(
            lambda: batch_jaro_winkler(l_base, r_base), len(l_base)
        ),
        "functions.band_keys_docs_per_s": _rate(
            lambda: batch_band_keys(docs, cfg.minhash), len(docs)
        ),
        "functions.native_loaded": 1.0 if get_lib() is not None else 0.0,
    }


def _rate(fn, items: int, min_seconds: float = 0.3) -> float:
    """Items per second over repeated calls, at least min_seconds of work;
    the median of the per-call rates."""
    rates = []
    start = time.perf_counter()
    while time.perf_counter() - start < min_seconds or len(rates) < 3:
        t = time.perf_counter()
        fn()
        rates.append(items / (time.perf_counter() - t))
    return float(np.median(rates))
