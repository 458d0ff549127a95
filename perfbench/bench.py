"""One benchmark run: set-up, a closed loop of timed requests from one
client, correctness gates, and the result line's metrics.

Workloads (perfbench/README.md says why each exists):

* ``bulk``: the request is one batch ``resolve()`` of the workload's
  parquet input, from the read to materialized ``scored`` + ``clusters``,
  in a fresh session (the cost a batch job pays on every launch).
* ``lifecycle``: set-up resolves the corpus once into a fresh StageStore;
  the request is one round of the four lifecycle verbs, each applied to that
  same standing resolution: fold a delta, retract a deletion batch, apply
  reviewer verdicts, move the threshold below the default.

The traced run (``--trace 1``) is the same on both workloads: one untraced
``resolve()`` of the input (which becomes the standing resolution), then,
under spans, a stage-by-stage replay of the batch counterpart of one verb
and the four verbs; the replay and the verb must agree on the clusters.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import replace
from types import SimpleNamespace

import pandas as pd
from pyspark.sql import functions as F

from entity_resolution_spark.datagen import FILES_SCHEMA
from entity_resolution_spark.functions._lcs_native import get_lib
from entity_resolution_spark.plans.incremental import resolve_incremental
from entity_resolution_spark.plans.pipeline import resolve
from entity_resolution_spark.plans.rethreshold import rethreshold_clusters
from entity_resolution_spark.plans.retraction import retract_and_repair
from entity_resolution_spark.plans.reviews import apply_review_decisions
from entity_resolution_spark.session import get_spark
from entity_resolution_spark.sources.io import StageStore
from entity_resolution_spark.sources.readers import read_repo_files

from . import checks, corpus
from .trace import Tracer, kernel_rates, layer_metrics, traced_resolve

UNITS = {"setup_s": "s", "request_s": "s", "pairwise_f1": "ratio"}
# the input of each verb's batch counterpart; the traced run with seed s
# checks EQUIVALENCE[s % 4], and "repeat" re-resolves the input (determinism)
BATCH_INPUT = {"fold": "union", "retract": "survivors", "rethreshold": "files", "repeat": "files"}
EQUIVALENCE = tuple(BATCH_INPUT)
VERB_SPANS = {
    "fold": "incremental.resolve_incremental",
    "retract": "retraction.retract_and_repair",
    "review": "reviews.apply_review_decisions",
    "rethreshold": "rethreshold.rethreshold_clusters",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    def gate(self, ok: bool, what: str) -> None:
        """A failed correctness check fails the operation it checked."""
        if not ok:
            self.failed += 1
            log(f"GATE FAILED: {what}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, name: str):
        return read_repo_files(self.spark, self.path("input", name))

    # -- set-up -------------------------------------------------------------

    def setup(self, inputs: tuple[str, ...], build_prior: bool) -> float:
        """Session start, native-kernel load and input generation; with
        ``build_prior``, also the standing resolution every lifecycle verb
        is applied to, built into a fresh StageStore so it never resumes.
        The prior build is the session's first resolve(), so it is also
        the warm-up for the verbs. Returns the set-up seconds; the gates on
        the prior run afterwards, untimed."""
        t0 = time.perf_counter()
        self.spark = spark = get_spark(
            "perfbench",
            cores=len(os.sched_getaffinity(0)),
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        t_session = time.perf_counter()
        self.native = get_lib() is not None
        t_native = time.perf_counter()

        c = self.corpus = corpus.build(self.workload, self.seed)
        self.cfg = c.cfg
        delta = corpus.fold_delta(c, self.seed)
        self.deleted_ids = corpus.retract_ids(c, self.seed)
        frames = {
            "files": lambda: c.files,
            "delta": lambda: delta,
            "union": lambda: pd.concat([c.files, delta], ignore_index=True),
            "survivors": lambda: c.files[~c.files["file_id"].isin(self.deleted_ids)],
        }
        for name in inputs:
            spark.createDataFrame(frames[name](), FILES_SCHEMA).write.parquet(self.path("input", name))
        t_input = time.perf_counter()
        self.layer.update(
            {
                "session.get_spark_s": t_session - t0,
                "functions.native_load_s": t_native - t_session,
                "sources.write_input_s": t_input - t_native,
            }
        )
        self.attempted += 1  # set-up is the run's first operation
        if build_prior:
            prior = resolve(self.read("files"), self.cfg, store=StageStore(self.path("store")))
            clusters = self.adopt_prior(prior.features, prior.scored, prior.clusters)
            self.layer["pipeline.prior_build_s"] = time.perf_counter() - t_input
        setup_s = time.perf_counter() - t0
        self.gate(self.native, "native LCS/JW kernel did not load (Python fallback is ~8x slower)")
        self.check_properties()
        if build_prior:
            self.check_resolution(self.prior.features, clusters)
            self.draw_verdicts()
        return setup_s

    def check_properties(self) -> None:
        """Assert that the input still has the shape its workload exists
        for: on lifecycle a path block above the tiling cap and one content
        repeated BOILERPLATE_COPIES times; on bulk no block at the cap."""
        prop = corpus.properties(self.corpus)
        log("workload properties: " + ", ".join(f"{k} {v:.4g}" for k, v in prop.items()))
        if self.workload == "lifecycle":
            self.gate(prop["max_path_block_over_cap"] > 1, "lifecycle: no path block above the tiling cap")
            self.gate(
                prop["top_digest_copies"] >= corpus.BOILERPLATE_COPIES,
                "lifecycle: the boilerplate sha group is missing",
            )
        else:
            self.gate(prop["max_path_block_over_cap"] < 1, "bulk: a path block reaches the tiling cap")

    def adopt_prior(self, features, scored, clusters):
        """Make (features, scored, clusters) the standing resolution; returns
        its clusters, materialized."""
        self.prior = SimpleNamespace(features=features, scored=scored, clusters=clusters)
        cached, self.prior_fp = checks.materialize(clusters)
        return cached

    def draw_verdicts(self) -> None:
        """The review request's verdicts, drawn from the prior's scored pairs."""
        scored = self.prior.scored.select("left_id", "right_id", "score").toPandas()
        self.verdict_pdf = corpus.review_verdicts(scored, self.seed, self.cfg.similarity_threshold)

    def check_resolution(self, features, clusters) -> None:
        """Untimed gates on one resolve() result: the per-row sha256
        invariant and pairwise F1 on the labeled pairs."""
        bad = checks.sha_mismatches(features)
        self.gate(bad == 0, f"{bad} rows with content_sha256 != sha256(content)")
        self.f1 = checks.pairwise_f1(clusters.toPandas(), self.corpus.labels)
        self.gate(self.f1 >= checks.F1_FLOOR, f"pairwise F1 {self.f1:.4f} < {checks.F1_FLOOR}")

    # -- requests -----------------------------------------------------------

    def _timed(self, thunk, tracer: Tracer, span: str):
        """One call with fresh state: resolve() leaves frames persisted, so
        cached frames from earlier calls are dropped first. Its cluster
        frame is materialized inside the timed region."""
        self.spark.catalog.clearCache()
        self.attempted += 1
        tracer.request += 1
        t = time.perf_counter()
        with tracer.span(span):
            result = thunk()
            clusters, fp = checks.materialize(result.clusters)
        return result, clusters, fp, time.perf_counter() - t

    def resolve_request(self, tracer: Tracer) -> float:
        res, clusters, fp, dt = self._timed(
            lambda: resolve(self.read("files"), self.cfg), tracer, "pipeline.resolve"
        )
        self.check_resolution(res.features, clusters)
        log(f"resolve: {dt:.2f} s, clusters fingerprint {fp}")
        return dt

    def lifecycle_round(self, tracer: Tracer) -> dict:
        """fold, retract, review, re-threshold: each applied to the same
        standing resolution, each timed with fresh state."""
        spark, cfg, p = self.spark, self.cfg, self.prior
        deleted = spark.createDataFrame([(i,) for i in self.deleted_ids], "file_id long")
        verdict_pdf = self.verdict_pdf
        verdicts = spark.createDataFrame(verdict_pdf, "left_id long, right_id long, decision string")
        calls = [
            ("fold", lambda: resolve_incremental(p.features, p.clusters, self.read("delta"), cfg)),
            ("retract", lambda: retract_and_repair(p.features, p.clusters, p.scored, deleted, cfg)),
            ("review", lambda: apply_review_decisions(p.features, p.clusters, p.scored, verdicts, cfg)),
            ("rethreshold", lambda: rethreshold_clusters(p.features, p.scored, corpus.RETHRESHOLD, cfg)),
        ]
        out: dict = {"seconds": 0.0}
        for name, call in calls:
            res, clusters, fp, dt = self._timed(call, tracer, VERB_SPANS[name])
            out[name], out[f"{name}_metrics"], out[f"{name}_s"] = fp, res.metrics, dt
            out["seconds"] += dt
            if name == "review":
                must = verdict_pdf[verdict_pdf["decision"] == "match"]
                self.gate(checks.co_clustered(clusters, must), "review: a 'match' verdict left its pair apart")
        log("lifecycle round: " + ", ".join(f"{n} {out[f'{n}_s']:.2f} s" for n, _ in calls))
        return out

    # -- runs -----------------------------------------------------------------

    def run(self, seconds: float, trace: bool) -> dict:
        if trace:
            return self.traced_run()
        lifecycle = self.workload == "lifecycle"
        setup_s = self.setup(("files", "delta") if lifecycle else ("files",), build_prior=lifecycle)
        lat, fps = [], []
        t0 = time.perf_counter()
        if not lifecycle:
            # the bulk request is a batch job's first resolve() in its
            # session; a second call in the same session would be a
            # different (warm) request, so a run makes exactly one
            lat.append(self.resolve_request(Tracer()))
        # closed loop, one client: one round at least, another only while
        # it is expected to end within the run's seconds
        while lifecycle and (not lat or time.perf_counter() - t0 + lat[-1] <= seconds):
            out = self.lifecycle_round(Tracer())
            lat.append(out["seconds"])
            fps.append({k: v for k, v in out.items() if isinstance(v, tuple)})
        # a repeated request against the same prior must assign the same clusters
        self.gate(all(f == fps[0] for f in fps), "lifecycle: repeated rounds assign different clusters")
        log(f"request_s: median {statistics.median(lat):.3f} s, max {max(lat):.3f} s, n={len(lat)}")
        metrics = {"setup_s": setup_s, "request_s": statistics.median(lat), "pairwise_f1": self.f1}
        return {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}

    def traced_run(self) -> dict:
        """Per-layer metrics. The batch request runs untraced (it is also
        the standing resolution the verbs are applied to); its batch
        counterpart of one verb is then replayed stage by stage under
        spans, and the verbs run under spans. Tracing adds only the span
        bookkeeping, which is timed directly (``tracing.*``)."""
        check = EQUIVALENCE[self.seed % len(EQUIVALENCE)]
        self.setup(tuple(dict.fromkeys(("files", "delta", BATCH_INPUT[check]))), build_prior=False)
        spark, cfg = self.spark, self.cfg
        batch_cfg = replace(cfg, similarity_threshold=corpus.RETHRESHOLD) if check == "rethreshold" else cfg
        m = dict(self.layer)

        def batch():
            res = resolve(self.read("files"), cfg)
            # frames resolve() leaves cached (before the benchmark caches any)
            m["pipeline.persisted_after"] = float(spark.sparkContext._jsc.getPersistentRDDs().size())
            return res

        counter = Tracer(spark)
        res, clusters, batch_fp, resolve_s = self._timed(batch, counter, "resolve")
        for kind in ("jobs", "stages", "tasks"):
            m[f"pipeline.resolve_spark_{kind}"] = float(counter.spans[0][kind])
        stage_s = {r["stage"]: r["value"] for r in res.metrics.filter("metric = 'seconds'").collect()}
        self.check_resolution(res.features, clusters)
        store = StageStore(self.path("store"))
        for stage, frame in (("features", res.features), ("scored", res.scored), ("clusters", clusters)):
            store.write(stage, frame)

        tracer = Tracer(spark)
        with tracer.span("sources.stage_store_read"):
            prior = [store.read(spark, stage) for stage in ("features", "scored", "clusters")]
            for frame in prior:
                frame.count()
        self.adopt_prior(*prior)
        self.draw_verdicts()
        with tracer.span("sources.read_repo_files"):
            self.read("files").count()
        spark.catalog.clearCache()
        self.attempted += 1
        tracer.request += 1
        replica = traced_resolve(spark, self.read(BATCH_INPUT[check]), batch_cfg, tracer)
        # counts come from the replica's persisted frames: take them before
        # the verbs' fresh-state clears drop the cache
        m.update(layer_metrics(replica, batch_cfg, self.corpus.labels))
        m.update(kernel_rates(replica, cfg, self.seed))
        verbs = self.lifecycle_round(tracer)
        # the replica runs the stage functions resolve() runs: on "repeat" it
        # must reproduce the untraced resolve(), otherwise the verb's result
        expect = {
            "fold": verbs["fold"],
            "retract": verbs["retract"],
            "rethreshold": verbs["rethreshold"],
            "repeat": batch_fp,
        }[check]
        self.gate(replica.fingerprint == expect, f"{check}: clusters differ from the batch replica over the same corpus")
        log(f"equivalence checked: {check} (threshold {batch_cfg.similarity_threshold})")

        m.update({f"{name}_s": tracer.duration(name) for name in {s["name"] for s in tracer.spans}})
        m["scoring.pairs_per_s"] = m["candidates.pairs"] / (m["scoring.p1_fill_s"] + m["scoring.phase2_s"])

        stages = ("features", "exact_collapse", "candidates", "scoring_p1_fill", "scoring", "clustering", "metrics")
        total = sum(stage_s.values())
        for stage in stages:
            m[f"pipeline.stage.{stage}_s"] = stage_s.get(stage, 0.0)
        m["pipeline.stage.phase2_share"] = stage_s.get("scoring", 0.0) / total
        m["pipeline.stage.candidates_p1_share"] = (
            stage_s.get("candidates", 0.0) + stage_s.get("scoring_p1_fill", 0.0)
        ) / total
        m["pipeline.resolve_first_call_s"] = resolve_s
        m["pipeline.unattributed_s"] = resolve_s - total

        for key, layer, stage, metric in (
            ("fold_metrics", "incremental", "scoring", "scored_pairs"),
            ("fold_metrics", "incremental", "clustering", "affected_prior_clusters"),
            ("retract_metrics", "retraction", "retraction", "promoted_reps"),
            ("retract_metrics", "retraction", "retraction", "affected_prior_clusters"),
            ("review_metrics", "reviews", "review", "affected_prior_clusters"),
            ("rethreshold_metrics", "rethreshold", "rethreshold", "rescored_pairs"),
        ):
            rows = verbs[key].filter((F.col("stage") == stage) & (F.col("metric") == metric)).collect()
            m[f"{layer}.{metric}"] = float(rows[0]["value"]) if rows else 0.0
        for layer, counts in tracer.layer_counts().items():
            for kind, n in counts.items():
                m[f"{layer}.spark_{kind}"] = float(n)
        traced_s = sum(sp["end"] - sp["start"] for sp in tracer.spans if sp["parent"] is None)
        m["tracing.bookkeeping_s"] = tracer.bookkeeping_s
        m["tracing.overhead_frac"] = tracer.bookkeeping_s / (traced_s - tracer.bookkeeping_s)
        tracer.dump(os.path.join(os.path.dirname(self.work), f"trace-{self.workload}-{self.seed}.json"))
        return m
