"""End-to-end dedup pipeline: files → signatures → candidates → verified
pairs → clusters.

Stage graph (each stage a checkpointable DataFrame, SURVEY.md §7):

    files ──ingest──► ingested ──collapse exact dups──► reps
      reps ──pandas UDF──► signatures
      signatures ──LSH bands + SimHash chunks──► bucket pairs (buckets)
      bucket pairs ──MinHash estimate gate──► candidates
      candidates ──verify (cheap→expensive)──► pairs
      pairs(verified) ∪ exact_edges ──CC──► clusters

One graph, two cut backends. ``run_dedup`` is the only place the stage
sequence is written down; the caller picks where each stage cut lands:
an eager ``localCheckpoint`` (the default, in memory) or a
``plans.manifest.StageManifest`` (a durable parquet write, or a read
when the stage's done-marker already exists —
``run_dedup_resumable`` is the thin wrapper the spark-submit job uses).

The reference runs the analogous stages imperatively per benchmark
(twinspect/__main__.py:42-63); here each stage is a declarative plan and
Catalyst owns the physical strategy.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from twinspect_spark.config import DedupConfig
from twinspect_spark.ingest import ingest_files
from twinspect_spark.operators.buckets import unified_candidates
from twinspect_spark.operators.cc import cluster_with_members
from twinspect_spark.operators.exact import collapse_exact_dups
from twinspect_spark.operators.verify import (
    estimate_filter_candidates,
    verify_pairs,
)
from twinspect_spark.signatures import compute_signatures

if TYPE_CHECKING:
    from twinspect_spark.plans.manifest import StageManifest


@dataclass
class DedupResult:
    ingested: DataFrame
    signatures: DataFrame
    candidates: DataFrame
    pairs: DataFrame
    clusters: DataFrame
    stage_seconds: dict[str, float]


class _LocalCheckpoints:
    """The in-memory cut backend: nothing is ever cached, every cut is an
    eager ``localCheckpoint``. Same ``load``/``save`` surface as
    ``StageManifest``, the durable backend."""

    durable = False

    def load(self, stage: str) -> DataFrame | None:
        return None

    def save(self, stage: str, df: DataFrame) -> DataFrame:
        return df.localCheckpoint()  # eager: materializes the stage now


def run_dedup(
    files: DataFrame,
    cfg: DedupConfig | None = None,
    stage_hook=None,
    manifest: StageManifest | None = None,
) -> DedupResult:
    """Full pipeline over files(repo, path, commit, lang, content).

    Every stage boundary is a cut: downstream plans read the
    materialized result instead of inlining the upstream subtree. This
    is load-bearing twice over —
      * correctness of cost: one fused mega-plan re-executes shared
        subtrees (signatures feed 4 consumers; measured 172 s fused vs
        ~20 s staged at SF=0.1), and AQE only sees real row counts /
        sizes at materialized boundaries (broadcast decisions, skew
        splits);
      * with ``manifest`` the same cuts are durable parquet stages, so
        the production pipeline restarts from the nearest completed
        stage and a cached stage is never recomputed.

    ``stage_hook(stage)`` fires at each boundary, in order: ingest,
    signatures, buckets, candidates, verify, cluster (e.g. bench
    REST-metrics snapshots); ``stage_seconds`` holds the same six keys.
    """
    cfg = cfg or DedupConfig()
    cuts = manifest or _LocalCheckpoints()
    stage_seconds: dict[str, float] = {}
    t0 = time.perf_counter()

    def cut(stage: str, build) -> DataFrame:
        df = cuts.load(stage)
        return df if df is not None else cuts.save(stage, build())

    def done(stage: str) -> None:
        nonlocal t0
        stage_seconds[stage] = round(time.perf_counter() - t0, 2)
        if stage_hook is not None:
            stage_hook(stage)
        t0 = time.perf_counter()

    ingested = cut("ingested", lambda: ingest_files(files, cfg))
    reps, exact_edges = collapse_exact_dups(ingested)
    if not cuts.durable:
        # the exact-edge subtree (narrow groupBy(sha256) + join) is
        # consumed only by the cluster stage; left lazy it re-executes
        # THERE, inflating the near-fixed cluster cut that the scaling
        # composite is most sensitive to (round-4 floors: cluster 6.9 s
        # local[2] / 5.3 s local[8]). Materialize it here, inside the
        # ingest+exact-collapse stage window, where its cost belongs.
        # A durable run leaves it lazy: a resume whose clusters stage
        # is cached never needs it.
        exact_edges = exact_edges.localCheckpoint()
    done("ingest")

    # The in-memory signatures cut stays a ROW-format localCheckpoint,
    # measured (round 3, 1M files, local[8], best-of-2): the
    # bucket-explode consumer reads ALL the wide columns and pays
    # columnar-cache decode + GC dearly — capped_bucket_table over
    # checkpoint rows 33.3 s vs 43.0 s over a compressed
    # InMemoryRelation (156 s of GC in the full candbench) and 81.9 s
    # uncompressed (spills). The cache's column-pruning upside for the
    # estimate stage's narrow joins is captured instead by a narrow
    # side-checkpoint inside estimate_filter_candidates(materialize=True)
    # — in memory only: parquet scans already prune columns, and the
    # bucketed signatures table keeps the estimate joins Exchange-free.
    signatures = cut("signatures", lambda: compute_signatures(reps, cfg))
    done("signatures")

    # LSH bands and SimHash chunks generate candidates through ONE
    # unified bucket self-join (operators/buckets.py) — one sizes
    # aggregation, one cap, one join, one SO3 pair-dedupe — instead of
    # two parallel shuffle chains. Pair-dedup happens BEFORE the
    # MinHash-estimate filter joins signature arrays onto distinct pairs
    # (see estimate_filter_candidates for the cost asymmetry), so only
    # est-filtered survivors are materialized. The packed MinHash prefix
    # gate runs inside the bucket self-join, so the estimate filter
    # skips its redundant HOF gate (pre_gated). The capped bucket table
    # materializes eagerly inside unified_candidates — the buckets
    # boundary attributes it, or it vanishes from the stage table while
    # still inflating wall (round-3 lesson). A cached candidates stage
    # skips both.
    candidates = cuts.load("candidates")
    deduped = (
        unified_candidates(signatures, cfg) if candidates is None else None
    )
    done("buckets")
    if candidates is None:
        candidates = cuts.save(
            "candidates",
            estimate_filter_candidates(
                deduped, signatures, cfg, pre_gated=True,
                materialize=not cuts.durable,
            ),
        )
    done("candidates")

    pairs = cut("pairs", lambda: verify_pairs(candidates, ingested, cfg))
    done("verify")

    # CC runs on the REPRESENTATIVE graph only (pair edges are rep-to-rep
    # by construction); exact-dup members then inherit their rep's label
    # through one join. Feeding the exact star edges into CC instead
    # would re-derive already-known components through the iterative
    # loop — measured as the dominant cluster-stage cost on dup-heavy
    # corpora. Component minima are unchanged: each rep is the min of
    # its exact group, so min-over-reps == min-over-all-members.
    # Vertices come from the signatures cut, not the lazy `reps`
    # relation — reps re-derives the groupBy(sha256)+join subtree on
    # every consumer; signatures holds exactly one row per
    # representative and is already materialized.
    clusters = cuts.load("clusters")
    if clusters is None:
        clusters, driver_built = cluster_with_members(
            pairs.where("verified").select("a", "b"),
            vertices=signatures.select("file_id"),
            exact_edges=exact_edges,
        )
        # a driver-built cluster frame has no upstream lineage — a
        # localCheckpoint would only re-serialize 260k driver rows
        # through parallelize (measured ~1.4-3.0 s, level-independent);
        # a durable run persists it either way
        if cuts.durable or not driver_built:
            clusters = cuts.save("clusters", clusters)
    done("cluster")
    return DedupResult(
        ingested, signatures, candidates, pairs, clusters, stage_seconds
    )
