"""The one stage graph through both cut backends: in-memory
``localCheckpoint`` (``run_dedup``) and the durable parquet manifest
(``run_dedup_resumable``) must agree on clusters, verified pairs and the
per-stage record, also on degenerate corpora."""

from __future__ import annotations

import pytest

from twinspect_spark.config import DedupConfig
from twinspect_spark.corpus import generate_corpus
from twinspect_spark.pipeline import run_dedup
from twinspect_spark.plans.manifest import StageManifest, run_dedup_resumable

CFG = DedupConfig(jaccard_threshold=0.6)
HOOK_STAGES = ["ingest", "signatures", "buckets", "candidates", "verify",
               "cluster"]


def _clusters(res) -> dict[int, int]:
    return {r["file_id"]: r["cluster_id"] for r in res.clusters.collect()}


def _verified(res) -> set[tuple[int, int]]:
    return {
        (r["a"], r["b"])
        for r in res.pairs.where("verified").select("a", "b").collect()
    }


def _run(backend: str, spark, files, root: str):
    if backend == "memory":
        return run_dedup(files, CFG)
    res, _, _ = run_dedup_resumable(spark, files, CFG, root)
    return res


def _exact_copies():
    # every original plus one byte-identical copy elsewhere, no edits
    # and no distractors: exact edges only, no near-dup pair edges
    return generate_corpus(n_clusters=6, transforms_per_original=0,
                           n_distractors=0, n_exact_dups=6, seed=5).files


def _one_file():
    return _exact_copies().iloc[:1]


@pytest.mark.parametrize("backend", ["memory", "manifest"])
@pytest.mark.parametrize("make", [_exact_copies, _one_file],
                         ids=["exact_copies", "one_file"])
def test_degenerate_corpus_clusters_are_sha256_groups(
    spark, tmp_path, backend, make
):
    files = spark.createDataFrame(make())
    res = _run(backend, spark, files, str(tmp_path))
    assert not _verified(res)  # the no-pair-edge path is what is tested
    want = {}
    groups: dict[str, list[int]] = {}
    for r in res.ingested.select("file_id", "sha256").collect():
        groups.setdefault(r["sha256"], []).append(r["file_id"])
    for ids in groups.values():
        want.update({i: min(ids) for i in ids})
    assert _clusters(res) == want
    assert len(want) == len(files.collect())


@pytest.fixture(scope="module")
def resume_corpus():
    # the tests/test_resume.py corpus
    return generate_corpus(n_clusters=15, transforms_per_original=2, seed=11)


def test_backends_agree(spark, resume_corpus, tmp_path_factory):
    files = spark.createDataFrame(resume_corpus.files)
    mem_hooks: list[str] = []
    mem = run_dedup(files, CFG, stage_hook=mem_hooks.append)

    root = str(tmp_path_factory.mktemp("ckpt"))
    dur, status, _ = run_dedup_resumable(spark, files, CFG, root)
    assert set(status.values()) == {"computed"}
    assert _clusters(dur) == _clusters(mem)
    assert _verified(dur) == _verified(mem)
    assert _verified(mem), "corpus produced no verified pairs"
    assert list(mem.stage_seconds) == HOOK_STAGES
    assert list(dur.stage_seconds) == HOOK_STAGES
    assert mem_hooks == HOOK_STAGES

    # run_dedup_resumable is run_dedup through a manifest: the durable
    # backend fires the same hooks in the same order, cached or not
    dur_hooks: list[str] = []
    man = StageManifest(spark, root, CFG)
    cached = run_dedup(files, CFG, stage_hook=dur_hooks.append, manifest=man)
    assert dur_hooks == HOOK_STAGES
    assert set(man.status.values()) == {"cached"}
    assert _clusters(cached) == _clusters(mem)


def test_durable_report_has_stage_table(spark, resume_corpus, tmp_path):
    from twinspect_spark.report import write_run_artifacts

    files = spark.createDataFrame(resume_corpus.files)
    res, _, _ = run_dedup_resumable(spark, files, CFG, str(tmp_path / "ck"))
    write_run_artifacts(res, str(tmp_path / "report"), CFG)
    md = (tmp_path / "report" / "report.md").read_text()
    assert "| stage | seconds |" in md
    for stage in HOOK_STAGES:
        assert f"| {stage} | " in md


@pytest.mark.parametrize("max_driver_edges", [None, 2, 0],
                         ids=["numpy", "driver_cc", "hash_min"])
@pytest.mark.parametrize("pairs", [[(1, 2)], []], ids=["pairs", "exact_only"])
def test_cluster_stage_strategies_agree(spark, max_driver_edges, pairs):
    """cluster_with_members gives the same clusters whichever way it
    solves the rep graph: all in numpy, driver CC plus a member join
    (pairs fit the driver, exact edges do not), or hash-min."""
    from twinspect_spark.operators.cc import cluster_with_members

    edges = "a long, b long"
    exact = [(1, 10), (3, 30), (3, 31)]
    clusters, driver_built = cluster_with_members(
        spark.createDataFrame(pairs, edges),
        vertices=spark.createDataFrame([(v,) for v in (1, 2, 3, 5)],
                                       "file_id long"),
        exact_edges=spark.createDataFrame(exact, edges),
        max_driver_edges=max_driver_edges,
    )
    want = {1: 1, 2: 1 if pairs else 2, 10: 1, 3: 3, 30: 3, 31: 3, 5: 5}
    got = {r["file_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == want
    assert driver_built == (max_driver_edges is None)
