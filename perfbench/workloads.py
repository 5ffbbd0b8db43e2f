"""One benchmark run in one Spark session: the child process of run.py.

The engine is driven only through its public entry points
(``pipeline.run_dedup``, ``plans.manifest.run_dedup_resumable``,
``streaming.incremental.process_batch``) on the generated files table.
Funnel counts in a traced run are taken afterwards, from the returned
relations, with ``operators.buckets.bucket_table`` /
``unified_candidates`` over the returned signatures.

Set-up is the session, the input table and one untimed engine call of
the workload's own kind (the warm-up), so timed calls see a JIT-warm
JVM and live Python workers.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import corpora
from tracing import STAGES, TRACE_CONF, Tracer
from twinspect_spark.config import DedupConfig
from twinspect_spark.ingest import ingest_files
from twinspect_spark.operators.buckets import bucket_table, unified_candidates
from twinspect_spark.operators.cc import DRIVER_CC_MAX_EDGES
from twinspect_spark.pipeline import run_dedup
from twinspect_spark.plans.manifest import run_dedup_resumable
from twinspect_spark.session import get_spark
from twinspect_spark.streaming.incremental import DedupStore, process_batch

CONFIGS = {
    "code": DedupConfig(normalize="code"),
    "prose": DedupConfig(jaccard_threshold=corpora.PROSE_THRESHOLD,
                         shingle_size=corpora.PROSE_SHINGLE),
}

# Output-check floors on pair recall / precision against the corpus
# truth, fixed from values measured on this engine (code: 1.0 / 1.0 on
# every seed tried, every planted member recovered and no distractor
# merged; prose: recall 0.968 on seed 3, since borderline variants
# below the LSH bands' reach may be missed).
FLOORS = {"code": (0.999, 0.999), "prose": (0.90, 0.99)}

# The stream is split into two micro-batches: batch 0 folds into the
# empty store as the warm-up, batch 1 is timed against a store that
# already holds batch 0. Each fold carries ~80 Spark jobs of fixed cost
# (about 15-20 s on 4 cores), which is why one run times one batch.
STREAM_BATCHES = 2

# Reopening the store and counting its clusters takes about a second,
# a resume of the durable run about four: the median of a few such
# calls is steadier than one.
REOPENS = 3
RESUMES = 2

# Timed in-memory runs: at least this many, then more until --seconds
# have passed. A fixed floor keeps the median comparable across runs
# (the JVM is still warming, so each call is a little faster). The
# counts here are as high as a one-hour schedule of 48 runs allows.
IN_MEMORY_RUNS = 3


def du_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except FileNotFoundError:
                pass  # a compaction may delete files mid-walk
    return total


class Run:
    def __init__(self, kind: str, scale: str, seed: int, seconds: float,
                 trace: bool, work: str, scratch: str):
        self.kind, self.seconds = kind, seconds
        self.cfg = CONFIGS[kind]
        self.work, self.scratch = work, scratch
        self.tracer = Tracer(trace)
        self.corpus = corpora.load(work, kind, scale, seed)
        self.ops: list[dict] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.spark = None
        self.t0 = time.perf_counter()
        self.timeline: dict[str, float] = {}
        self.walls: dict[str, list[float]] = {}  # each timed call, in order

    # ---- bookkeeping ---------------------------------------------------

    def mark(self, label: str) -> None:
        """Seconds since the run object was made, for the run record."""
        self.timeline[label] = time.perf_counter() - self.t0

    def record(self, op: str, ok: bool, detail: str = "") -> None:
        self.ops.append({"op": op, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"perfbench: {op} failed: {detail}", file=sys.stderr)

    def call(self, op: str, fn):
        """Run one engine call; a raise counts as a failed operation and
        returns None so the run goes on to report what it measured."""
        try:
            return fn()
        except Exception:  # boundary: report, keep measuring the rest
            self.record(op, False, traceback.format_exc(limit=4))
            return None

    def setup(self, warm_up, prepare=lambda files: files) -> DataFrame:
        """Session, input table (``prepare`` may add columns before it is
        materialized), then ``warm_up(files)``; sets setup_s."""
        t0 = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a heap committed whole at start: G1 then never resizes it,
            # so GC work and resident memory vary less between runs
            "spark.driver.defaultJavaOptions":
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '2g')}",
        }
        if self.tracer.enabled:
            conf.update(TRACE_CONF)
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        self.tracer.bind(self.spark)
        t1 = time.perf_counter()
        files = prepare(self.spark.createDataFrame(self.corpus.files))
        files = files.localCheckpoint()
        t2 = time.perf_counter()
        warm_up(files)
        t3 = time.perf_counter()
        self.metrics["setup_s"] = t3 - t0
        self.layers.update({"session.start_s": t1 - t0,
                            "session.input_s": t2 - t1,
                            "session.warmup_s": t3 - t2})
        self.mark("setup")
        return files

    def file_keys(self, files: DataFrame) -> pd.DataFrame:
        """The engine's own file_id for every (repo, path, commit)."""
        return (
            ingest_files(files, self.cfg)
            .select("file_id", "repo", "path", "commit")
            .toPandas()
        )

    def check_clusters(self, op: str, clusters: pd.DataFrame,
                       keys: pd.DataFrame) -> tuple[float, float]:
        """Every input file in exactly one cluster, and pair recall /
        precision against the truth at or above the floors."""
        n = len(keys)
        if len(clusters) != n or clusters["file_id"].nunique() != n:
            self.record(op, False, f"{len(clusters)} cluster rows for {n} files")
            return 0.0, 0.0
        recall, precision = corpora.score(
            self.corpus, clusters.merge(keys, on="file_id")
        )
        lo_r, lo_p = FLOORS[self.kind]
        self.record(op, recall >= lo_r and precision >= lo_p,
                    f"recall {recall:.4f} precision {precision:.4f}")
        return recall, precision

    # ---- in-memory + durable protocol (code_lake, prose_borderline) ----

    def lake(self) -> None:
        """In-memory runs (IN_MEMORY_RUNS, more while --seconds have not
        passed), then a durable cold run into a fresh checkpoint root,
        then RESUMES resumes, each after the pairs and clusters stages
        are dropped. Every durable result must equal the first timed
        in-memory result."""
        files = self.setup(lambda f: run_dedup(f, self.cfg).clusters.count())
        keys = self.file_keys(files)
        walls, scores, reference, last = [], [], None, None
        attempt = 0
        deadline = time.perf_counter() + self.seconds
        while attempt < IN_MEMORY_RUNS or time.perf_counter() < deadline:
            name = f"inmem#{attempt}"
            attempt += 1

            def one():
                hook = self.tracer.stage_hook(name)
                with self.tracer.span(name):
                    t = time.perf_counter()
                    res = run_dedup(files, self.cfg, stage_hook=hook)
                    res.clusters.count()
                    return res, time.perf_counter() - t

            out = self.call(name, one)
            if out is None:
                continue
            last, wall = out
            walls.append(wall)
            got = last.clusters.toPandas()
            scores.append(self.check_clusters(name, got, keys))
            if reference is None:
                reference = got.sort_values("file_id", ignore_index=True)
        self.mark("inmem")
        self.walls["inmem"] = walls
        self.metrics["files_per_s"] = len(keys) / statistics.median(walls)
        self.metrics["pair_recall"] = statistics.median(s[0] for s in scores)
        self.metrics["pair_precision"] = statistics.median(s[1] for s in scores)

        root = os.path.join(self.scratch, "ckpt")

        def durable(run_id: str):
            with self.tracer.span(f"durable.{run_id}"):
                t = time.perf_counter()
                res, status, man = run_dedup_resumable(
                    self.spark, files, self.cfg, root, run_id=run_id
                )
                res.clusters.count()
                wall = time.perf_counter() - t
            got = res.clusters.toPandas().sort_values("file_id", ignore_index=True)
            same = reference is not None and got.equals(reference)
            self.record(f"durable.{run_id}", same,
                        "" if same else "clusters differ from run_dedup")
            return status, man, wall

        cold = self.call("durable.cold", lambda: durable("cold"))
        if cold is not None:
            _, man, self.metrics["batch_p50_s"] = cold
            resumes = []
            for i in range(RESUMES):
                man.invalidate("pairs")
                man.invalidate("clusters")
                resumed = self.call(f"durable.resume#{i}",
                                    lambda: durable(f"resume#{i}"))
                if resumed is not None:
                    status, man, wall = resumed
                    resumes.append(wall)
            self.walls["resume"] = resumes
            self.metrics["resume_s"] = statistics.median(resumes)
            if self.tracer.enabled:
                self.manifest_layers(man, status)
        self.metrics["disk_mb"] = du_bytes(root) / 1e6
        self.mark("durable")
        if self.tracer.enabled:
            self.layers["trace.files_per_s"] = self.metrics["files_per_s"]
            self.stage_layers()
            self.funnel_layers(last, len(keys))

    def stage_layers(self) -> None:
        """Per run_dedup stage, the median over the timed in-memory runs
        of its wall and of the Spark work submitted inside it."""
        attributed = self.tracer.attribute()
        acc: dict[str, list[float]] = {}
        for i, span in enumerate(self.tracer.spans):
            if span["name"] in STAGES and span["parent"].startswith("inmem#"):
                vals = {"wall_s": span["end"] - span["start"], **attributed[i]}
                for k, v in vals.items():
                    acc.setdefault(f"{span['name']}.{k}", []).append(v)
        self.layers.update({k: statistics.median(v) for k, v in acc.items()})

    def funnel_layers(self, res, n_files: int) -> None:
        """Row counts along the dedup funnel of the last in-memory run."""
        cfg = self.cfg
        n_ingested = res.ingested.count()
        n_sigs = res.signatures.count()
        n_cands = res.candidates.count()
        n = F.col("count")
        kept = (n > 1) & (n <= cfg.max_band_bucket)
        b = (
            bucket_table(res.signatures, cfg)
            .groupBy("space", "bucket_idx", "bucket_key")
            .count()
            .agg(
                F.sum(n).alias("rows"),
                F.sum(F.when(kept, n)).alias("kept"),
                F.sum(F.when(n > cfg.max_band_bucket, n)).alias("hot"),
                F.sum(F.when(kept & (n > cfg.chain_bucket_size), 1)).alias("chained"),
            )
            .collect()[0]
        )
        pairs_out = unified_candidates(res.signatures, cfg).count()
        p = res.pairs.agg(
            F.count("*").alias("all"),
            F.sum(F.when(F.col("method") == "minhash_est", 1)).alias("triaged"),
            F.sum(F.when(F.col("method") == "exact", 1)).alias("exact"),
            F.sum(F.when(F.col("lcs_score").isNotNull(), 1)).alias("lcs"),
            F.sum(F.when(F.col("verified"), 1)).alias("verified"),
        ).collect()[0]
        c = (
            res.clusters.groupBy("cluster_id").count()
            .agg(F.count("*").alias("clusters"), F.max(n).alias("largest"))
            .collect()[0]
        )
        verified = p["verified"] or 0
        exact_edges = n_ingested - n_sigs
        last_run = [s["parent"] for s in self.tracer.spans
                    if s["name"] == "signatures"][-1]
        self.layers.update({
            "ingest.rows_out": n_ingested,
            "signatures.rows_out": n_sigs,
            "buckets.rows_out": pairs_out,
            "candidates.rows_out": n_cands,
            "verify.rows_out": p["all"],
            "cluster.rows_out": n_files,
            "ingest.files_in": n_files,
            "exact.reps": n_sigs,
            "exact.edges": exact_edges,
            "signatures.bytes": self.tracer.checkpoint_bytes(last_run, "signatures"),
            "buckets.rows": b["rows"] or 0,
            "buckets.kept_rows": b["kept"] or 0,
            "buckets.hot_dropped": b["hot"] or 0,
            "buckets.chained": b["chained"] or 0,
            "buckets.pairs_out": pairs_out,
            "candidates.in": pairs_out,
            "candidates.out": n_cands,
            "candidates.keep_ratio": n_cands / pairs_out if pairs_out else 0.0,
            "verify.triaged": p["triaged"] or 0,
            "verify.exact_checked": p["exact"] or 0,
            "verify.lcs_checked": p["lcs"] or 0,
            "verify.verified": verified,
            "verify.verified_ratio": verified / p["all"] if p["all"] else 0.0,
            "cc.edges": verified + exact_edges,
            "cc.clusters": c["clusters"],
            "cc.max_cluster": c["largest"] or 0,
            "cc.driver_built": int(verified <= DRIVER_CC_MAX_EDGES
                                   and exact_edges <= DRIVER_CC_MAX_EDGES),
        })

    def manifest_layers(self, man, resume_status: dict[str, str]) -> None:
        """Per manifest stage of the cold run: write wall, bytes, rows
        (the manifest's own stage_metrics); stages cached on resume."""
        for r in man.stage_metrics().where(F.col("run_id") == "cold").collect():
            pre = f"manifest.{r['stage']}"
            self.layers[f"{pre}.write_s"] = r["wall_s"]
            self.layers[f"{pre}.bytes"] = r["bytes"]
            self.layers[f"{pre}.rows"] = r["rows"]
        self.layers["manifest.cached"] = sum(
            v == "cached" for v in resume_status.values()
        )

    # ---- micro-batch protocol (code_stream) -----------------------------

    def stream(self) -> None:
        """The corpus dealt into equal micro-batches, folded back to back
        into a fresh store (closed loop, one batch in flight); then the
        store is reopened and its resolved clusters counted, as a
        restarted job would."""

        def split(files: DataFrame) -> DataFrame:
            # equal-sized batches: files ranked by xxhash64(repo, path,
            # commit), dealt round-robin (a plain hash modulus leaves the
            # batch sizes, and so files/s, varying by seed)
            rank = F.row_number().over(
                Window.orderBy(F.xxhash64("repo", "path", "commit")))
            return files.withColumn("mb", rank % STREAM_BATCHES)

        def batch(files: DataFrame, b: int) -> DataFrame:
            return files.where(F.col("mb") == b).drop("mb")

        root = os.path.join(self.scratch, "store")
        store = None

        def warm_up(files):
            nonlocal store
            store = DedupStore(self.spark, root)
            if self.call("batch#0", lambda: process_batch(
                    self.spark, batch(files, 0), store, self.cfg, 0) or True):
                self.record("batch#0", True)

        files = self.setup(warm_up, split)
        walls, probe_mb, write_kb = [], [], []
        for b in range(1, STREAM_BATCHES):
            probe_mb.append(du_bytes(os.path.join(root, "buckets")) / 1e6)
            with self.tracer.span(f"batch#{b}"):
                t = time.perf_counter()
                done = self.call(f"batch#{b}", lambda: process_batch(
                    self.spark, batch(files, b), store, self.cfg, b) or True)
                wall = time.perf_counter() - t
            if done:
                self.record(f"batch#{b}", True)
                walls.append(wall)
            write_kb.append(sum(
                du_bytes(os.path.join(root, d, f"batch_id={b}"))
                for d in ("clusters", "remap")
            ) / 1e3)
        self.mark("batches")
        keys = self.file_keys(files.drop("mb"))
        timed = sum(batch(files, b).count() for b in range(1, STREAM_BATCHES))
        self.metrics["files_per_s"] = timed / sum(walls)
        self.metrics["batch_p50_s"] = statistics.median(walls)
        self.metrics["disk_mb"] = du_bytes(root) / 1e6

        reopen = []
        for i in range(REOPENS):
            with self.tracer.span(f"reopen#{i}"):
                t = time.perf_counter()
                n_rows = self.call(f"reopen#{i}", lambda: DedupStore(
                    self.spark, root).clusters().count())
                reopen.append(time.perf_counter() - t)
            if n_rows is not None:
                self.record(f"reopen#{i}", n_rows == len(keys),
                            f"{n_rows} cluster rows for {len(keys)} files")
        self.walls["reopen"] = reopen
        self.metrics["resume_s"] = statistics.median(reopen)
        self.mark("reopen")
        got = store.clusters().toPandas()
        recall, precision = self.check_clusters("stream.clusters", got, keys)
        self.metrics["pair_recall"] = recall
        self.metrics["pair_precision"] = precision

        if self.tracer.enabled:
            self.layers["trace.files_per_s"] = self.metrics["files_per_s"]
            attributed = self.tracer.attribute()
            per: dict[str, list[float]] = {}
            for i, span in enumerate(self.tracer.spans):
                if span["name"].startswith("batch#"):
                    for k in ("jobs", "cpu_s", "shuffle_mb"):
                        per.setdefault(k, []).append(attributed[i][k])
            edges = store.edges()
            self.layers.update({
                "incremental.batch_s": statistics.median(walls),
                "incremental.probe_mb": statistics.median(probe_mb),
                "incremental.dead_mb": du_bytes(os.path.join(root, "dead")) / 1e6,
                "incremental.cluster_write_kb": statistics.median(write_kb),
                "incremental.edges": 0 if edges is None else edges.count(),
                **{f"incremental.{k}": statistics.median(v)
                   for k, v in per.items()},
            })


PROTOCOLS = {"lake": Run.lake, "stream": Run.stream}
