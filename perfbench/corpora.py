"""Seeded benchmark corpora, cached by seed with a content checksum.

Two families:

* ``code``: planted near-duplicate source files from
  ``twinspect_spark.corpus.generate_corpus`` (1 original + 3 labelled
  edit transforms per cluster, some exact copies, distractors over the
  same small vocabulary). Truth is the planted cluster label.
* ``prose``: long prose documents in families of one original and eight
  word-substitution variants over a Zipf vocabulary. Truth is every
  same-family pair whose exact character-shingle Jaccard (the engine's
  own verify definition) reaches the threshold, computed once here.

Only pandas and the standard library are used, so the parent process
can build and cache corpora without starting Spark. A corpus directory
holds ``files.parquet`` (the engine's input table), ``truth.parquet``
and ``meta.json`` with a sha256 over both tables; a cached corpus whose
checksum no longer matches is regenerated.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
from dataclasses import dataclass

import pandas as pd

FILE_COLS = ["repo", "path", "commit", "lang", "content"]

# Sizes per scale. "lake" is the in-memory/durable corpus, "stream" the
# smaller one folded as micro-batches (each fold carries ~80 Spark jobs
# of fixed cost, so batch count, not batch size, sets its run time),
# "tiny" is for the self-test.
CODE_SCALES = {
    "lake": dict(n_clusters=300, n_exact_dups=100, n_distractors=600),
    "stream": dict(n_clusters=60, n_exact_dups=20, n_distractors=120),
    "tiny": dict(n_clusters=12, n_exact_dups=4, n_distractors=24),
}
PROSE_SCALES = {
    "lake": dict(n_families=60, doc_words=1500),
    "tiny": dict(n_families=3, doc_words=300),
}
PROSE_VOCAB = 20_000
PROSE_VARIANTS = 8
PROSE_MAX_RATE = 0.09
PROSE_SHINGLE = 9
PROSE_THRESHOLD = 0.7

# Bumped whenever a generator changes, so stale caches are not reused.
GENERATOR_VERSION = 1


@dataclass
class Corpus:
    kind: str
    files: pd.DataFrame  # FILE_COLS, one row per input file
    truth: pd.DataFrame  # code: repo,path,commit,family
    #                      prose: repo,path,commit,family + pair rows
    checksum: str


def checksum(files: pd.DataFrame, truth: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for df in (files, truth):
        h.update(",".join(df.columns).encode())
        for row in df.itertuples(index=False):
            h.update("\x1f".join("" if pd.isna(v) else str(v)
                                 for v in row).encode())
            h.update(b"\x1e")
    return h.hexdigest()


def _code(seed: int, scale: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    from twinspect_spark.corpus import generate_corpus

    c = generate_corpus(transforms_per_original=3, seed=seed,
                        **CODE_SCALES[scale])
    truth = c.labels[["repo", "path", "commit", "cluster_id"]].rename(
        columns={"cluster_id": "family"}
    )
    truth["family"] = truth["family"].astype("Int64")
    return c.files[FILE_COLS], truth


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < PROSE_VOCAB:
        words.add("".join(rng.choices(letters, k=rng.randint(2, 9))))
    return sorted(words)


def _norm(text: str) -> str:
    # the engine's "simple" normalization: lower + whitespace collapse
    return " ".join(text.lower().split())


def _shingles(text: str) -> set[str]:
    t = _norm(text)
    if len(t) <= PROSE_SHINGLE:
        return {t}
    return {t[i:i + PROSE_SHINGLE] for i in range(len(t) - PROSE_SHINGLE + 1)}


def _prose(seed: int, scale: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    p = PROSE_SCALES[scale]
    rng = random.Random(seed)
    vocab = _vocab(rng)
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(vocab))))
    rows, fam_rows, pairs = [], [], []
    for f in range(p["n_families"]):
        words = rng.choices(vocab, cum_weights=cum, k=p["doc_words"])
        docs = [words]
        for _ in range(PROSE_VARIANTS):
            rate = rng.uniform(0.0, PROSE_MAX_RATE)
            docs.append([
                rng.choices(vocab, cum_weights=cum)[0]
                if rng.random() < rate else w
                for w in words
            ])
        keys = []
        for v, d in enumerate(docs):
            lines = [" ".join(d[i:i + 12]).capitalize() + "."
                     for i in range(0, len(d), 12)]
            key = (f"prose/fam{f}", f"doc{v}.txt",
                   f"{rng.getrandbits(160):040x}")
            rows.append((*key, "text", "\n".join(lines) + "\n"))
            fam_rows.append((*key, f))
            keys.append(key)
        sh = [_shingles(r[4]) for r in rows[-len(docs):]]
        for i, j in itertools.combinations(range(len(docs)), 2):
            inter = len(sh[i] & sh[j])
            if inter / (len(sh[i]) + len(sh[j]) - inter) >= PROSE_THRESHOLD:
                pairs.append((*keys[i], *keys[j]))
    files = pd.DataFrame(rows, columns=FILE_COLS)
    truth = pd.DataFrame(fam_rows, columns=["repo", "path", "commit", "family"])
    truth["family"] = truth["family"].astype("Int64")
    pair_df = pd.DataFrame(
        pairs,
        columns=["repo", "path", "commit", "repo_b", "path_b", "commit_b"],
    )
    truth["pair"] = False
    pair_df["pair"] = True
    return files, pd.concat([truth, pair_df], ignore_index=True)


GENERATORS = {"code": _code, "prose": _prose}


def load(work: str, kind: str, scale: str, seed: int) -> Corpus:
    """The corpus for (kind, scale, seed), generated once and cached
    under ``work``; same arguments → same bytes and same checksum."""
    d = os.path.join(work, "corpora", f"{kind}-{scale}-s{seed}-v{GENERATOR_VERSION}")
    meta_p = os.path.join(d, "meta.json")
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            meta = json.load(f)
        files = pd.read_parquet(os.path.join(d, "files.parquet"))
        truth = pd.read_parquet(os.path.join(d, "truth.parquet"))
        if checksum(files, truth) == meta["checksum"]:
            return Corpus(kind, files, truth, meta["checksum"])
    files, truth = GENERATORS[kind](seed, scale)
    digest = checksum(files, truth)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files.to_parquet(os.path.join(tmp, "files.parquet"), index=False)
    truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"checksum": digest, "rows": len(files)}, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return Corpus(kind, files, truth, digest)


def _pairs(counts: pd.Series) -> int:
    return int((counts * (counts - 1) // 2).sum())


def score(corpus: Corpus, clusters: pd.DataFrame) -> tuple[float, float]:
    """(pair_recall, pair_precision) of ``clusters`` (repo, path, commit,
    cluster_id; one row per input file) against the corpus truth.

    A predicted pair is two files in one cluster. Precision counts a
    predicted pair correct when both files share a truth family
    (clusters are transitive, so a family joined through a chain is
    correct even where one pair's own similarity is low). Recall is over
    the truth pairs: every same-family pair for ``code``, the
    threshold-passing same-family pairs for ``prose``."""
    key = ["repo", "path", "commit"]
    members = corpus.truth
    if "pair" in members.columns:
        members = members[~members["pair"]]
    m = clusters.merge(members[key + ["family"]], on=key, how="left")
    predicted = _pairs(m.groupby("cluster_id").size())
    same_family = _pairs(m.dropna(subset=["family"])
                         .groupby(["cluster_id", "family"]).size())
    precision = same_family / predicted if predicted else 1.0
    if corpus.kind == "code":
        truth_pairs = _pairs(members.dropna(subset=["family"])
                             .groupby("family").size())
        hit = same_family
    else:
        tp = corpus.truth[corpus.truth["pair"]]
        cid = m.set_index(key)["cluster_id"]
        a = cid.reindex(pd.MultiIndex.from_frame(tp[key])).to_numpy()
        b = cid.reindex(pd.MultiIndex.from_frame(
            tp[["repo_b", "path_b", "commit_b"]])).to_numpy()
        truth_pairs, hit = len(tp), int((a == b).sum())
    recall = hit / truth_pairs if truth_pairs else 1.0
    return recall, precision
