"""``dedup``: the training-data dedup pipeline over seeded documents.

Drives ``examples.dedup_pipeline.run_pipeline`` (``operators.dedup``) over a
document set with planted duplicates: ``EXACT`` exact copies, ``NEAR`` texts
that differ from their original by one appended word (word-3-gram Jaccard
58/59), and ``SEMANTIC`` documents whose embedding is a near copy (cosine >
0.999) of another's. All other texts are random 60-word strings and all other
embeddings random Gaussians, far below both thresholds.

``expected_counts`` computes on the driver, for each seed, the counts the
pipeline must report. Near-duplicate pairs are found only through MinHash LSH,
whose recall is below 1 by design: two bands of two hashes miss a pair of
Jaccard 58/59 with odds of about 1 in 900, so on a few seeds in a hundred one
planted pair is never a candidate. The oracle therefore applies the documented
candidate rule (``minhash_signature``: the minimum of each 8-hex-digit slice
of md5 over the word 3-grams; a pair is a candidate when both hashes of one
band agree) and then verifies candidates by exact Jaccard. Semantic pairs are
taken from brute-force cosine: the hyperplane LSH misses a planted pair with
odds of about 1 in 10^7.
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback
from itertools import combinations

import numpy as np
import pandas as pd

from accounting import Cost, cycle_metrics

DOCS = 500
WORDS = 60
VOCAB = 20_000
DIM = 64
EXACT = NEAR = SEMANTIC = 25
STAGES = ("exact", "lsh_candidates", "jaccard_verify", "semantic_lsh", "survivors")
# run_pipeline's settings: word 3-gram shingles, 4 MinHash hashes in bands of
# 2, Jaccard >= 0.8, cosine > 0.95. Its bucket caps (256) never bind at DOCS.
SHINGLE = 3
HASHES, BAND = 4, 2
JACCARD_MIN = 0.8
COSINE_MIN = 0.95


def documents(seed: int) -> tuple[list[str], np.ndarray]:
    rng = np.random.default_rng([seed, 2])
    words = rng.integers(0, VOCAB, (DOCS, WORDS))
    texts = [" ".join(f"w{w}" for w in row) for row in words]
    emb = rng.standard_normal((DOCS, DIM)).astype(np.float32)
    # planted duplicates: rows [base, base + EXACT + NEAR + SEMANTIC) copy
    # rows [0, EXACT + NEAR + SEMANTIC), one kind per block
    base = DOCS - EXACT - NEAR - SEMANTIC
    for i in range(EXACT):
        texts[base + i] = texts[i]
    for i in range(EXACT, EXACT + NEAR):
        texts[base + i] = f"{texts[i]} w{VOCAB + i}"
    for i in range(EXACT + NEAR, EXACT + NEAR + SEMANTIC):
        emb[base + i] = emb[i] + 0.01 * rng.standard_normal(DIM).astype(np.float32)
    return texts, emb


def _grams(text: str) -> list[str]:
    words = text.split()
    return [" ".join(words[i : i + SHINGLE]) for i in range(max(len(words) - SHINGLE, 0) + 1)]


def _band_keys(grams: list[str]) -> list[tuple[int, str]]:
    digests = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    sig = [min(d[8 * h : 8 * h + 8] for d in digests) for h in range(HASHES)]
    return [(b, "".join(sig[b * BAND : (b + 1) * BAND])) for b in range(HASHES // BAND)]


def expected_counts(texts: list[str], emb: np.ndarray) -> dict[str, int]:
    """The counts ``run_pipeline`` must report for these inputs."""
    survivor: dict[str, int] = {}
    for i, text in enumerate(texts):
        survivor.setdefault(text, i)  # exact dedup keeps the min id
    ids = sorted(survivor.values())
    grams = {i: _grams(texts[i]) for i in ids}
    buckets: dict[tuple[int, str], list[int]] = {}
    for i in ids:
        for key in _band_keys(grams[i]):
            buckets.setdefault(key, []).append(i)
    candidates = {pair for members in buckets.values() for pair in combinations(members, 2)}
    near = set()
    for a, b in candidates:
        ga, gb = set(grams[a]), set(grams[b])
        if len(ga & gb) / len(ga | gb) >= JACCARD_MIN:
            near.add((a, b))
    unit = emb.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    hi = np.triu(unit @ unit.T > COSINE_MIN, 1)
    semantic = set(zip(*(idx.tolist() for idx in np.nonzero(hi))))
    # survivors: the min id of each connected component over both edge sets
    root = {i: i for i in ids}

    def find(i: int) -> int:
        while root[i] != i:
            i = root[i]
        return i

    for a, b in near | semantic:
        if a in root and b in root:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
    return {
        "input_docs": len(texts),
        "after_exact": len(ids),
        "jaccard_verified": len(near),
        "semantic_neardups": len(semantic),
        "clean_docs": sum(find(i) == i for i in ids),
    }


class Dedup:
    def __init__(self, spark, acct, seed: int) -> None:
        self.spark, self.acct = spark, acct
        self.texts, self.emb = documents(seed)
        self.expected = expected_counts(self.texts, self.emb)
        self.docs = self.embs = None
        self.costs: list[Cost] = []
        self.attempted = 0
        self.failed = 0
        self.stage_costs: list[dict] = []

    def setup_once(self) -> None:
        for frame in (self.docs, self.embs):
            if frame is not None:
                frame.unpersist()
        ids = np.arange(DOCS, dtype=np.int64)
        self.docs = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "text": self.texts}), "doc_id bigint, text string"
        ).cache()
        self.embs = self.spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": list(self.emb)}),
            "vec_id bigint, embedding array<float>",
        ).cache()
        self.docs.count()
        self.embs.count()

    def warm(self) -> None:
        """None: the pipeline is a batch job that runs about once per Spark
        application, so the first measured pass is cold, as a user's is."""

    def _pass(self):
        from examples.dedup_pipeline import run_pipeline

        with self.acct.span("operators.dedup.pipeline") as cost:
            stats = run_pipeline(self.docs, self.embs)
        return cost, stats

    def run(self, seconds: float) -> None:
        """Passes until ``seconds`` have passed, at least one. Only the first,
        cold pass feeds the end-to-end figures, so a program that gets faster
        still reports the same work."""
        t0 = time.perf_counter()
        while not self.attempted or time.perf_counter() - t0 < seconds:
            self.attempted += 1
            try:
                cost, stats = self._pass()
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                self.failed += 1
                continue
            self.costs.append(cost)
            got = {key: stats[key] for key in self.expected}
            print(
                f"perfbench: dedup pass {cost.wall_s:.2f} s, cpu {cost.proc_cpu_s:.2f} s, "
                f"counts {got}",
                file=sys.stderr,
            )
            if got != self.expected:
                print(f"perfbench: dedup counts differ from {self.expected}", file=sys.stderr)
                self.failed += 1
            self.stage_costs.append(self._stage_split(cost, stats["timings"]))

    def _stage_split(self, cost, timings: dict) -> dict:
        """Attribute the pass's Spark stages to pipeline stages by their
        submission time; ``run_pipeline`` times its stages back to back."""
        if not self.acct.traced:
            return {}
        split, t = {}, cost.start_epoch_s
        for name in STAGES:
            part = Cost(wall_s=timings[name])
            last = name == STAGES[-1]
            self.acct.add_stage_totals(
                part, cost.job_ids, (t, float("inf") if last else t + timings[name])
            )
            split[name] = part
            t += timings[name]
        return split

    def end_to_end(self) -> dict[str, float]:
        return cycle_metrics([self.costs[:1]], DOCS)

    def layer_probes(self, out: dict) -> None:
        for name in STAGES:
            parts = [s[name] for s in self.stage_costs if s]
            if parts:
                out[f"operators.dedup.{name}.wall_s"] = float(np.median([p.wall_s for p in parts]))
                out[f"operators.dedup.{name}.shuffle_write_mb"] = float(
                    np.median([p.shuffle_write_mb for p in parts])
                )
