"""``serve``: one closed-loop client against indexes built in set-up.

Set-up builds a Flat and an IVF index over one seeded clusterable corpus;
the warm-up is ``engine.warm`` on the IVF index. The measured loop repeats
``CYCLE``: 64-query reads (exact, IVF at nprobe 4 and 16, filtered at 1 % and
50 % selectivity), a 1-query read, a 512-query bulk read through the
executor-side join, a block-nested-loop ``similarity_join`` and a trained
2k-row append to the IVF index. Every result is checked against numpy on the
driver.
"""

from __future__ import annotations

import sys
import time
import traceback

import numpy as np
import pyspark.sql.functions as F

from accounting import Cost, cycle_metrics
from synth import mixture, recall, rows_by_qid, same_topk, sq_l2, topk_matches, vec_frame

DIM = 64
CORPUS = 10_000
CENTERS = 64
SIGMA = 0.25
K = 10
APPEND_ROWS = 2_000
JOIN_LEFT = 256
INDEXES = {"flat": "IDMap,Flat", "ivf": "IDMap,IVF64"}
BUILD_SPAN = {"flat": "engine.add.flat", "ivf": "engine.add.build"}
# op -> (index, queries, search params, filter selectivity in %)
READS = {
    "exact": ("flat", 64, {}, None),
    "np4": ("ivf", 64, {"nprobe": 4}, None),
    "np16": ("ivf", 64, {"nprobe": 16}, None),
    "bulk": ("ivf", 512, {"nprobe": 16, "bulk_queries": 1}, None),
    "filter1": ("flat", 64, {}, 1),
    "filter50": ("flat", 64, {}, 50),
    "exact_q1": ("flat", 1, {}, None),
}
# "bulk" directly follows "np16" with no append between, so the bulk route
# can be checked against the driver route on the same index state.
CYCLE = (
    "exact", "np4", "np16", "bulk", "append", "filter1", "filter50",
    "exact_q1", "simjoin",
)
# whole cycles the end-to-end figures cover; each later cycle reads through
# one more append slice, so every run must cover the same ones
CYCLES = 2
# mean recall@10 per 64-query batch. The clusters are well separated, so every
# seed tried reads 1.0 at both nprobes: a floor trips on a routing fault, not
# on an unlucky draw.
RECALL_FLOOR = {"np4": 0.80, "np16": 0.95}


class Serve:
    def __init__(self, spark, eng, acct, seed: int) -> None:
        self.spark, self.eng, self.acct = spark, eng, acct
        rng = np.random.default_rng([seed, 0])
        self.centers = rng.random((CENTERS, DIM), dtype=np.float32)
        self.base = mixture(rng, self.centers, CORPUS, SIGMA)
        self.qrng = np.random.default_rng([seed, 1])
        self.ivf_rows = [self.base]
        self.corpus = None
        self.allowed: dict[int, object] = {}
        self.rdd_ids: dict[str, set] = {}
        self.last_np16 = None
        # (costs, queries) of each completed cycle
        self.cycles: list[tuple[list[Cost], int]] = []
        self.queries = 0
        self.attempted = 0
        self.failed = 0
        self.recalls: dict[str, list[float]] = {op: [] for op in RECALL_FLOOR}

    # ---------------------------------------------------------------- set-up

    def _storage(self) -> dict[int, int]:
        return {
            r.id(): r.memSize() + r.diskSize()
            for r in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    def setup_once(self) -> None:
        for name in self.eng.list_indexes():
            self.eng.destroy(name)
        if self.corpus is not None:
            self.corpus.unpersist()
        self.ivf_rows = [self.base]
        self.corpus = vec_frame(
            self.spark, np.arange(CORPUS), self.base, "label", "vector"
        ).cache()
        self.corpus.count()
        for name, factory in INDEXES.items():
            before = self._storage()
            with self.acct.span(BUILD_SPAN[name]):
                self.eng.create(name, DIM, factory, "L2")
                self.eng.add(name, self.corpus)
            self.rdd_ids[name] = set(self._storage()) - set(before)
        self.allowed = {
            p: self.corpus.filter(F.col("label") % 100 < p).select("label")
            for p in (1, 50)
        }

    def warm(self) -> None:
        """``engine.warm`` on the IVF index: it also runs one bulk-route
        query, so the measured loop starts with warm worker kernels."""
        with self.acct.span("engine.warm"):
            self.eng.warm("ivf")

    def index_bytes(self, name: str) -> int:
        storage = self._storage()
        return sum(storage.get(i, 0) for i in self.rdd_ids[name])

    # ------------------------------------------------------------- operations

    def _queries(self, n: int) -> np.ndarray:
        return mixture(self.qrng, self.centers, n, SIGMA)

    def _check_exact(self, got, q, x, allowed_pct) -> bool:
        d = sq_l2(q, x)
        if allowed_pct is not None:
            d[:, np.arange(len(x)) % 100 >= allowed_pct] = np.inf
        return len(got) == len(q) and all(
            topk_matches(*got[i], d[i], K) for i in range(len(q))
        )

    def _read(self, op: str) -> tuple[Cost, bool]:
        index, nq, params, pct = READS[op]
        q = self._queries(nq)
        if op == "bulk":
            q[: len(self.last_np16[0])] = self.last_np16[0]
        qdf = vec_frame(self.spark, np.arange(nq), q, "qid", "vector")
        with self.acct.span(f"engine.search_flat.{op}") as cost:
            rows = self.eng.search_flat(
                index, K, qdf, params=dict(params), allowed_df=self.allowed.get(pct)
            ).collect()
        got = rows_by_qid(rows)
        self.queries += nq
        if index == "flat":
            return cost, self._check_exact(got, q, self.base, pct)
        x = np.concatenate(self.ivf_rows)
        if len(got) != nq or any(len(got[i][0]) != K for i in range(nq)):
            return cost, False
        if op == "bulk":
            prev = self.last_np16[1]
            return cost, all(same_topk(got[i], prev[i]) for i in prev)
        d = sq_l2(q, x)
        r = float(np.mean([recall(got[i][0], d[i], K) for i in range(nq)]))
        if op == "np16":
            self.last_np16 = (q, got)
        if op in self.recalls:
            self.recalls[op].append(r)
            return cost, r >= RECALL_FLOOR[op]
        return cost, True

    def _append(self) -> tuple[Cost, bool]:
        rows = self._queries(APPEND_ROWS)
        start = sum(len(a) for a in self.ivf_rows)
        adf = vec_frame(self.spark, np.arange(start, start + APPEND_ROWS), rows, "label", "vector")
        before = self._storage()
        with self.acct.span("engine.add.append") as cost:
            self.eng.add("ivf", adf)
        self.rdd_ids["ivf"] |= set(self._storage()) - set(before)
        self.ivf_rows.append(rows)
        return cost, self.eng.registry.get("ivf").count == start + APPEND_ROWS

    def _simjoin(self) -> tuple[Cost, bool]:
        from duckdb_faiss_ext_spark.operators.simjoin import similarity_join

        q = self._queries(JOIN_LEFT)
        qdf = vec_frame(self.spark, np.arange(JOIN_LEFT), q, "qid", "vector")
        with self.acct.span("operators.simjoin.similarity_join") as cost:
            rows = similarity_join(
                qdf, self.corpus, K, "L2", left_id="qid", right_id="label", bulk=True
            ).collect()
        self.queries += JOIN_LEFT
        return cost, self._check_exact(rows_by_qid(rows), q, self.base, None)

    def run(self, seconds: float) -> None:
        """Whole cycles until ``seconds`` have passed, at least ``CYCLES``.
        Only the first ``CYCLES`` feed the end-to-end figures, so a program
        that gets faster still reports the same work."""
        t0 = time.perf_counter()
        while len(self.cycles) < CYCLES or time.perf_counter() - t0 < seconds:
            costs, queries0 = [], self.queries
            for op in CYCLE:
                self.attempted += 1
                try:
                    if op == "append":
                        cost, ok = self._append()
                    elif op == "simjoin":
                        cost, ok = self._simjoin()
                    else:
                        cost, ok = self._read(op)
                except Exception:  # a failed operation is counted, not fatal
                    traceback.print_exc()
                    cost, ok = None, False
                if not ok:
                    self.failed += 1
                    print(f"perfbench: serve {op} failed", file=sys.stderr)
                if cost is not None:
                    costs.append(cost)
                    print(
                        f"perfbench: serve {op} {cost.wall_s * 1e3:.0f} ms, "
                        f"cpu {cost.proc_cpu_s * 1e3:.0f} ms",
                        file=sys.stderr,
                    )
            self.cycles.append((costs, self.queries - queries0))

    def end_to_end(self) -> dict[str, float]:
        first = self.cycles[:CYCLES]
        return cycle_metrics([c for c, _ in first], sum(q for _, q in first))

    # ------------------------------------------------- traced-run layer probes

    def layer_probes(self, out: dict) -> None:
        """Direct calls into single layers, after the measured loop, and
        figures derived from index health and the recorded spans."""
        from duckdb_faiss_ext_spark.functions.quantize import sq8_encode, sq8_train
        from duckdb_faiss_ext_spark.metrics import pairwise, topk_indices
        from duckdb_faiss_ext_spark.operators.topk import exact_knn_flat

        q = self._queries(64)
        qdf = vec_frame(self.spark, np.arange(64), q, "qid", "vector")
        flat = self.eng.registry.get("flat").data
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            exact_knn_flat(flat, qdf, K, "L2").collect()
            walls.append(time.perf_counter() - t0)
        out["operators.topk.exact_knn_flat.wall_ms"] = float(np.median(walls)) * 1e3

        vmin, vdiff = sq8_train(self.corpus, vec_col="vector")
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            sq8_encode(self.corpus, vmin, vdiff, vec_col="vector").agg(
                F.sum(F.col("codes")[DIM - 1])
            ).collect()
            walls.append(time.perf_counter() - t0)
        out["functions.quantize.sq8_encode.wall_s"] = float(np.median(walls))

        qb = self._queries(256)
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            topk_indices(pairwise(qb, self.base, "L2"), K, False)
            walls.append(time.perf_counter() - t0)
        flops = 2.0 * len(qb) * len(self.base) * DIM
        out["metrics.pairwise_topk.gflops"] = flops / float(np.median(walls)) / 1e9

        ivf = self.eng.registry.get("ivf")
        counts = np.asarray(ivf.cluster_counts, dtype=np.float64)
        out["registry.slices"] = len(ivf.slices)
        out["registry.max_cluster_share"] = float(counts.max() / counts.mean())
        raw_bytes = ivf.count * DIM * 4
        out["storage.index_bytes_per_input_byte"] = self.index_bytes("ivf") / raw_bytes
        out["storage.cached_mb"] = sum(self._storage().values()) / 2**20
        for op, rs in self.recalls.items():
            out[f"engine.search_flat.{op}.recall_at_10"] = float(np.mean(rs))

        for op, (index, nq, _, _) in READS.items():
            costs = self.acct.spans.get(f"engine.search_flat.{op}", [])
            if costs:
                index_mb = self.index_bytes(index) / 2**20
                out[f"engine.search_flat.{op}.scan_fraction"] = float(
                    np.median([c.input_mb for c in costs])
                ) / index_mb
                out[f"engine.search_flat.{op}.shuffle_mb_per_query"] = float(
                    np.median([c.shuffle_write_mb for c in costs])
                ) / nq
