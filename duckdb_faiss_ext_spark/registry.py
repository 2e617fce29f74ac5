"""Driver-side index registry.

Replaces the reference's DuckDB ``ObjectCache`` of mutable ``FaissIndexEntry``
objects (src/include/index.hpp:12-56; put/get faiss_extension.cpp:148-163,
:907).  Where the reference guards one mutable C++ index with mutexes, we hold
an IMMUTABLE lineage: every ``add`` produces a new union DataFrame; searches
running concurrently with adds each see a consistent snapshot (SURVEY.md §4
"Lock-protected shared index" row — broadcast immutable data ⇒ unlimited
parallel readers).

Label-mode latching reproduces the reference's ``LABELSTATE``
UNDECIDED/FALSE/TRUE machine (src/include/index.hpp:6-10, enforcement
faiss_extension.cpp:437-453).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

import numpy as np

from duckdb_faiss_ext_spark.errors import IndexAlreadyExists, IndexNotFound
from duckdb_faiss_ext_spark.factory import IndexSpec

LABEL_UNDECIDED = "UNDECIDED"
LABEL_FALSE = "FALSE"  # auto ids (sequential 0..n-1 in add order)
LABEL_TRUE = "TRUE"  # user BIGINT labels


@dataclass
class FaissIndex:
    name: str
    dim: int
    spec: IndexSpec
    metric: str
    metric_arg: float = 0.0
    params: dict[str, str] = field(default_factory=dict)
    label_mode: str = LABEL_UNDECIDED
    trained: bool = False  # IVF centroids fitted (or kind needs no training)
    mutable: bool = True  # cleared on load of a trained index (LoadFunction :238)
    count: int = 0  # rows added so far (auto-id watermark, AddFinalise :565-573)
    data: Any = None  # DataFrame(label BIGINT, vector ARRAY<FLOAT>[, cluster_id INT])
    centroids: Optional[np.ndarray] = None  # (nlist, dim) float32 for IVF
    # (m, 2^nbits, dim/m) float32 PQ codebooks when the factory has a PQ
    # component; data then stores `code ARRAY<SMALLINT>` instead of `vector`
    codebooks: Optional[np.ndarray] = None
    # per-dim (dim,) float32 scalar-quantizer params when the factory has
    # an SQ8 component (functions/quantize.py); data then stores
    # `codes ARRAY<TINYINT>` instead of `vector`, decoded lazily at search
    sq_vmin: Optional[np.ndarray] = None
    sq_vdiff: Optional[np.ndarray] = None
    # running full-corpus per-cluster row counts (IVF), maintained for free
    # by the slice-materialization job at each add (engine._count_batch) —
    # powers the append-drift warning without ever scanning the corpus.
    # None until the first assigned add; reset by retrain, refreshed to
    # ground truth by every corpus-rebalance pass.
    cluster_counts: Optional[np.ndarray] = None
    # per-cluster histogram of the last coarse-quantizer fit's training
    # sample: the cluster layout of the first add after a fit (build, or
    # manual_train then add) sizes its partition slices by it
    train_counts: Optional[np.ndarray] = None
    skew_warned: bool = False  # one warning per drift crossing
    # retry latch for auto-rebalance-on-append: corpus size at the last
    # pass that could NOT restore the cap; no retry until +25% growth
    append_rebalance_floor: Optional[int] = None
    # cached per-add slices (memory mode): add() persists only the NEW batch
    # and unions lazily — O(batch) work per add instead of re-counting the
    # whole lineage (VERDICT r1 #4); compacted when the list grows deep
    slices: list = field(default_factory=list)
    # row count per slice, parallel to ``slices`` — drives the tiered
    # (LSM-style) compaction policy: merges pick geometrically-similar
    # slices so total graph-build work stays O(n log n) over a long
    # micro-batch stream instead of O(n²) whole-corpus rebuilds
    slice_rows: list = field(default_factory=list)
    # unpersist handle per slice, parallel to ``slices``.  Usually the slice
    # frame itself; for the unlabeled-add fast path it is the RAW persisted
    # parent cache the labeled slice projects over (the slice stored in
    # ``slices`` is then a lazy narrow projection and must NOT be the raw
    # store — tiered compaction unions ``slices``, and a label-less store
    # there silently drops the auto-assigned labels; ADVICE r6 high)
    slice_caches: list = field(default_factory=list)
    # disk mode: parquet directory backing the index data; add() appends one
    # parquet slice (flat lineage, O(batch) per add, corpora larger than the
    # executor cache).  Set via create(params={'storage_path': ...}).
    storage_path: Optional[str] = None
    # disk-graph write buffer (VERDICT r7 stretch): micro-batches smaller
    # than the buffer threshold accumulate here (already graph-built and
    # persisted) instead of paying a parquet dir + manifest write each —
    # flushed as ONE slice dir when the accumulated rows cross the
    # threshold, or on compact()/save().  Parallel lists like slices/
    # slice_rows; bounded by graph_partition_rows/4 rows total.
    pending_graph: list = field(default_factory=list)
    pending_graph_rows: int = 0

    @property
    def needs_training(self) -> bool:
        return self.spec.needs_training and not self.trained


class IndexRegistry:
    """Name -> FaissIndex.  One per engine (the reference's cache is global per
    DB instance; ours is per-engine which amounts to the same scope)."""

    def __init__(self) -> None:
        self._indexes: dict[str, FaissIndex] = {}

    def put_new(self, index: FaissIndex) -> None:
        if index.name in self._indexes:
            raise IndexAlreadyExists(index.name)
        self._indexes[index.name] = index

    def get(self, name: str) -> FaissIndex:
        try:
            return self._indexes[name]
        except KeyError:
            raise IndexNotFound(name) from None

    def drop(self, name: str) -> FaissIndex:
        if name not in self._indexes:
            raise IndexNotFound(name)
        return self._indexes.pop(name)

    def replace(self, index: FaissIndex) -> None:
        self._indexes[index.name] = index

    def names(self) -> list[str]:
        return sorted(self._indexes)

    def __contains__(self, name: str) -> bool:
        return name in self._indexes
