"""Engine exceptions mirroring the reference's error surface.

Each class cites the reference check it reproduces (FIXTURES.md error-path
list; /root/reference/src/faiss_extension.cpp line numbers).
"""


class FaissSparkError(Exception):
    """Base class for engine errors."""


class IndexNotFound(FaissSparkError):
    """Missing index name (faiss_extension.cpp:908-910, :249-253)."""

    def __init__(self, name: str):
        super().__init__(f"Could not find index {name}")
        self.name = name


class IndexAlreadyExists(FaissSparkError):
    """Duplicate faiss_create on one name (faiss_extension.cpp:150-152)."""

    def __init__(self, name: str):
        super().__init__(f"Index with name {name} already exists")
        self.name = name


class InvalidMetric(FaissSparkError):
    """Unknown metric_type (faiss_extension.cpp:103-118; faiss6.test:7-10)."""

    def __init__(self, metric: str):
        super().__init__(f"Metric type {metric} not supported")
        self.metric = metric


class ImmutableIndex(FaissSparkError):
    """Add/train on a loaded trained index (faiss_extension.cpp:485-488, :349-353)."""

    def __init__(self, name: str):
        super().__init__(
            f"Index {name} is immutable (loaded already-trained); cannot add or train"
        )
        self.name = name


class LabelModeMismatch(FaissSparkError):
    """Mixing labeled and unlabeled adds on one index (faiss_extension.cpp:444-452)."""

    def __init__(self, name: str, stored_labeled: bool):
        mode = "with" if stored_labeled else "without"
        super().__init__(
            f"Index {name} was previously added to {mode} labels; cannot mix label modes"
        )


class NonIDMapLabels(FaissSparkError):
    """add_with_ids on a non-IDMap index (faiss_extension.cpp:523-525; faiss4.test:19-22)."""

    def __init__(self, name: str):
        super().__init__(
            f"Index {name} does not support labels (create it with an 'IDMap,' prefix)"
        )


class TrainingError(FaissSparkError):
    """K-means training with too few points (faiss_extension.cpp:400-404)."""


class DimensionMismatch(FaissSparkError):
    """Vector length != index dimension (ListVectorToFaiss, faiss_extension.cpp:278-283)."""

    def __init__(self, expected: int, got: int):
        super().__init__(
            f"All list vectors need to have the same dimensionality as the index: "
            f"expected {expected}, got {got}"
        )
