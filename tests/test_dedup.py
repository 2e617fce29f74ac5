import numpy as np
import pytest

from duckdb_faiss_ext_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different words entirely unrelated content here"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups(docs):
    groups = {r["keep_id"]: r["cnt"] for r in D.exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[1] == 3  # docs 1,2,5 collapse, min-id survivor
    assert groups[3] == 1 and groups[4] == 1


def test_exact_dedup_keeps_survivors(docs):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs, "doc_id", "text").collect())
    assert kept == [1, 3, 4]


def test_minhash_identical_docs_identical_sigs(docs):
    sig = {r["doc_id"]: (r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"])
           for r in D.minhash_signature(docs, "doc_id", "text", 4).collect()}
    assert sig[1] == sig[2] == sig[5]
    assert sig[1] != sig[4]
    # seeds must differ per hash (the transform-lambda-arity regression)
    assert len(set(sig[4])) > 1


def test_minhash_matches_python_md5_oracle(spark):
    """Pin the hash family itself: sig_i == min over words of the i-th
    8-hex-char slice of md5(word), computed independently in Python.  Guards
    the sibling-transform lambda-binding regression (all four columns
    silently evaluating the first slice) and any hash-construction drift
    vs the DuckDB oracle twin."""
    import hashlib

    texts = {10: "alpha beta gamma", 11: "delta alpha", 12: "zeta"}
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(4)]
        for r in D.minhash_signature(df, "doc_id", "text", 4).collect()
    }
    for doc_id, text in texts.items():
        digests = [hashlib.md5(w.encode()).hexdigest() for w in text.split()]
        want = [min(d[8 * i: 8 * i + 8] for d in digests) for i in range(4)]
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_simhash32_md5_invariants(docs):
    """The oracle-portable SimHash variant: identical docs share the exact
    fingerprint; a doc with disjoint vocabulary differs; fingerprints stay in
    unsigned-32 range (built from 32 md5-nibble bits)."""
    fp = {r["doc_id"]: r["simhash"]
          for r in D.simhash32_md5(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[4]
    assert all(0 <= v < (1 << 32) for v in fp.values())


def test_lsh_pairs_catch_exact_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, "doc_id", "text", 4, 2).collect()}
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
    assert not any(4 in p for p in pairs)


def test_lsh_max_bucket_caps_blowup(spark):
    """300 identical boilerplate docs share every band bucket -> O(300²)
    pairs without the cap.  With max_bucket the mega-buckets drop before the
    self-join while pairs in small buckets (the real near-dups) survive."""
    rows = [(i, "common boilerplate text block repeated verbatim") for i in range(300)]
    rows += [(1000, "a unique document about minhash banding"),
             (1001, "a unique document about minhash banding")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = D.minhash_lsh_pairs(df, "doc_id", "text", 4, 2)
    capped = D.minhash_lsh_pairs(df, "doc_id", "text", 4, 2, max_bucket=100)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(1000, 1001)}
    # sanity: the cap is what removed the blowup, not the data
    assert uncapped.count() > 300 * 299 / 2


def test_neardup_components_chains(spark):
    """a~b, b~c, plus an isolated pair: components must follow CHAINS (the
    single-pass approximation cannot), labeling every chain member with the
    min id of its component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (20, 21)], "id_a int, id_b int"
    )
    comp = {r["id"]: r["comp"] for r in D.neardup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 21: 20}


def test_components_driver_matches_distributed(spark):
    """The small-graph driver union-find (the default under
    SMALL_EDGE_COLLECT) must label identically to the distributed
    min-label propagation on the same graph — random multigraphs with
    self-dups, plus the empty graph."""
    import numpy as np

    rng = np.random.default_rng(11)
    for _ in range(3):
        n = int(rng.integers(5, 300))
        m = int(rng.integers(1, 3 * n))
        pairs = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        ]
        if not pairs:
            continue
        df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        drv = {r["id"]: r["comp"] for r in D.neardup_components(df).collect()}
        dist = {
            r["id"]: r["comp"]
            for r in D.neardup_components(
                df, small_collect=None, max_iter=100
            ).collect()
        }
        assert drv == dist
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert D.neardup_components(empty).count() == 0


def test_distributed_components_leave_one_checkpoint(spark):
    """The distributed path drops each superseded round's label checkpoint
    and the edge checkpoint: a long chain (one round per link) leaves only
    the returned frame's checkpoint cached."""
    n = 24
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
    )
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    stats = {}
    comp = D.neardup_components(pairs, max_iter=2 * n, stats=stats, small_collect=None)
    assert {r["comp"] for r in comp.collect()} == {0}
    assert stats["rounds"] >= n // 2
    assert cached().size() - before <= 1


def test_neardup_survivors_exact(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 9, 20, 21, 50)],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (20, 21)], "id_a int, id_b int"
    )
    kept = sorted(
        r["doc_id"]
        for r in D.neardup_survivors(docs, pairs, "doc_id").collect()
    )
    # one survivor per component (1, 20) + the doc with no near-dups (50)
    assert kept == [1, 20, 50]


def test_ngram_jaccard(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jac"] for r in
             D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)  # identical -> jaccard 1
    assert 0.1 < pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[2] == sh[5]  # identical text -> identical fingerprint
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_simhash_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             D.simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    near = base[0] + rng.standard_normal(16).astype(np.float32) * 0.05
    near /= np.linalg.norm(near)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows.append((20, [float(x) for x in near]))  # near-dup of id 0
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_neardup_brute(vecs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.cosine_neardup_pairs(vecs, "vec_id", "embedding", 0.9).collect()}
    assert pairs == {(0, 20)}


def test_cosine_lsh_subset_of_brute(vecs):
    brute = {(r["id_a"], r["id_b"]) for r in
             D.cosine_neardup_pairs(vecs, "vec_id", "embedding", 0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           D.cosine_lsh_pairs(vecs, "vec_id", "embedding", dim=16, threshold=0.5).collect()}
    assert lsh <= brute  # LSH candidates verified by exact cosine: no false positives
    assert (0, 20) in lsh  # near-identical pair must collide in some band


def test_components_max_degree_exact_on_cliques_and_chains(spark):
    """max_degree keeps the smallest neighbors, so the normal near-dup
    topologies (cliques, chains) still converge to exact min-label
    components under aggressive caps."""
    from duckdb_faiss_ext_spark.operators.dedup import neardup_components

    pairs = []
    # a 10-clique on ids 100..109
    clique = list(range(100, 110))
    pairs += [(a, b) for a in clique for b in clique if a < b]
    # a chain 200-201-202-203-204 (only adjacent links)
    pairs += [(i, i + 1) for i in range(200, 204)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    stats: dict = {}
    comp = {
        r["id"]: r["comp"]
        for r in neardup_components(df, max_degree=2, stats=stats).collect()
    }
    assert all(comp[i] == 100 for i in clique)
    assert all(comp[i] == 200 for i in range(200, 205))
    assert stats["rounds"] <= 10


def test_bucket_cap_audit_is_loud_and_exact(spark):
    """VERDICT r11 task 5 (no-silent-caps): cap_stats must count exactly
    what the bucket cap dropped.  10 identical docs collapse into one
    band-bucket of 10 per band (2 bands at 4 hashes / band_size 2); with
    max_bucket=5 both buckets drop — 2 cap hits, 20 member rows — while
    the unique docs' singleton buckets survive."""
    from duckdb_faiss_ext_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "the exact same boilerplate text repeated verbatim here")
            for i in range(10)]
    rows += [(100, "completely unrelated words alpha beta"),
             (101, "another distinct document gamma delta")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats: dict = {}
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", 4, 2, max_bucket=5, cap_stats=stats
    )
    assert pairs.count() == 0  # the clique was capped away; singletons pair with nobody
    assert stats["largest_bucket"] == 10
    assert stats["bucket_cap_hits"] == 2
    assert stats["bucket_cap_dropped_rows"] == 20
    assert stats["max_bucket"] == 5
    # audit-only mode (max_bucket=None): same histogram facts, zero drops
    stats2: dict = {}
    pairs2 = minhash_lsh_pairs(
        df, "doc_id", "text", 4, 2, max_bucket=None, cap_stats=stats2
    )
    # full clique pairs back (one row per band it collides in)
    assert pairs2.select("id_a", "id_b").distinct().count() == 10 * 9 // 2
    assert stats2["largest_bucket"] == 10
    assert stats2["bucket_cap_hits"] == 0
    assert stats2["bucket_cap_dropped_rows"] == 0


def test_jaccard_verify_pairs_equals_gram_join_path(spark, sf_dir):
    """The pipeline's per-pair verification (two hash joins, O(|pairs|))
    must produce EXACTLY the pairs+values of the gram-self-join path
    (ngram_jaccard_pairs semi-joined onto the candidates) — swapping them
    in r12 was a pure plan change (the self-join went quadratic on
    boilerplate grams at the 10M probe)."""
    from duckdb_faiss_ext_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    cand = (
        minhash_lsh_pairs(docs, "doc_id", "text", 4, 2, shingle_n=3)
        .select("id_a", "id_b")
        .distinct()
    )
    new = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in jaccard_verify_pairs(
            docs, cand, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    old = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
        .join(cand, ["id_a", "id_b"], "left_semi")
        .collect()
    }
    assert len(new) > 0
    assert set(new) == set(old)
    for k in new:
        assert new[k] == pytest.approx(old[k], abs=1e-12)


def test_bucket_cap_zero_rejected_loudly(spark):
    """ADVICE r12: max_bucket=0 used to drop EVERY bucket while the audit
    (written with `max_bucket or 2**62`) reported zero cap hits — a silent
    cap inside the no-silent-caps machinery.  It is now rejected."""
    from duckdb_faiss_ext_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma")],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="max_bucket must be >= 1"):
        minhash_lsh_pairs(df, "doc_id", "text", 4, 2, max_bucket=0).count()


def test_bucket_cap_audit_leaves_no_cached_rdds(spark):
    """ADVICE r12: the cap audit persists the bucket histogram for its one
    aggregation job and must unpersist before returning — a long-lived
    session running capped pipelines repeatedly must not accumulate
    one-row-per-bucket cached blocks."""
    from duckdb_faiss_ext_spark.operators.dedup import minhash_lsh_pairs

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    rows = [(i, "same boilerplate text here") for i in range(8)]
    rows += [(100, "unique words one"), (101, "unique words two")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats: dict = {}
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", 4, 2, max_bucket=5, cap_stats=stats
    )
    pairs.count()  # materialize the capped path end-to-end
    assert stats["bucket_cap_hits"] > 0  # the cap DID engage
    assert sc._jsc.getPersistentRDDs().size() == before
    # and the no-breach fast path (cap present, nothing over it) too
    stats2: dict = {}
    minhash_lsh_pairs(
        df, "doc_id", "text", 4, 2, max_bucket=10**6, cap_stats=stats2
    ).count()
    assert stats2["bucket_cap_hits"] == 0
    assert sc._jsc.getPersistentRDDs().size() == before


def test_bucket_cap_no_breach_skips_semi_join_same_rows(spark):
    """When the audit proves no bucket exceeds the cap, the semi-join is
    skipped (plan fast path) — the pair set must equal the uncapped run."""
    from duckdb_faiss_ext_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, f"document number {i} words {i % 3}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats: dict = {}
    capped = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", 4, 2, max_bucket=10**6, cap_stats=stats
        ).select("id_a", "id_b").distinct().collect()
    )
    uncapped = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "doc_id", "text", 4, 2)
        .select("id_a", "id_b").distinct().collect()
    )
    assert stats["bucket_cap_hits"] == 0
    assert capped == uncapped


def test_bucket_cap_refine_recovers_verified_pairs(spark):
    """cap_mode='refine' (VERDICT r12 task 4): on a boilerplate-clique
    corpus where template-common min-grams dominate every band (so capped
    buckets lose true pairs in BOTH bands at once), wider-shingle
    re-banding of the oversized members recovers the verified pairs the
    drop mode loses.  Mirrors the 200k receipt in SCALE.md at test size."""
    from duckdb_faiss_ext_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_pairs,
    )

    rows = []
    for g in range(50):
        for v in range(4):
            rows.append(
                (
                    g * 4 + v,
                    f"document template number {g} shared content body "
                    f"sentence alpha beta gamma {v}",
                )
            )
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def verified(max_bucket, cap_mode="drop", stats=None):
        cand = minhash_lsh_pairs(
            df, "doc_id", "text", 4, 2, shingle_n=3, max_bucket=max_bucket,
            cap_stats=stats, cap_mode=cap_mode,
        ).select("id_a", "id_b").distinct()
        return {
            (r["id_a"], r["id_b"])
            for r in jaccard_verify_pairs(
                df, cand, "doc_id", "text", n=3, threshold=0.8
            ).collect()
        }

    truth = verified(None)
    assert len(truth) > 0
    drop_stats: dict = {}
    dropped = verified(20, "drop", drop_stats)
    assert drop_stats["bucket_cap_hits"] > 0  # the cap DID engage
    ref_stats: dict = {}
    refined = verified(20, "refine", ref_stats)
    assert ref_stats["refined_docs"] > 0
    drop_recall = len(dropped & truth) / len(truth)
    refine_recall = len(refined & truth) / len(truth)
    assert refine_recall >= 0.95, (drop_recall, refine_recall)
    assert refine_recall >= drop_recall
    # no-breach case: refine is plan-equal to drop (zero extra candidates)
    big_stats: dict = {}
    same = verified(10**6, "refine", big_stats)
    assert "refined_docs" not in big_stats
    assert same == truth
    with pytest.raises(ValueError, match="cap_mode must be"):
        minhash_lsh_pairs(df, "doc_id", "text", 4, 2, cap_mode="split")


# ------------------------------------------- bucket pair step vs a driver oracle


def _oracle_pairs(keys_by_id, max_bucket):
    """Driver-side banding: {(band, key): members}, then every pair of each
    bucket with at most ``max_bucket`` members, as sorted (id_a, id_b, band)
    rows, plus the ids of the over-cap buckets' members."""
    buckets: dict = {}
    for i, keys in keys_by_id.items():
        for band, key in enumerate(keys):
            buckets.setdefault((band, key), []).append(i)
    rows, over = [], set()
    for (band, _), members in buckets.items():
        if max_bucket is not None and len(members) > max_bucket:
            over.update(members)
            continue
        members = sorted(members)
        rows += [
            (a, b, band) for j, a in enumerate(members) for b in members[j + 1:]
        ]
    return sorted(rows), over


def _minhash_keys(texts, shingle_n, num_hashes=4, band_size=2):
    import hashlib

    out = {}
    for i, text in texts.items():
        w = text.split()
        grams = [
            " ".join(w[j: j + shingle_n])
            for j in range(max(len(w) - shingle_n, 0) + 1)
        ]
        digests = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        sig = [min(d[8 * h: 8 * h + 8] for d in digests) for h in range(num_hashes)]
        out[i] = [
            hashlib.md5("".join(sig[b: b + band_size]).encode()).hexdigest()
            for b in range(0, num_hashes, band_size)
        ]
    return out


def _minhash_oracle(texts, shingle_n, max_bucket, refine_depth=0, level=0):
    """minhash_lsh_pairs' rows: the base banding, and under refine the
    over-cap members re-banded with shingle_n + 2 per level, band + 2."""
    rows, over = _oracle_pairs(_minhash_keys(texts, shingle_n), max_bucket)
    rows = [(a, b, band + 2 * level) for a, b, band in rows]
    if refine_depth and over:
        sub = {i: texts[i] for i in over}
        rows += _minhash_oracle(sub, shingle_n + 2, max_bucket, refine_depth - 1, level + 1)
    return sorted(rows)


@pytest.fixture(scope="module")
def clique_texts():
    """Template groups whose common grams pile into over-cap buckets, an
    exact-boilerplate clique, and unique docs."""
    texts = {}
    for g in range(12):
        for v in range(4):
            texts[g * 4 + v] = (
                f"document template number {g} shared content body "
                f"sentence alpha beta gamma {v}"
            )
    for i in range(100, 112):
        texts[i] = "the exact same boilerplate text repeated verbatim here"
    for i in range(200, 210):
        texts[i] = f"unique words {i} one {i * 7} two {i * 13} three"
    return texts


@pytest.mark.parametrize(
    "max_bucket,cap_mode",
    [(None, "drop"), (6, "drop"), (6, "refine")],
)
def test_minhash_pairs_match_driver_banding(spark, clique_texts, max_bucket, cap_mode):
    df = spark.createDataFrame(
        sorted(clique_texts.items()), "doc_id bigint, text string"
    )
    stats: dict = {}
    got = sorted(
        tuple(r)
        for r in D.minhash_lsh_pairs(
            df, "doc_id", "text", 4, 2, shingle_n=3, max_bucket=max_bucket,
            cap_stats=stats, cap_mode=cap_mode,
        ).select("id_a", "id_b", "band").collect()
    )
    depth = 2 if cap_mode == "refine" else 0
    want = _minhash_oracle(clique_texts, 3, max_bucket, depth)
    assert got == want  # multiset: no pair row twice, band provenance kept
    if max_bucket is not None:
        assert stats["bucket_cap_hits"] > 0
    if cap_mode == "refine":
        assert stats["refined_docs"] > 0


@pytest.mark.parametrize("max_bucket", [None, 10])
def test_cosine_pairs_match_driver_banding(spark, max_bucket):
    rng = np.random.default_rng(5)
    x = rng.standard_normal((60, 8)).astype(np.float32)
    # a near-dup clique of 4 (kept under the cap) and one of 13 (capped)
    x[40:43] = x[0] + 0.01 * rng.standard_normal((3, 8)).astype(np.float32)
    x[43:55] = x[1] + 0.01 * rng.standard_normal((12, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<float>",
    )
    # the hyperplanes cosine_buckets draws: 8 planes in 2 bands of 4 bits
    planes = np.random.default_rng(42).standard_normal((8, 8)).astype(np.float32)
    bits = (x @ planes) > 0
    keys = {
        i: [int((bits[i, 4 * b: 4 * b + 4] * (1 << np.arange(4))).sum()) for b in range(2)]
        for i in range(60)
    }
    want, _ = _oracle_pairs(keys, max_bucket)
    stats: dict = {}
    buckets = D.cosine_buckets(df, "vec_id", "embedding", 8, n_planes=8, n_bands=2)
    got = sorted(
        tuple(r)
        for r in D.bucket_pairs(buckets, max_bucket, stats)
        .select("id_a", "id_b", "band").collect()
    )
    assert got == want
    if max_bucket is not None:
        assert stats["bucket_cap_hits"] > 0
    unit = x.astype(np.float64) / np.linalg.norm(x, axis=1, keepdims=True)
    verified = {(a, b) for a, b, _ in want if unit[a] @ unit[b] > 0.9}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.cosine_lsh_pairs(
            df, "vec_id", "embedding", 8, threshold=0.9, n_planes=8, n_bands=2,
            max_bucket=max_bucket,
        ).collect()
    }
    assert lsh == verified and len(verified) > 0


@pytest.mark.parametrize("max_bucket", [None, 5])
def test_simhash_pairs_match_driver_banding(spark, clique_texts, max_bucket):
    df = spark.createDataFrame(
        sorted(clique_texts.items()), "doc_id bigint, text string"
    )
    sh = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash64(df, "doc_id", "text").collect()
    }
    keys = {i: [(v >> (16 * c)) & 0xFFFF for c in range(4)] for i, v in sh.items()}
    cand, _ = _oracle_pairs(keys, max_bucket)
    want = {}
    for a, b, _ in cand:
        ham = bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")
        if ham <= 10:
            want[(a, b)] = ham
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(
            df, "doc_id", "text", max_hamming=10, max_bucket=max_bucket
        ).collect()
    }
    assert got == want and len(want) > 0
    if max_bucket is not None:
        assert not any(100 <= a < 112 for a, _ in got)  # the clique is capped
