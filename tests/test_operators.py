"""Training-data operator tests: dedup family, similarity search, text
fingerprinting, multimodal plumbing (SURVEY.md §2 extensions).

Cross-engine value equality for every oracle-checkable operator is enforced
by scripts/check_oracles.py (and the driver per round); these tests cover
the *semantic* properties instead: recall of LSH vs exact methods, order
sensitivity, mapInPandas batch mechanics.
"""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@contextmanager
def arrow_batch_rows(spark, max_records):
    """Run the block with ``spark.sql.execution.arrow.maxRecordsPerBatch``
    set to ``max_records`` (``None``: the session default). Small batches
    split a bucket across several Arrow batches of one partition."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if max_records is not None:
        spark.conf.set(key, str(max_records))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# Both fixtures unpersist on teardown: while a cached relation lives, a fresh
# spark.read.parquet of the same file is replaced by it (inputFiles() == []),
# which silently turns the corpus memo off for every later test module.
@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


# ------------------------------------------------------------- fingerprint
def test_rolling_fingerprint_order_sensitive(spark):
    from airbyte_module_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        [("a b c",), ("c b a",), ("a b c",)], ["text"]
    ).select(rolling_fingerprint(F.col("text")).alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] == fps[2], "same text must fingerprint identically"
    assert fps[0] != fps[1], "token order must matter (rolling, not bag)"


def test_shingles_short_text(spark):
    from airbyte_module_spark.operators.text import word_shingles

    df = spark.createDataFrame([("one two",), ("",), ("a b c d",)], ["text"])
    out = df.select(word_shingles(F.col("text"), n=3).alias("s")).collect()
    assert out[0]["s"] == []  # fewer than n tokens
    assert out[1]["s"] == []
    assert out[2]["s"] == ["a b c", "b c d"]


# ------------------------------------------------------------------- dedup
@pytest.mark.parametrize("max_records", [None, 50], ids=["default", "50"])
def test_minhash_lsh_finds_true_near_dups(spark, docs, max_records):
    """Every pair with exact 3-gram jaccard >= 0.8 must be produced as an
    LSH candidate (banding catches >=0.8 similarity with p ~ 1 at 4x4).
    With small Arrow batches a band bucket spans several batches of one
    partition; it must still yield all of its pairs."""
    from airbyte_module_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        ngram_jaccard_pairs,
        with_minhash,
    )

    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert true_pairs, "fixture should contain near-duplicate documents"
    with arrow_batch_rows(spark, max_records):
        cand = {
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs(minhash_bands(with_minhash(docs))).collect()
        }
    missed = true_pairs - cand
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_minhash_signature_estimates_jaccard(docs):
    """Signature agreement fraction approximates true jaccard for a known
    near-dup pair (within the +-1/sqrt(16) resolution of 16 hashes)."""
    from airbyte_module_spark.operators.dedup import (
        N_MINHASHES,
        ngram_jaccard_pairs,
        with_minhash,
    )

    top = (
        ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        .orderBy(F.desc("jaccard"))
        .first()
    )
    sig = with_minhash(docs).filter(
        F.col("doc_id").isin(int(top["doc_a"]), int(top["doc_b"]))
    )
    rows = {r["doc_id"]: [r[f"m{j}"] for j in range(N_MINHASHES)] for r in sig.collect()}
    a, b = rows[top["doc_a"]], rows[top["doc_b"]]
    agree = sum(x == y for x, y in zip(a, b)) / N_MINHASHES
    assert abs(agree - top["jaccard"]) <= 0.3


def test_simhash_near_dups_close(docs):
    from airbyte_module_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash32,
    )

    top = (
        ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        .orderBy(F.desc("jaccard"))
        .first()
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}

    def hamming(x, y):
        return bin(x ^ y).count("1")

    near = hamming(fp[top["doc_a"]], fp[top["doc_b"]])
    ids = sorted(fp)
    far = [hamming(fp[ids[i]], fp[ids[i + 1]]) for i in range(0, 40, 2)]
    assert near <= 6, f"near-dup pair hamming {near} too large"
    assert near < sorted(far)[len(far) // 2], "near-dup not closer than median"


# -------------------------------------------------------- scale caps (X2/X4)
@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """40 byte-identical boilerplate docs + one genuine near-dup pair: the
    pathological LSH bucket / stop-shingle posting list."""
    rows = [(i, "license header alpha beta gamma delta epsilon zeta") for i in range(40)]
    rows += [(100, "one two three four five six"), (101, "one two three four five six")]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_lsh_bucket_cap_drops_pathological_bucket(boilerplate_docs):
    from airbyte_module_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_bands,
        oversize_groups,
        with_minhash,
    )

    bands = minhash_bands(with_minhash(boilerplate_docs))
    uncapped = lsh_candidate_pairs(bands, max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2 + 1  # boilerplate blow-up + true pair

    capped = lsh_candidate_pairs(bands, max_bucket_size=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert pairs == {(100, 101)}, "cap must drop only the oversize bucket"

    dropped = oversize_groups(lsh_band_buckets(bands), 10).collect()
    assert len(dropped) == 4  # the boilerplate cluster collides in all 4 bands
    assert all(r["n_docs"] == 40 for r in dropped)


def test_run_pairs_cap_boundaries():
    """The one cap rule of every pair generator, at run sizes 1, 2, cap and
    cap+1: sizes 2..cap emit each a<b pair once, size 1 emits nothing, cap+1
    is dropped — unless the cap is None."""
    import itertools

    import numpy as np

    from airbyte_module_spark.operators.dedup import run_pairs, sorted_runs

    cap = 4
    rng = np.random.default_rng(3)
    perm = rng.permutation(1 + 2 + cap + (cap + 1))
    keys = np.repeat(np.arange(4), [1, 2, cap, cap + 1])[perm]
    ids = rng.permutation(len(keys)) * 10  # unique, unrelated to row order
    assert sorted(sorted_runs([keys], within=ids)[2]) == [1, 2, cap, cap + 1]

    def pairs(c):
        a, b = run_pairs(*sorted_runs([keys], within=ids), c)
        assert (keys[a] == keys[b]).all()
        return sorted(zip(ids[a].tolist(), ids[b].tolist()))

    def expected(runs):
        return sorted(
            p
            for k in runs
            for p in itertools.combinations(sorted(ids[keys == k].tolist()), 2)
        )

    assert pairs(cap) == expected([1, 2])
    assert pairs(None) == expected([1, 2, 3])
    assert pairs(1) == []


def test_ngram_df_cap_drops_stop_shingles(boilerplate_docs):
    from airbyte_module_spark.operators.dedup import (
        ngram_jaccard_pairs,
        oversize_groups,
        shingle_postings,
    )

    uncapped = ngram_jaccard_pairs(
        boilerplate_docs, n=3, threshold=0.99, max_doc_freq=None
    )
    assert uncapped.count() == 40 * 39 // 2 + 1

    capped = ngram_jaccard_pairs(boilerplate_docs, n=3, threshold=0.99, max_doc_freq=10)
    rows = capped.collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(100, 101)}
    assert rows[0]["jaccard"] == 1.0  # surviving pairs keep EXACT jaccard

    dropped = oversize_groups(shingle_postings(boilerplate_docs, n=3), 10).collect()
    assert dropped and all(r["n_docs"] == 40 for r in dropped)


def test_default_caps_do_not_change_small_corpus_results(docs):
    """At the correctness-gate scale (500 docs < MAX_GROUP_SIZE) the default
    caps are no-ops — pinning that the oracle comparison stays exact."""
    from airbyte_module_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        ngram_jaccard_pairs,
        with_minhash,
    )

    bands = minhash_bands(with_minhash(docs))
    assert (
        lsh_candidate_pairs(bands).count()
        == lsh_candidate_pairs(bands, max_bucket_size=None).count()
    )
    assert (
        ngram_jaccard_pairs(docs, n=3).count()
        == ngram_jaccard_pairs(docs, n=3, max_doc_freq=None).count()
    )


# -------------------------------------------------------------- similarity
@pytest.mark.parametrize("max_records", [None, 50], ids=["default", "50"])
def test_near_dup_lsh_matches_allpairs_within_buckets(spark, emb, max_records):
    """The banded-LSH near-dup operator must return EXACTLY the all-pairs
    result restricted to pairs colliding in >= 1 band, with identical scores
    (precision 1; recall = band-collision probability). With small Arrow
    batches a bucket spans several batches of one partition; it must still
    yield all of its pairs."""
    from airbyte_module_spark.operators.similarity import (
        banded_buckets,
        near_dup_pairs,
        near_dup_pairs_lsh,
    )

    with arrow_batch_rows(spark, max_records):
        bands: dict[int, set] = {}
        for r in banded_buckets(emb).collect():
            bands.setdefault(r["vec_id"], set()).add((r["band"], r["bucket"]))
        allp = {
            (r["vec_a"], r["vec_b"]): (r["dot_q"], r["cosine"])
            for r in near_dup_pairs(emb, threshold=0.45).collect()
        }
        got = {
            (r["vec_a"], r["vec_b"]): (r["dot_q"], r["cosine"])
            for r in near_dup_pairs_lsh(emb, threshold=0.45).collect()
        }
    expected = {
        pair: score
        for pair, score in allp.items()
        if bands[pair[0]] & bands[pair[1]]
    }
    assert got == expected
    assert got, "fixture should contain banded-LSH near-dup collisions"
    # recall accounting: the banded trade should catch most true near-dups
    assert len(got) >= len(allp) // 2, f"recall {len(got)}/{len(allp)} too low"


def test_near_dup_lsh_cap_none_is_uncapped(spark):
    """``max_bucket_size=None`` turns the degenerate-bucket cap off, as in
    the dedup pair generators: 520 identical vectors (one bucket over the
    512 default in every band) yield all their pairs, and a cap of 10 keeps
    only the genuine pair."""
    from airbyte_module_spark.operators.similarity import near_dup_pairs_lsh

    rows = [(i, [0.5] * 64) for i in range(520)]
    rows += [(1000 + i, [0.5] * 32 + [-0.5] * 32) for i in range(2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = near_dup_pairs_lsh(emb, threshold=0.9, max_bucket_size=None)
    assert uncapped.count() == 520 * 519 // 2 + 1
    capped = near_dup_pairs_lsh(emb, threshold=0.9, max_bucket_size=10)
    assert {(r.vec_a, r.vec_b) for r in capped.collect()} == {(1000, 1001)}


def test_ann_recall_gate(emb):
    """Quantified recall@5 against the exact ranking.

    Measured on this fixture (true top-5 at cosine 0.27-0.39): IVF with
    k-means-trained centroids (64 cells, nprobe 8, ~12% of corpus scanned)
    reaches 0.90 — vs 0.88 for the r1-r4 untrained first-64 seeds at the
    SAME scan fraction, and the 2-iteration Lloyd pin is the convergence
    point (the iteration sweep 0..4 gives 0.88, 0.86, 0.90, 0.90, 0.90 —
    assignments are bit-identical from iter 2 on). 8-plane SRP-LSH gets
    0.02 single-probe / 0.10 with Hamming-1 multiprobe — hyperplane LSH
    needs high-cosine targets, IVF follows data geometry. Floors assert
    the measured ordering stays true."""
    from airbyte_module_spark.operators.similarity import (
        ann_brute_force,
        ann_ivf,
        ann_lsh,
    )

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_brute_force(emb, n_queries=10, k=5).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh(emb, n_queries=10, k=5).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh(emb, n_queries=10, k=5, multiprobe=True).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf(emb, n_queries=10, k=5).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    recall_ivf = len(ivf & exact) / len(exact)
    assert recall_multi >= recall_single, "multiprobe must not lose recall"
    assert recall_ivf >= 0.90, f"trained IVF recall@5 {recall_ivf}"
    assert recall_ivf > recall_multi, "IVF is the recall-strong scale path"


def test_ann_topk_independent_of_arrow_batches(spark, emb):
    """The map-side scorer prunes each Arrow batch to its own top-k; the
    global top-k must not depend on how the corpus splits into batches,
    for every candidate filter (LSH single/multi-probe, IVF)."""
    from airbyte_module_spark.operators.similarity import ann_ivf, ann_lsh

    searches = {
        "lsh": lambda: ann_lsh(emb, n_queries=10, k=5),
        "multiprobe": lambda: ann_lsh(emb, n_queries=10, k=5, multiprobe=True),
        "ivf": lambda: ann_ivf(emb, n_queries=10, k=5),
    }
    results = {}
    for max_records in (None, 50):
        with arrow_batch_rows(spark, max_records):
            for name, run in searches.items():
                results[name, max_records] = sorted(map(tuple, run().collect()))
    for name in searches:
        assert results[name, None], f"{name} returned nothing"
        assert results[name, None] == results[name, 50], name


def test_ivf_assignment_covers_corpus(emb):
    from airbyte_module_spark.operators.similarity import N_IVF_CELLS, ivf_assign

    a = ivf_assign(emb)
    assert a.count() == emb.count()
    cells = [r["cell"] for r in a.select("cell").distinct().collect()]
    assert all(0 <= c < N_IVF_CELLS for c in cells)
    # centroids must be assigned to their own cell (cosine with self = 1)
    own = ivf_assign(emb).filter(F.col("vec_id") < N_IVF_CELLS)
    assert all(r["vec_id"] == r["cell"] for r in own.collect())


def test_ann_lsh_subset_of_bruteforce_scores(emb):
    """Every LSH-retrieved neighbor must carry the same dot/cosine the
    brute-force scorer assigns (same scoring, restricted candidate set),
    and per query the LSH neighbors are a subset of the full ranking."""
    from airbyte_module_spark.operators.similarity import (
        ann_brute_force,
        ann_lsh,
    )

    bf = ann_brute_force(emb, n_queries=5, k=500).select(
        "query_id", "neighbor_id", "dot_q"
    )
    lsh = ann_lsh(emb, n_queries=5, k=5).select(
        "query_id", "neighbor_id", F.col("dot_q").alias("dot_lsh")
    )
    joined = lsh.join(bf, ["query_id", "neighbor_id"], "left")
    rows = joined.collect()
    assert rows, "LSH returned nothing"
    for r in rows:
        assert r["dot_q"] is not None, "LSH neighbor missing from brute force"
        assert r["dot_q"] == r["dot_lsh"]


def test_lsh_buckets_group_same_bucket_neighbors(emb):
    from airbyte_module_spark.operators.similarity import ann_lsh, lsh_buckets

    buckets = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb).collect()}
    for r in ann_lsh(emb, n_queries=5, k=5).collect():
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


# -------------------------------------------------------------- multimodal
def test_multimodal_features_deterministic_and_shaped(docs):
    from airbyte_module_spark.operators.multimodal import (
        extract_features,
        synthesize_blobs,
    )

    blobs = synthesize_blobs(docs)
    feats = extract_features(blobs).orderBy("doc_id")
    pdf = feats.toPandas()
    assert len(pdf) == docs.count()
    assert set(pdf["kind"]) <= {"image", "audio", "video"}
    # histogram bins sum to the byte count, per row
    assert (pdf["histogram8"].map(sum) == pdf["size_bytes"]).all()
    # deterministic across runs
    pdf2 = extract_features(blobs).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(pdf, pdf2)


def test_multimodal_real_decode_gated():
    from airbyte_module_spark.operators.multimodal import extract_features

    with pytest.raises(NotImplementedError):
        extract_features(None, real_decode=True)


def test_multimodal_plan_is_arrow_batched(docs):
    """The featurizer must run as a single Arrow-batched python stage
    (MapInPandas), not row-at-a-time python."""
    from airbyte_module_spark.operators.multimodal import (
        extract_features,
        synthesize_blobs,
    )

    plan = extract_features(synthesize_blobs(docs))._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_near_dup_verifier_gate_subsamples_oversized_corpus(emb):
    """VERDICT r2 #2: the all-pairs verifier must be safe at any sf — above
    ``max_rows`` it deterministically subsamples (vec_id % ceil(n/cap) == 0)
    instead of generating O(N²) pairs over the full corpus."""
    from airbyte_module_spark.operators.similarity import near_dup_pairs

    n = emb.count()  # 500 on this fixture
    cap = 100  # force the gate: modulus = ceil(500/100) = 5
    gated = near_dup_pairs(emb, threshold=0.0, max_rows=cap)
    ids = {r for row in gated.select("vec_a", "vec_b").collect() for r in row}
    assert ids, "sampled verifier produced no pairs at threshold 0"
    m = -(-n // cap)
    assert all(i % m == 0 for i in ids)
    # and the sample equals the exact verifier run on the same sample
    sampled = emb.filter(F.col("vec_id") % m == 0)
    exact = near_dup_pairs(sampled, threshold=0.0, max_rows=None)
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, exact.collect()))


def test_short_embedding_raises_not_silently_drops(spark):
    """ADVICE r2: int_dot's literal indexing returns null past the end of a
    short array — with_quantized must fail loudly on a dimension mismatch
    instead of letting rows vanish through cosine filters."""
    from airbyte_module_spark.operators.similarity import (
        near_dup_pairs_lsh,
        with_quantized,
    )

    bad = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [0.2] * 63)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="embedding length != 64"):
        with_quantized(bad).collect()
    with pytest.raises(Exception, match="embedding length != 64"):
        near_dup_pairs_lsh(bad).collect()


def test_null_embedding_drops_not_crashes(spark):
    """ADVICE r3: F.size(null) is null, which routed a NULL vector into the
    raise_error branch with a misleading length message. A null embedding
    must instead drop harmlessly — through quantization, the LSH scale
    path, and the all-pairs verifier."""
    from airbyte_module_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_lsh,
        with_quantized,
    )

    mixed = spark.createDataFrame(
        [(0, [0.5] * 64), (1, None), (2, [0.5] * 64)],
        "vec_id long, embedding array<double>",
    )
    assert sorted(r.vec_id for r in with_quantized(mixed).collect()) == [0, 2]
    exact = near_dup_pairs(mixed, threshold=0.9)
    assert [(r.vec_a, r.vec_b) for r in exact.collect()] == [(0, 2)]
    lsh = near_dup_pairs_lsh(mixed, threshold=0.9)
    assert [(r.vec_a, r.vec_b) for r in lsh.collect()] == [(0, 2)]


def test_near_dup_pairs_empty_corpus(spark):
    """ADVICE r3: np.stack over an empty corpus raised; the verifier must
    return an empty DataFrame with the declared pair schema instead (the
    pre-matmul join form did)."""
    from airbyte_module_spark.operators.similarity import near_dup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = near_dup_pairs(empty, threshold=0.5)
    assert out.columns == ["vec_a", "vec_b", "dot_q", "cosine"]
    assert out.count() == 0


def test_quantize_kernel_matches_spark_round_half_up(spark):
    """The numpy quantization kernel (rint + exact-half correction) must be
    bit-identical to Spark's F.round HALF_UP (and DuckDB's round, which the
    oracles use) — including exact .5 fractions both signs."""
    import numpy as np

    from airbyte_module_spark.operators.similarity import _quantize_np

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-2.0, 2.0, size=(50, 64))
    # force exact half fractions at x*1000 into some vectors
    vecs[0, :] = np.arange(64) / 1000.0 + 0.0005
    vecs[1, :] = -(np.arange(64) / 1000.0 + 0.0005)
    vecs[2, :] = 0.0005 * np.arange(-32, 32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    expr = df.selectExpr(
        "vec_id", "transform(embedding, x -> cast(round(x * 1000) as bigint)) AS qv"
    )
    expected = {r.vec_id: r.qv for r in expr.collect()}
    got = {i: list(q) for i, q in enumerate(_quantize_np(list(vecs)))}
    assert got == expected


def test_zero_norm_embedding_excluded_everywhere(spark):
    """ADVICE r4: a zero-norm vector's cosine is 0/0 = NaN, which Spark
    windows rank above every real cosine while np.lexsort ranks it last —
    the map-side prune and the global window would disagree. The defined
    semantics: a direction-less vector is never a candidate, pair member,
    or query (with_quantized drops it; the brute-force kernel masks it on
    both sides)."""
    import warnings

    from airbyte_module_spark.operators.similarity import (
        ann_brute_force,
        ann_lsh,
        near_dup_pairs_lsh,
        with_quantized,
    )

    rows = [(0, [0.5] * 64), (1, [0.0] * 64), (2, [0.5] * 64), (3, [0.4] * 64)]
    mixed = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert sorted(r.vec_id for r in with_quantized(mixed).collect()) == [0, 2, 3]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no divide-by-zero
        got = ann_brute_force(mixed, n_queries=2, k=3).collect()
    # query 1 (zero-norm) yields no rows; vec 1 is never a neighbor
    assert {r.query_id for r in got} == {0}
    assert all(r.neighbor_id != 1 for r in got)
    lsh = ann_lsh(mixed, n_queries=2, k=3).collect()
    assert {r.query_id for r in lsh} <= {0}
    assert all(r.neighbor_id != 1 for r in lsh)
    pairs = near_dup_pairs_lsh(mixed, threshold=0.0).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 2), (0, 3), (2, 3)}


def test_nan_element_raises_not_silent_garbage(spark):
    """ADVICE r4: a NaN element inside an embedding would flow through the
    int64 cast as undefined garbage (typically INT64_MIN) — the kernel must
    raise instead (the pre-kernel Catalyst form propagated null and dropped
    the pair; inventing values is worse than failing)."""
    import numpy as np

    from airbyte_module_spark.operators.similarity import (
        _quantize_np,
        near_dup_pairs_lsh,
        with_quantized,
    )

    with pytest.raises(ValueError, match="NaN"):
        _quantize_np([[float("nan")] + [0.1] * 63])
    bad = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [float("nan")] + [0.2] * 63)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NaN"):
        with_quantized(bad).collect()
    # a null ELEMENT (not a null vector) is corrupt input for the LSH path too
    partial = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [None] + [0.2] * 63)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NaN"):
        near_dup_pairs_lsh(partial).collect()


def test_adaptive_lsh_width_staircase():
    """sf1 regression class: a FIXED bucket width cannot survive corpus
    growth — at 10x the data every 4-bit bucket blew the 512-row cap and
    the capped LSH plan returned ZERO pairs. The width staircase must grow
    the bucket count so expected load stays <= NEARDUP_TARGET_BUCKET."""
    from airbyte_module_spark.operators.similarity import (
        NEARDUP_TARGET_BUCKET,
        adaptive_rows_per_band,
    )

    assert adaptive_rows_per_band(0) == 4
    assert adaptive_rows_per_band(2048) == 4
    assert adaptive_rows_per_band(2049) == 8       # sf1's 20k lands here
    assert adaptive_rows_per_band(20000) == 8
    assert adaptive_rows_per_band(128 << 8) == 8
    assert adaptive_rows_per_band((128 << 8) + 1) == 12
    assert adaptive_rows_per_band(10**9) == 16
    for n in (1, 2048, 2049, 20000, 524288):
        r = adaptive_rows_per_band(n)
        # expected mean load bounded at every step of the staircase
        assert n / (1 << r) <= NEARDUP_TARGET_BUCKET


def test_lsh_near_dup_survives_large_corpus(spark):
    """End-to-end pin of the sf1 failure: on a corpus LARGER than the
    r=4 staircase step (>2048 rows), the adaptive-width LSH path must
    still emit the planted near-duplicate pairs (the fixed-width form
    dropped every bucket at the 512 cap and returned zero rows), and the
    r-bit bucket must be the low-r-bit truncation of the full code (the
    property the SQL oracle's `code % modulus` mirror relies on)."""
    import numpy as np

    from airbyte_module_spark.operators.similarity import (
        NEARDUP_R_MAX,
        banded_buckets,
        near_dup_pairs_lsh,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(1500, 64))
    # plant 1500 exact-duplicate pairs (cosine 1.0) in a 3000-row corpus
    rows = [(i, base[i % 1500].tolist()) for i in range(3000)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = near_dup_pairs_lsh(emb, threshold=0.999)
    pairs = {(r.vec_a, r.vec_b) for r in got.collect()}
    planted = {(i, i + 1500) for i in range(1500)}
    # banding recall < 1 by design, but the fixed-width bug returned ZERO;
    # identical vectors share every band bucket, so recall here must be 1
    assert pairs >= planted
    # truncation property: explicit r=4 buckets == adaptive buckets mod 16
    wide = {
        (r.vec_id, r.band): r.bucket for r in banded_buckets(emb).collect()
    }
    narrow = {
        (r.vec_id, r.band): r.bucket
        for r in banded_buckets(emb, rows_per_band=4).collect()
    }
    assert set(wide) == set(narrow)
    assert all(wide[k] % 16 == narrow[k] for k in wide)


def test_verifier_blas_guard_and_chunking(spark):
    """Exact-arithmetic magnitude guard: embeddings whose quantized
    magnitude could overflow the int64 norm product (where DuckDB raises
    but numpy silently wraps) or break float64-BLAS dot exactness must
    raise loudly at quantization; and the chunked matmul must return the
    identical pair set across chunk boundaries."""
    import numpy as np

    from airbyte_module_spark.operators.similarity import near_dup_pairs

    huge = spark.createDataFrame(
        [(0, [4.0e6] * 64), (1, [4.0e6] * 64)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="exceeds the exact-arithmetic bound"):
        near_dup_pairs(huge, threshold=0.9).collect()

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 64))
    rows = [(i, base[i % 40].tolist()) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_a, r.vec_b) for r in near_dup_pairs(emb, 0.999).collect()}
    assert got >= {(i, i + 40) for i in range(40)}


def test_inf_element_raises_not_silent_garbage():
    """ADVICE r5: ±inf passes an isnan check, casts to INT64_MIN, and
    abs(INT64_MIN) wraps negative — the magnitude guard would never fire.
    The finiteness check must catch it as loudly as NaN."""
    import pytest as _pytest

    from airbyte_module_spark.operators.similarity import _quantize_np

    for bad in (float("inf"), float("-inf")):
        with _pytest.raises(ValueError, match="NaN/inf"):
            _quantize_np([[bad] + [0.1] * 63])
