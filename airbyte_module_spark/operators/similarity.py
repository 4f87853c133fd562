"""Embedding similarity search: brute-force cosine top-k (baseline),
random-hyperplane LSH bucketing (the scale path), multi-probe ANN, and
embedding-cosine near-duplicate pairs (all-pairs verifier + LSH-bucketed
scale form).

Determinism design: embeddings are quantized to integers (``round(x*1000)``)
before any arithmetic, so dot products and norms are *exact* int64 math and
cosine is a single double division/sqrt of exactly-represented integers —
bit-identical between Spark and the DuckDB oracle, immune to float summation
order. Quantization at 1e-3 changes cosine by < 1e-2 for unit-scale vectors,
irrelevant for ranking near-dups. Ranking is by (cosine desc, neighbor_id):
cosine is the documented metric and, being a deterministic double on both
engines, is a safe cross-engine sort key even for unnormalized embeddings
(ranking by raw dot would be cosine-equivalent only for unit-norm vectors).

Scale notes:
- every ANN top-k (brute force, LSH, IVF) is one map-side scorer,
  :func:`_map_side_topk`: the (small) query set is broadcast into one Arrow
  kernel over the corpus — embarrassingly parallel, no shuffle and no join
  on the corpus side. Brute force scores every row, O(Q*N) compute: the
  correct baseline, for Q << N.
- LSH bucketing assigns each vector an 8-bit random-hyperplane signature
  (deterministic planes derived from sha256). ANN search scores only the
  corpus rows that land *in a bucket the query probes* (expected N/256
  candidates per query), turning O(Q*N) into O(Q*N/2^planes); multi-probe
  (also searching all buckets at Hamming distance 1) trades 9x candidates
  for near-exact recall. Bucket skew is bounded because hyperplane cuts
  are near-balanced for centered data.
- near-dup at corpus scale: :func:`near_dup_pairs_lsh` — candidates are
  banded-bucket collisions (in-bucket pair expansion, candidate-linear),
  never all-pairs. :func:`near_dup_pairs` (exact all-pairs) is the
  small-scale verifier only.
- IVF (:func:`ann_ivf`) is the recall-strong ANN path: 64 k-means-trained
  centroids (deterministic driver-side Lloyd over a capped sample, exact
  integer math so the oracle reproduces them bit-for-bit), broadcast
  assignment, nprobe cells searched exactly.

Execution discipline: vector math runs in numpy inside Arrow-batched
kernels (``mapInPandas`` / ``mapInArrow`` / pandas UDFs), never as Catalyst
expressions — a 64-term product-sum folded into a join condition or fallen
out of whole-stage codegen evaluates interpreted per row or per candidate
(measured 4-13 µs/pair vs ~0.05 µs vectorized), and
``aggregate(zip_with(...))`` higher-order lambdas are interpreted in
Spark 4. Each kernel fuses every numpy step of its pass, so a pass
crosses the Python boundary once; small sets (queries, centroids, the verifier matrix) ride a broadcast,
while the near-dup scale path carries the quantized vectors through its
``(band, bucket)`` exchange so it needs no broadcast at any corpus size.
Never BatchEvalPython (plan-pinned).
"""

from __future__ import annotations

import hashlib
import os
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from airbyte_module_spark.operators.dedup import MAX_GROUP_SIZE, run_pairs, sorted_runs

N_PLANES = 8
PLANE_DIM = 64
QUANT = 1000


def plane_coeffs(n_planes: int = N_PLANES, dim: int = PLANE_DIM) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes: coeff(p,d) in [-1000, 1000]
    from sha256(f"{p}:{d}") — reproducible in any engine/language, embedded
    as literals in both the Spark plan and the SQL oracle."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.sha256(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append(h % (2 * QUANT + 1) - QUANT)
        planes.append(row)
    return planes


def _quantize_np(vectors) -> np.ndarray:
    """Quantize a batch of length-``PLANE_DIM`` float vectors to int64:
    exact round-half-away-from-zero of x*1000 (``np.rint`` everywhere —
    identical to half-away except on exact .5 fractions, corrected via
    trunc±1). Bit-identical to Spark ``F.round`` HALF_UP and DuckDB
    ``round()`` on this data. LOUD on any length != PLANE_DIM (same
    contract as :func:`with_quantized`), and on any NaN / null ELEMENT
    inside a vector: ``.astype(int64)`` of NaN is undefined (typically
    INT64_MIN), which would flow silent garbage into every downstream
    dot/cosine — the pre-kernel Catalyst form propagated null and dropped
    the pair, so the kernel must not invent values where the expression
    form had none. An empty batch quantizes to an empty (0, PLANE_DIM)
    matrix, so no kernel needs an empty-batch branch."""
    if len(vectors) == 0:
        return np.empty((0, PLANE_DIM), np.int64)
    if any(len(x) != PLANE_DIM for x in vectors):
        raise ValueError(
            f"embedding length != {PLANE_DIM} (vec_id column has a short/long vector)"
        )
    V = np.stack(np.asarray(vectors, dtype=object)).astype(np.float64) * 1000.0
    if not np.isfinite(V).all():
        # finiteness, not just NaN: ±inf passes an isnan check, casts to
        # INT64_MIN, and |INT64_MIN| wraps negative so the dim*q² magnitude
        # guard below would never fire — silent garbage in the exact paths
        raise ValueError(
            "embedding contains NaN/inf/null elements (whole-null vectors "
            "are dropped upstream; a partially-null or non-finite vector is "
            "corrupt input)"
        )
    R = np.rint(V)
    tr = np.trunc(V)
    half = np.abs(V - tr) == 0.5
    Q = np.where(half, tr + np.copysign(1.0, V), R).astype(np.int64)
    # Magnitude guard for ALL downstream exact arithmetic: with
    # dim*q² <= 2^31, norm2 fits 2^31, the norm PRODUCT na*nb fits int64
    # (DuckDB raises on BIGINT overflow while numpy silently wraps — the
    # engines would diverge), and every dot is far below the 2^53 bound
    # where float64 BLAS matmuls are still exact integers. Raise loudly
    # instead of flowing wrapped garbage through cosine filters; the fix
    # for a legitimate corpus is to normalize the embeddings.
    qmax = int(np.abs(Q).max(initial=0))
    if PLANE_DIM * qmax * qmax > 2**31:
        raise ValueError(
            f"quantized magnitude {qmax} exceeds the exact-arithmetic bound "
            f"(dim*q^2 must fit 2^31; normalize embeddings before ingest)"
        )
    return Q


@pandas_udf(
    T.StructType(
        [
            T.StructField("qv", T.ArrayType(T.LongType())),
            T.StructField("norm2", T.LongType()),
        ]
    )
)
def _quantize_norm_arrow(e: pd.Series) -> pd.DataFrame:
    """Arrow-batched quantization + norm: array<double> embedding →
    (qv = round-half-away(x*1000) as int64, norm2 = qv·qv).

    One numpy pass replaces the Catalyst ``transform`` + unrolled 64-term
    norm expression — ``transform``'s lambda is interpreted PER ELEMENT in
    Spark 4, and the dimension-checking CASE around it was cloned 128×
    into the norm and again into optimizer-inferred not-null filters
    (InferFiltersFromConstraints), which dominated ann_topk's cost
    (measured 0.7s → 0.31s for the quantize stage alone at sf0.1).
    Rounding is exact round-half-away-from-zero (rint everywhere, trunc±1
    on exact .5 fractions) — bit-identical to Spark's ``F.round`` HALF_UP
    and DuckDB's ``round()`` on this data (equality pinned against the
    expression form by tests and the oracle gate)."""
    Q = _quantize_np(e)
    qv = pd.Series(list(Q), dtype=object)  # object even when empty: list<long>
    return pd.DataFrame({"qv": qv, "norm2": (Q * Q).sum(axis=1)})


def with_quantized(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, qv, norm2) via ONE Arrow kernel pass. Dimension check is
    LOUD: ``int_dot``'s literal indexing returns null (not an error) past
    the end of a short array, which would silently drop rows through
    downstream cosine filters — so any vector whose length != PLANE_DIM
    raises inside the kernel instead. A NULL vector is exempt from the
    loud contract: it can never be a candidate or a pair member, so it is
    dropped by the filter here (equivalent to the null propagating through
    every downstream cosine filter, and it keeps None out of the numpy
    kernels). ZERO-NORM vectors (all elements quantize to 0) are likewise
    excluded: cosine against them is 0/0 = NaN, which Spark windows rank
    ABOVE every real cosine while numpy's lexsort ranks it last — no single
    defined order exists, so the one defined semantics everywhere (both
    kernels, the Catalyst forms, and the SQL oracles' fixtures, which
    contain no zero vectors) is "a direction-less vector is never a
    candidate, pair member, or query"."""
    return (
        emb.filter(F.col(vec_col).isNotNull())
        .select("vec_id", _quantize_norm_arrow(F.col(vec_col)).alias("_qn"))
        .select("vec_id", F.col("_qn.qv").alias("qv"), F.col("_qn.norm2").alias("norm2"))
        .filter(F.col("norm2") > 0)
    )


def _pdf_to_quantized(
    pdf, vec_col: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver-side quantization of a collected (vec_id, vectors) frame:
    (ids, Q, norms) sorted by vec_id, zero-norm rows dropped — the exact
    :func:`with_quantized` semantics (dim/NaN checks raise identically via
    :func:`_quantize_np`), minus the per-row Arrow round-trip. Used for the
    small sets that end up in the driver anyway (broadcast matrices, query
    sets, training samples): quantizing them through a distributed kernel
    pays a full Python-stage hop per pass for math the driver does in one
    vectorized call on the same collected rows (guide §4.1: control how
    many columns cross the boundary — here none do)."""
    ids = pdf["vec_id"].to_numpy().astype(np.int64)
    Q = _quantize_np(pdf[vec_col].to_numpy())
    norms = (Q * Q).sum(axis=1)
    keep = norms > 0
    ids, Q, norms = ids[keep], Q[keep], norms[keep]
    order = np.argsort(ids)
    return ids[order], Q[order], norms[order]


def _collect_quantized(
    emb: DataFrame, vec_col: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ONE driver job collecting the raw (vec_id, vector) columns, then
    :func:`_pdf_to_quantized`. Replaces ``with_quantized(emb).toPandas()``
    on the broadcast paths: the old form ran the quantize kernel as a
    distributed Python stage and shipped the int64 arrays back row by row
    (~0.6s/pass at 20k rows, most of it Arrow struct<array> conversion);
    the raw floats are smaller on the wire and the math is one numpy call."""
    pdf = (
        emb.filter(F.col(vec_col).isNotNull()).select("vec_id", vec_col).toPandas()
    )
    return _pdf_to_quantized(pdf, vec_col)


def _cosine(D: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """Cosine matrix of exact int64 dots ``D`` (rows x cols) from the row
    and column squared norms: ONE sqrt of the exact int64 norm PRODUCT (not
    sqrt*sqrt) and one divide — bit-identical to the SQL oracle's
    ``dot / sqrt((na*nb)::DOUBLE)``. A zero norm gives NaN; callers mask
    those rows."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return D / np.sqrt((na[:, None] * nb[None, :]).astype(np.float64))


def _srp_codes_np(
    Q: np.ndarray, n_bands: int, rows_per_band: int, stride: int | None = None
) -> np.ndarray:
    """(n_rows, n_bands) SRP bucket codes of an already-quantized matrix:
    bit r of band b = (qv · plane_{b·stride+r}) >= 0, exact int64 math.
    Shared by every LSH kernel (:func:`lsh_buckets`, :func:`ann_lsh`,
    :func:`banded_buckets`) so they all compute identical buckets.

    ``stride`` is the plane-index distance between consecutive bands
    (default ``rows_per_band`` — dense assignment). The banded near-dup
    path passes a FIXED stride (:data:`NEARDUP_R_MAX`) larger than
    ``rows_per_band`` so that growing the adaptive code width only APPENDS
    planes to each band: the r-bit bucket is exactly the low-r-bit
    truncation of the full-width code, which is what lets the SQL oracle
    mirror adaptivity with one static code expression and a modulus."""
    if stride is None:
        stride = rows_per_band
    assert stride >= rows_per_band
    all_planes = plane_coeffs(n_bands * stride)
    planes = np.array(
        [all_planes[b * stride + r]
         for b in range(n_bands) for r in range(rows_per_band)],
        dtype=np.int64,
    )
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)
    bits = (Q @ planes.T) >= 0
    return (bits.reshape(len(Q), n_bands, rows_per_band) * weights).sum(axis=2)


def lsh_buckets(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH signature per vector: (vec_id, bucket) with
    bucket in [0, 2^N_PLANES).

    ONE fused Arrow kernel (quantize + norm + SRP code in a single numpy
    pass) instead of the former quantize-kernel → codes-kernel chain: the
    chained form crossed the Python boundary twice per pass AND the
    ``norm2 > 0`` filter pushdown cloned each kernel below the filter —
    the executed plan carried SIX ArrowEvalPython nodes for one logical
    pass (guide §4.4). The fused kernel is marked non-deterministic so the
    optimizer may not duplicate it; no filter needs to cross it (the only
    predicate above it is the zero-norm drop on its own output)."""

    @pandas_udf("norm2 long, bucket long")
    def k(e: pd.Series) -> pd.DataFrame:
        Q = _quantize_np(e.to_numpy())
        bucket = _srp_codes_np(Q, 1, N_PLANES)[:, 0]
        return pd.DataFrame({"norm2": (Q * Q).sum(axis=1), "bucket": bucket})

    kernel = k.asNondeterministic()
    out = emb.filter(F.col(vec_col).isNotNull()).select(
        "vec_id", kernel(F.col(vec_col)).alias("_b")
    )
    return out.filter(F.col("_b.norm2") > 0).select(
        "vec_id", F.col("_b.bucket").alias("bucket")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (cosine desc, neighbor_id) — cosine is the metric;
    the tiebreak makes the cut deterministic. Mirrored in the SQL oracles."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q", "cosine")
    )


_TOPK_SCHEMA = "query_id long, neighbor_id long, dot_q long, cosine double"


def _map_side_topk(
    emb: DataFrame, n_queries: int, k: int, vec_col: str, cells=None
) -> DataFrame:
    """The one cosine top-k scorer behind :func:`ann_brute_force`,
    :func:`ann_lsh` and :func:`ann_ivf`: the first ``n_queries`` vec_ids
    are the query set; output (query_id, neighbor_id, rank, dot_q, cosine),
    ranked by (cosine desc, neighbor_id) per query.

    Execution is MAP-SIDE TOP-K: the queries are collected once (a tiny
    pushed-down scan) and quantized driver-side, the (tiny) query matrix is
    broadcast, each corpus batch is quantized and scored with one exact
    numpy int64 matmul, and only its per-batch top-k per query is emitted,
    so the final rank window sees Q·k·batches candidate rows instead of Q·N
    scored pairs. Per-batch top-k uses the identical (cosine desc,
    neighbor_id asc) order as the global window, so the global winners are
    always inside the surviving candidates — exactness is unchanged while
    the shuffle shrinks from the corpus size to metadata size (the r1-r3
    crossJoin + full-width window form shuffled every scored pair; at
    10^8 vectors that window IS the job). Math is bit-identical to the
    DuckDB oracle: exact int64 dot/norms, one IEEE-double sqrt+divide.

    ``cells`` restricts the candidates: ``cells(QM, q_norms)`` returns
    ``(cell_of, probe)``, where ``cell_of(C, norms)`` maps each quantized
    corpus row to a cell index and ``probe[q, cell]`` says whether query
    ``q`` searches that cell. ``cell_of`` rides the kernel closure (plain
    pickle, which the broadcast uses, cannot serialize a local function);
    ``probe`` rides the broadcast with the queries. ``cells=None`` scores
    every row (brute force).

    Zero-norm vectors are excluded on BOTH sides (the
    :func:`with_quantized` contract): their cosine is 0/0 = NaN, which
    Spark's window ranks above every real cosine while ``np.lexsort``
    ranks it last — the map-side prune and the global window would
    disagree on which candidates survive, silently breaking exactness.
    Masking them out gives both forms (and the oracle, whose fixtures
    have no zero vectors) one defined semantics."""
    spark = emb.sparkSession
    corpus = emb.filter(F.col(vec_col).isNotNull()).select("vec_id", vec_col)
    q_ids, QM, q_norms = _collect_quantized(
        corpus.filter(F.col("vec_id") < n_queries), vec_col
    )  # queries ride a broadcast, never a join; zero-norm queries are dropped
    if not len(q_ids):
        return _rank_topk(spark.createDataFrame([], _TOPK_SCHEMA), k)
    cell_of, probe = cells(QM, q_norms) if cells else (None, None)
    bc = spark.sparkContext.broadcast((q_ids, QM, q_norms, probe))

    def score(batches):
        q_ids, QM, q_norms, probe = bc.value
        for b in batches:
            ids = b["vec_id"].to_numpy().astype(np.int64)
            C = _quantize_np(b[vec_col].to_numpy())
            norms = (C * C).sum(axis=1)
            D = QM @ C.T  # exact int64, (n_queries, batch)
            cos = _cosine(D, q_norms, norms)
            keep = (norms > 0)[None, :] & (ids[None, :] != q_ids[:, None])
            if cell_of is not None:
                keep &= probe[:, cell_of(C, norms)]
            for qi in range(len(q_ids)):
                cand = np.flatnonzero(keep[qi])
                sel = cand[np.lexsort((ids[cand], -cos[qi, cand]))[:k]]
                if len(sel):
                    yield pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": ids[sel],
                            "dot_q": D[qi, sel],
                            "cosine": cos[qi, sel],
                        }
                    )

    return _rank_topk(corpus.mapInPandas(score, schema=_TOPK_SCHEMA), k)


def ann_brute_force(
    emb: DataFrame, n_queries: int = 10, k: int = 5, vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k: the first ``n_queries`` vec_ids are the query set,
    scored against the whole corpus; rank by (cosine desc, vec_id) per
    query. Output: (query_id, neighbor_id, rank, dot_q, cosine). Runs the
    map-side scorer (:func:`_map_side_topk`) with no candidate filter."""
    return _map_side_topk(emb, n_queries, k, vec_col)


def ann_lsh(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate cosine top-k searched within the query's LSH bucket
    (single-probe), or within the bucket plus all 8 Hamming-distance-1
    buckets (``multiprobe=True`` — a query near a hyperplane sits right at a
    bucket boundary, so flipping each bit recovers the neighbors that fell
    on the other side; measured recall@5 goes from ~0.5 single-probe to
    ~0.9+). Same output shape as :func:`ann_brute_force`.

    Execution is the map-side scorer (:func:`_map_side_topk`) with SRP
    buckets as cells: the queries' probe-bucket sets ride the broadcast,
    and each corpus batch is bucketed (:func:`_srp_codes_np`, the same
    planes as :func:`lsh_buckets`) inside the one scoring kernel, which
    keeps only the rows landing in a probe bucket. The former
    bucket-equi-join form was candidate-linear too, but its plan chained
    two corpus-wide Python kernels (quantize, codes), cloned them under
    filter pushdown (18 ArrowEvalPython nodes executed — guide §4.4), and
    paid a third Python hop for the pair dot; one kernel does all of it in
    a single boundary crossing. Candidates and scores are identical: each
    corpus vector lives in exactly one bucket and probe buckets are
    distinct, so membership-in-probe-set equals the old join condition row
    for row."""

    def cells(QM, q_norms):
        flips = [0] + ([1 << i for i in range(N_PLANES)] if multiprobe else [])
        probes = _srp_codes_np(QM, 1, N_PLANES) ^ np.array(flips)  # (n_q, probes)
        probe = np.zeros((len(QM), 1 << N_PLANES), dtype=bool)
        np.put_along_axis(probe, probes, True, axis=1)
        return (lambda C, norms: _srp_codes_np(C, 1, N_PLANES)[:, 0]), probe

    return _map_side_topk(emb, n_queries, k, vec_col, cells)


N_IVF_CELLS = 64
N_IVF_PROBES = 8
MAX_TRAIN_ROWS = 4096
KMEANS_ITERS = 2

# --------------------------------------------------------------- corpus cache
#: Session-scoped memo of per-corpus *plan-time parameters* — the corpus row
#: count (drives the verifier subsample modulus, the adaptive LSH bucket
#: width, and the IVF training sample) and the trained IVF centroids. These
#: are deterministic pure functions of the corpus content, re-derived per
#: query call in r5 — a suite touching several similarity queries re-counted
#: (and re-Lloyd-ed) the same corpus every time, which is also the wrong
#: production lifecycle (you train an IVF quantizer once per corpus, not per
#: query). Keyed on (canonicalized plan, input files + local mtime/size), so
#: a different filter over the same files, or a rewritten file at the same
#: path, misses the cache and recomputes; a corpus not backed by files
#: (createDataFrame in tests) is never cached. Bounded FIFO — this memoizes
#: metadata-sized artifacts (one int; 64 x 64 ints), never row data, and
#: never query results: every bench/oracle invocation still computes its
#: answer from the parquet inputs.
_CORPUS_CACHE: dict = {}
_CORPUS_CACHE_MAX = 64
#: Cache-miss counters, exposed for the lifecycle regression tests (a second
#: identical call must not re-count / re-train).
CACHE_MISSES = {"count": 0, "centroids": 0}


def _corpus_cache_key(df: DataFrame):
    """(canonicalized plan, input files + local mtime/size), or ``None``
    when the corpus is not backed by files. A cached corpus DataFrame (or a
    fresh read of a file some live ``.cache()`` covers, which Spark swaps
    for the cached relation) reports no input files, so it is never
    memoized: it recomputes every time, which is correct but slower."""
    try:
        files = df.inputFiles()
        sem = df.semanticHash()
    except Exception:
        return None
    if not files:
        return None
    sig = []
    for f in sorted(files):
        p = urlparse(f)
        mtime = size = None
        if p.scheme in ("file", ""):
            try:
                st = os.stat(p.path or f)
                mtime, size = st.st_mtime_ns, st.st_size
            except OSError:
                pass
        sig.append((f, mtime, size))
    return (sem, tuple(sig))


def _corpus_memo(df: DataFrame, slot, compute):
    key = _corpus_cache_key(df)
    if key is None:
        CACHE_MISSES[slot if isinstance(slot, str) else slot[0]] += 1
        return compute()
    ent = _CORPUS_CACHE.get(key)
    if ent is None:
        if len(_CORPUS_CACHE) >= _CORPUS_CACHE_MAX:
            _CORPUS_CACHE.pop(next(iter(_CORPUS_CACHE)))
        ent = _CORPUS_CACHE[key] = {}
    if slot not in ent:
        CACHE_MISSES[slot if isinstance(slot, str) else slot[0]] += 1
        ent[slot] = compute()
    return ent[slot]


def corpus_count(df: DataFrame) -> int:
    """Corpus row count, memoized per corpus identity (see _CORPUS_CACHE)."""
    return _corpus_memo(df, "count", df.count)


def _train_centroids_np(
    emb: DataFrame, n_cells: int, vec_col: str
) -> tuple[np.ndarray, np.ndarray] | None:
    """TRAINED coarse quantizer: deterministic Lloyd (k-means) refinement of
    the first-``n_cells`` seed, run in the driver over a modulus-capped
    sample. Returns (centroid int64 matrix, norms) — row c is cell c — or
    ``None`` for an empty corpus.

    Every step is integer-exact or correctly-rounded IEEE, so the DuckDB
    oracle (oracle_sql._ivf_train_cte) reproduces the centroids BIT-FOR-BIT:

    - sample: ``vec_id % ceil(count/4096) == 0`` over non-null, nonzero-norm
      vectors (the near_dup verifier's modulus discipline) — training cost is
      O(cap) regardless of corpus size, the standard IVF discipline at scale
      (a 10^10-row corpus trains on the same 4096 rows).
    - init: the ``n_cells`` lowest-vec_id sample rows, cell = rank-1 (the
      r1-r4 untrained quantizer used exactly these seeds as final cells).
    - ``KMEANS_ITERS`` fixed Lloyd steps: assignment = argmax cosine with
      first-max (lowest cell) tiebreak — identical to the corpus assignment
      kernel; update = element-wise FLOOR division of the exact int64 member
      sum by the member count. floor(sum/cnt) via double division is exact
      here: |sum| < 2^53 and the true quotient is >= 1/cnt > 1 ulp away from
      any integer it could round across. An empty cell — or one whose mean
      rounds to the zero vector, which has no cosine direction — keeps its
      previous centroid.

    Why train at all: on clustered corpora, arbitrary-row seeds put multiple
    centroids inside one dense cluster and none in sparse regions; Lloyd
    steps move them toward the data's own geometry, raising recall at equal
    nprobe/scan fraction (measured on the sf0.001 fixture: recall@5
    0.88 -> 0.90 at an unchanged ~12% scan fraction, and 2 iterations reach
    the CONVERGED assignment — iterations 3 and 4 are bit-identical no-ops —
    so KMEANS_ITERS=2 is the saturation point, not a budget cut;
    tests/test_operators.py::test_ann_recall_gate)."""
    total = corpus_count(emb)
    m = max(1, -(-total // MAX_TRAIN_ROWS))  # ceil
    # ONE collect of the raw sample rows; quantization runs driver-side on
    # the same rows (_pdf_to_quantized == with_quantized semantics, minus a
    # distributed Python stage per training call — guide §4.1)
    spdf = (
        emb.filter((F.col("vec_id") % m == 0) & F.col(vec_col).isNotNull())
        .select("vec_id", vec_col)
        .toPandas()
    )
    s_ids, S, sn = _pdf_to_quantized(spdf, vec_col)
    if len(s_ids) == 0:
        return None
    k = min(n_cells, len(s_ids))
    C = S[:k].copy()
    cn = sn[:k].copy()
    for _ in range(KMEANS_ITERS):
        assign = _nearest_cell(S, sn, C, cn)
        for c in range(k):
            members = assign == c
            cnt = int(members.sum())
            if cnt == 0:
                continue
            mv = S[members].sum(axis=0) // cnt  # exact int64 floor mean
            mn = int((mv * mv).sum())
            if mn == 0:
                continue
            C[c] = mv
            cn[c] = mn
    return C, cn


def _nearest_cell(
    Q: np.ndarray, n2: np.ndarray, CM: np.ndarray, c_norms: np.ndarray
) -> np.ndarray:
    """Cell of each quantized row: argmax cosine(row, centroid) over exact
    int64 dots and one IEEE-double sqrt+divide, FIRST maximum on ties — the
    (cosine desc, cell asc) order the SQL oracle uses. Shared by Lloyd
    training, :func:`ivf_assign` and :func:`ann_ivf`'s scoring kernel.
    Zero-norm rows have NaN cosine everywhere and get cell 0; every caller
    drops them before anything reads the value."""
    cos = _cosine(Q @ CM.T, n2, c_norms)
    return np.argmax(np.nan_to_num(cos, nan=-np.inf), axis=1)


def _train_centroids(emb: DataFrame, n_cells: int, vec_col: str):
    """Train-once lifecycle for the coarse quantizer: centroids are a
    deterministic pure function of the corpus, so they are memoized per
    corpus identity (_CORPUS_CACHE) — ``ann_ivf``/``ivf_assign`` invoked
    repeatedly against the same corpus pay count+collect+Lloyd exactly once
    (the r5 per-call retraining was the measured +48% ann_ivf_cells
    regression, and re-Lloyd-ing per query is the wrong shape at any scale).
    The artifact is 64 x 64 int64 + norms — metadata-sized."""
    return _corpus_memo(
        emb,
        ("centroids", n_cells, vec_col),
        lambda: _train_centroids_np(emb, n_cells, vec_col),
    )


def ivf_assign(
    emb: DataFrame,
    n_cells: int = N_IVF_CELLS,
    vec_col: str = "embedding",
    cells_only: bool = False,
) -> DataFrame:
    """IVF coarse assignment: (vec_id, qv, norm2, cell) with cell = argmax
    cosine(v, centroid), tiebreak lowest cell id (:func:`_nearest_cell`).
    Centroids come from the trained quantizer (:func:`_train_centroids_np`
    — driver-side Lloyd over a capped sample, memoized per corpus).
    ``cells_only=True`` returns just (vec_id, cell) and skips shipping the
    int64 vector arrays back across the Arrow boundary (the struct<array>
    column was most of the kernel's per-row cost; the cells query never
    reads it).

    Plan shape: the (tiny, deterministic) centroid matrix is broadcast into
    ONE fused Arrow kernel — quantize, norm and argmax-cosine assignment in
    a single numpy pass per batch. r5 chained a quantize kernel into an
    assign kernel (two Python boundary crossings per pass), and the
    ``norm2 > 0`` filter pushdown cloned them below the filter (6
    ArrowEvalPython nodes executed for one logical pass — guide §4.4); the
    fused kernel is non-deterministic so the optimizer may not duplicate
    it. Cosine doubles are the same IEEE ops as the expression form
    (oracle-pinned). Zero-norm rows get a placeholder cell inside the
    kernel and are dropped by the norm2 filter, exactly like the former
    with_quantized chain."""
    trained = _train_centroids(emb, n_cells, vec_col)
    if trained is None:
        q = with_quantized(emb, vec_col)
        out = q.withColumn("cell", F.lit(None).cast("long"))
        return out.select("vec_id", "cell") if cells_only else out
    bc = emb.sparkSession.sparkContext.broadcast(trained)
    fields = "norm2 long, cell long" if cells_only else (
        "qv array<long>, norm2 long, cell long"
    )

    @pandas_udf(fields)
    def assign(e: pd.Series) -> pd.DataFrame:
        CM, c_norms = bc.value
        Q = _quantize_np(e.to_numpy())
        n2 = (Q * Q).sum(axis=1)
        cols = {"norm2": n2, "cell": _nearest_cell(Q, n2, CM, c_norms)}
        if not cells_only:
            cols = {"qv": pd.Series(list(Q), dtype=object), **cols}
        return pd.DataFrame(cols)

    kernel = assign.asNondeterministic()
    out = emb.filter(F.col(vec_col).isNotNull()).select(
        "vec_id", kernel(F.col(vec_col)).alias("_a")
    ).filter(F.col("_a.norm2") > 0)
    if cells_only:
        return out.select("vec_id", F.col("_a.cell").alias("cell"))
    return out.select(
        "vec_id",
        F.col("_a.qv").alias("qv"),
        F.col("_a.norm2").alias("norm2"),
        F.col("_a.cell").alias("cell"),
    )


def ann_ivf(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = N_IVF_CELLS,
    n_probes: int = N_IVF_PROBES,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate cosine top-k — the recall-strong ANN scale path.

    Each query exhaustively scores only the vectors assigned to its
    ``n_probes`` nearest cells (expected n_probes/n_cells of the corpus).
    Measured on the sf0.001 fixture: recall@5 = 0.90 scanning ~12% of the
    corpus (n_cells=64, n_probes=8, trained centroids; 0.88 with the r1-r4
    untrained first-64 seeds) — versus 0.10 for 8-plane SRP-LSH with
    Hamming-1 multiprobe at 3.5% scanned: hyperplane LSH collapses when true
    neighbors sit at moderate cosine (this fixture's top-5 live at
    0.27-0.39), while IVF cells follow the data's own geometry. Same output
    shape as :func:`ann_brute_force`.

    Execution: the map-side scorer (:func:`_map_side_topk`) with trained
    IVF cells. Probe cells are ranked driver-side per query with the
    (cosine desc, cell asc) order the former window used (a stable argsort
    of the negated exact doubles; centroid norms are > 0 by construction,
    so no NaN enters the sort); the probe masks ride the broadcast, the
    centroid matrix rides the kernel closure, and each corpus batch is
    assigned to cells with one matmul-argmax (:func:`_nearest_cell`, the
    :func:`ivf_assign` rule) inside the one scoring kernel. The r5 form ran
    assignment and scoring as a broadcast JOIN over a two-kernel quantize
    chain — 14 executed ArrowEvalPython nodes (filter-pushdown cloning,
    guide §4.4) plus a probe-ranking window; candidates and scores here are
    row-identical (each vector lives in exactly one cell; probe cells are
    distinct per query)."""
    trained = _train_centroids(emb, n_cells, vec_col)
    if trained is None:
        return _rank_topk(emb.sparkSession.createDataFrame([], _TOPK_SCHEMA), k)
    CM, c_norms = trained

    def cells(QM, q_norms):
        qcos = _cosine(QM @ CM.T, q_norms, c_norms)
        top = np.argsort(-qcos, axis=1, kind="stable")[:, :n_probes]
        probe = np.zeros((len(QM), len(CM)), dtype=bool)
        np.put_along_axis(probe, top, True, axis=1)
        return (lambda C, norms: _nearest_cell(C, norms, CM, c_norms)), probe

    return _map_side_topk(emb, n_queries, k, vec_col, cells)


MAX_VERIFIER_ROWS = 20_000


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    max_rows: int | None = MAX_VERIFIER_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >=
    threshold). Exact all-pairs form — O(N²) candidate pairs, the
    small-scale VERIFIER only; the shipped scale path is
    :func:`near_dup_pairs_lsh` (bucket-collision candidates), and the tests
    check that path against this one.

    ``max_rows`` guards the registry entry at arbitrary sf: above it the
    corpus is deterministically subsampled (``vec_id % ceil(n/max_rows) ==
    0``) before pair generation, so the verifier stays O(max_rows²) instead
    of O(N²) — it verifies the LSH path on a reproducible sample rather than
    never finishing. Pass ``max_rows=None`` for the unguarded exact form.
    The DuckDB oracle applies the identical modulus.

    Execution: broadcast block-matmul. The (sample-capped) quantized matrix
    is broadcast once (cap 20k × 64 int64 = 10 MB); each partition scores
    its OWN rows against the whole matrix with one numpy int64 matmul and
    emits only the above-threshold pairs. O(N²) multiply-adds but no O(N²)
    shuffle and no per-pair rows in the plan. The math is bit-identical to
    the SQL oracle: exact int64 dot, exact int64 norm product, one
    IEEE-double sqrt + divide."""
    import pandas as pd

    PAIR_SCHEMA = "vec_a long, vec_b long, dot_q long, cosine double"
    spark = emb.sparkSession
    if max_rows:
        n = corpus_count(emb)
        if n > max_rows:
            m = -(-n // max_rows)  # ceil
            emb = emb.filter(F.col("vec_id") % m == 0)
    # ONE collect + driver quantize builds the broadcast matrix
    # (_collect_quantized); the distributed side then carries ONLY vec_id —
    # each task re-derives its rows' vectors from the broadcast by binary
    # search instead of shipping a second quantize-kernel pass through the
    # plan (r5 ran the Arrow quantize stage twice per query: once under
    # toPandas, once under the scoring job — guide §4.1, fewer boundary
    # crossings; §2.3, shuffle keys instead of payloads).
    ids_all, M_all, norms_all = _collect_quantized(emb, vec_col)
    if len(ids_all) == 0:
        # an empty corpus has no pairs (the pre-matmul join form returned
        # an empty DataFrame here too)
        return spark.createDataFrame([], PAIR_SCHEMA)
    bc = spark.sparkContext.broadcast((ids_all, M_all, norms_all))
    thr = float(threshold)
    # Spread the row side across the cluster: the corpus usually arrives as
    # ONE parquet file -> one partition, which would run the whole O(N²)
    # matmul on a single core (measured: the entire sf1 verifier cost was
    # one task). ~512 rows per task gives every core a block while keeping
    # tasks coarse enough to amortize the Python worker round-trip; the
    # shuffle moved is only the 8-byte ids (the vectors ride the broadcast).
    par = spark.sparkContext.defaultParallelism
    side = emb.select("vec_id").repartition(
        max(1, min(par, -(-len(ids_all) // 512)))
    )

    def score(batches):
        b_ids, B, b_norms = bc.value
        # The N×64 @ 64×N matmul in float64, NOT int64: numpy routes int64
        # matmul through a naive non-BLAS loop (measured 104s for the full
        # 20k×20k block at sf1 vs ~2s via BLAS). The result is still the
        # EXACT integer dot — every product and partial sum of quantized
        # coordinates stays far below 2^53, where float64 arithmetic on
        # integers is exact — guarded loudly: 64 * qmax² < 2^53.
        Bf = B.astype(np.float64)
        # Chunk the broadcast side: a full Arrow batch against all 20k
        # corpus rows is a 10000×20000 float64 score matrix (1.6 GB) plus
        # an equal-size norm-product and mask — 32 concurrent workers at
        # that peak thrash the allocator (the measured 100s+ at sf1 was
        # allocation/memory traffic, not multiply-adds). 2048-column
        # chunks bound peak per-worker scratch to ~50 MB at any corpus
        # size with BLAS still saturated.
        B_CHUNK = 2048
        for batch in batches:
            raw_ids = batch["vec_id"].to_numpy().astype(np.int64)
            # rows not in the broadcast (null embedding, zero norm, or the
            # id simply absent) are masked out — identical to the former
            # with_quantized drop
            pos = np.searchsorted(b_ids, raw_ids).clip(0, len(b_ids) - 1)
            found = b_ids[pos] == raw_ids
            a_ids = raw_ids[found]
            if not len(a_ids):
                continue
            idx = pos[found]
            a_norms = b_norms[idx]
            # exactness of the float64 dot is guaranteed by _quantize_np's
            # magnitude guard (dim*q² <= 2^31 << 2^53) — every row of the
            # broadcast matrix has passed through it
            Af = Bf[idx]
            out_a, out_b, out_d, out_c = [], [], [], []
            for lo in range(0, len(b_ids), B_CHUNK):
                hi = lo + B_CHUNK
                D = np.rint(Af @ Bf[lo:hi].T).astype(np.int64)  # exact
                cos = _cosine(D, a_norms, b_norms[lo:hi])
                mask = (cos >= thr) & (a_ids[:, None] < b_ids[None, lo:hi])
                ai, bj = np.nonzero(mask)
                if len(ai):
                    out_a.append(a_ids[ai])
                    out_b.append(b_ids[lo:hi][bj])
                    out_d.append(D[ai, bj])
                    out_c.append(cos[ai, bj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "dot_q": np.concatenate(out_d),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return side.mapInPandas(score, schema=PAIR_SCHEMA)


N_NEARDUP_BANDS = 4
#: Fixed plane stride between bands: band b owns planes
#: [b*NEARDUP_R_MAX, b*NEARDUP_R_MAX + rows_per_band). Because the stride —
#: not the adaptive width — fixes plane assignment, an r-bit bucket is the
#: low-r-bit truncation of the 16-bit code, and the static SQL oracle can
#: mirror any adaptive width with ``full_code % (1 << r)``.
NEARDUP_R_MAX = 16
#: Target mean LSH bucket load the adaptive width maintains. 128 keeps the
#: in-bucket pair expansion ~128²/2 per bucket and every realistic bucket
#: far below the MAX_GROUP_SIZE=512 degenerate-bucket cap.
NEARDUP_TARGET_BUCKET = 128


def adaptive_rows_per_band(n_rows: int) -> int:
    """Bucket-width staircase for the banded near-dup path: the smallest
    r in {4, 8, 12, 16} such that n_rows / 2^r <= NEARDUP_TARGET_BUCKET
    (i.e. expected bucket load stays bounded as the corpus grows — a FIXED
    width is the thing sf1 falsified: at 10× the data every 4-bit bucket
    blew the 512 cap and the capped plan returned zero pairs). Integer
    comparisons only, so the SQL oracle reproduces it exactly (no
    float-log2 edge cases). The recall trade (wider buckets collide fewer
    true pairs per band) is the documented SRP-LSH cost of corpus growth;
    production can raise ``n_bands`` to buy recall back — the knob is
    already a parameter of :func:`banded_buckets`."""
    for r in (4, 8, 12):
        if n_rows <= NEARDUP_TARGET_BUCKET << r:
            return r
    return 16


def banded_buckets(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_bands: int = N_NEARDUP_BANDS,
    rows_per_band: int | None = None,
) -> DataFrame:
    """Multi-table SRP-LSH: ``n_bands`` independent ``rows_per_band``-bit
    hyperplane signatures per vector (plane stride :data:`NEARDUP_R_MAX`).
    Output: (vec_id, qv, norm2, band, bucket) — one row per band.
    ``rows_per_band=None`` (the default) adapts the width to the corpus
    size via :func:`adaptive_rows_per_band` — one count() job at plan
    time (a column-pruned scan; the same eager-parameter pattern as the
    verifier's cap, and the price of bucket load that stays bounded at
    any corpus size).

    Why banding instead of one wide signature: a single 8-plane bucket
    collides a cosine-0.45 pair with p = (1-θ/π)^8 ≈ 0.03 (useless recall);
    with 4 bands of 4 planes a pair is a candidate if ANY band agrees —
    p = 1-(1-(1-θ/π)^4)^4 ≈ 0.54 at cosine 0.45 and ≈ 0.96 at cosine 0.9,
    while a random pair (cosine 0) still collides in only ~4/16 of buckets'
    worth of pairs (1-(1-1/16)^4 ≈ 0.23 of a 2^4-bucket table per band).
    Same banding trade as MinHash-LSH (operators/dedup.py).

    Execution: ONE ``mapInArrow`` kernel quantizes each batch
    (:func:`_quantize_np` — the same loud length and NaN/inf checks as
    :func:`with_quantized`), computes norms and SRP codes
    (:func:`_srp_codes_np`), and drops null and zero-norm vectors exactly
    as :func:`with_quantized` does. ``qv`` leaves the kernel as a flat
    Arrow list buffer, never as per-row Python lists."""
    if rows_per_band is None:
        rows_per_band = adaptive_rows_per_band(corpus_count(emb))
    bands = np.arange(n_bands, dtype=np.int32)

    def kernel(batches):
        for b in batches:
            Q = _quantize_np(b.column(1).to_numpy(zero_copy_only=False))
            norm2 = (Q * Q).sum(axis=1)
            keep = norm2 > 0
            ids = np.asarray(b.column(0), dtype=np.int64)[keep]
            Q, norm2 = Q[keep], norm2[keep]
            codes = _srp_codes_np(Q, n_bands, rows_per_band, stride=NEARDUP_R_MAX)
            n_out = len(ids) * n_bands
            qv = pa.ListArray.from_arrays(
                pa.array(np.arange(n_out + 1, dtype=np.int32) * PLANE_DIM),
                pa.array(np.repeat(Q, n_bands, axis=0).ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_bands)),
                    qv,
                    pa.array(np.repeat(norm2, n_bands)),
                    pa.array(np.tile(bands, len(ids))),
                    pa.array(codes.ravel()),
                ],
                names=["vec_id", "qv", "norm2", "band", "bucket"],
            )

    return (
        emb.filter(F.col(vec_col).isNotNull())
        .select("vec_id", vec_col)
        .mapInArrow(
            kernel, "vec_id long, qv array<long>, norm2 long, band int, bucket long"
        )
    )


#: Candidate pairs scored per numpy step in :func:`near_dup_pairs_lsh`.
#: Gathering both vectors of every candidate pair of a partition at once
#: costs ~1.5 KB per pair (two 64-long gathers and their product) — millions
#: of pairs per partition at 250k vectors, enough to kill the Python
#: worker; a chunk bounds the temporary arrays to ~100 MB.
PAIR_CHUNK = 65_536


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    max_bucket_size: int | None = MAX_GROUP_SIZE,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at corpus scale: candidate
    pairs come from banded-LSH bucket collisions (:func:`banded_buckets`),
    never all-pairs. Precision is 1 (every emitted score is bit-identical
    to the all-pairs verifier :func:`near_dup_pairs`); recall per
    :func:`banded_buckets`.

    ``max_bucket_size`` caps a degenerate bucket — a mass-duplicated
    embedding — exactly like the dedup caps (``None``: uncapped); audit
    drops with ``oversize_groups``.

    Plan: ``banded_buckets → repartition(band, bucket) → mapInArrow(score)
    → distinct``, the same at every corpus size. The exchange carries each
    row's quantized vector, so scoring needs no broadcast and no join. The
    hash partitioning puts every (band, bucket) group whole inside one
    task, and ``score`` concatenates the partition before grouping, so a
    group split across Arrow batches keeps all of its pairs. Within a
    group, members are ordered by vec_id and every a < b pair of a bucket
    within the cap (:func:`operators.dedup.run_pairs`) is scored once per
    band, in :data:`PAIR_CHUNK` steps, with exact int64 dots and one
    IEEE-double sqrt + divide.
    Cross-band duplicates carry bit-identical scores, and the final
    distinct over the thresholded pairs collapses them."""
    thr = float(threshold)

    def score(batches):
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        t = pa.Table.from_batches(parts)
        ids = t.column("vec_id").to_numpy()
        n2 = t.column("norm2").to_numpy()
        Q = t.column("qv").combine_chunks().flatten().to_numpy()
        Q = Q.reshape(-1, PLANE_DIM)
        keys = [t.column(c).to_numpy() for c in ("band", "bucket")]
        ai, bi = run_pairs(*sorted_runs(keys, within=ids), max_bucket_size)
        for lo in range(0, len(ai), PAIR_CHUNK):
            a = ai[lo : lo + PAIR_CHUNK]
            b = bi[lo : lo + PAIR_CHUNK]
            D = (Q[a] * Q[b]).sum(axis=1)
            cos = D / np.sqrt((n2[a] * n2[b]).astype(np.float64))
            keep = cos >= thr
            if keep.any():
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids[a[keep]]),
                        pa.array(ids[b[keep]]),
                        pa.array(D[keep]),
                        pa.array(cos[keep]),
                    ],
                    names=["vec_a", "vec_b", "dot_q", "cosine"],
                )

    par = emb.sparkSession.sparkContext.defaultParallelism
    return (
        banded_buckets(emb, vec_col)
        .repartition(par, "band", "bucket")
        .mapInArrow(score, "vec_a long, vec_b long, dot_q long, cosine double")
        .distinct()
    )
