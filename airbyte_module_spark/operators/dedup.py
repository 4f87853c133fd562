"""Document deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.

All variants follow the same scale discipline:

- **exact**: one hash-groupBy on the normalized-content sha256 — a single
  shuffle keyed by a uniform hash; trivially skew-free.
- **MinHash + LSH**: per-doc signature (narrow, no shuffle), banding, then
  one exchange *on the band bucket* and in-bucket pair expansion inside an
  Arrow kernel — candidate generation is output-linear in the number of
  colliding docs, never all-pairs. This is the 100 TB path.
- **SimHash**: per-doc 32-bit fingerprint over distinct tokens (narrow, no
  shuffle); near-dup buckets = equal fingerprints.
- **n-gram Jaccard**: inverted index on shingles (posting lists + per-doc
  pair counting) — exact similarity, used at moderate scale or as the
  verifier behind LSH candidates. All-pairs comparison is never
  materialized.

Tokenization, shingling and grouping are Catalyst expressions; the per-doc
signatures (``with_minhash``, ``simhash32``), the LSH pair expansion and the
n-gram pair counter are vectorized Arrow kernels (``pandas_udf`` /
``mapInArrow`` / ``mapInPandas``), never row-at-a-time Python UDFs. Every
"group → capped a<b pairs" step goes through one numpy helper pair,
:func:`sorted_runs` + :func:`run_pairs`. Every hash is sha256-derived and
bit-identical to the SQL side (``sha2``, :func:`operators.text.hash64`), so
every operator has a value-exact DuckDB oracle (see ``oracle_sql.py``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from airbyte_module_spark.operators.text import word_shingles

N_MINHASHES = 16
N_BANDS = 4  # 4 bands x 4 rows: candidate if any 4-run of minhashes agrees

#: Universal-hash modulus for the minhash family: 2^31 - 1 (Mersenne prime).
#: With a 32-bit base hash and 31-bit coefficients, a*h + b < 2^63 — exact
#: int64 arithmetic in both Spark and DuckDB, no overflow, no int128.
MINHASH_PRIME = 2_147_483_647


def minhash_coeffs(n_hashes: int = N_MINHASHES) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (a_j in [1, p-1], b_j in [0, p-1])
    for the universal hash family h_j(x) = (a_j*x + b_j) mod p, derived from
    sha256 so any engine/language reproduces them — embedded as literals in
    both the Spark plan and the SQL oracle (same pattern as
    similarity.plane_coeffs)."""
    out = []
    for j in range(n_hashes):
        a = int(hashlib.sha256(f"mh-a:{j}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.sha256(f"mh-b:{j}".encode()).hexdigest()[:15], 16)
        out.append((a % (MINHASH_PRIME - 1) + 1, b % MINHASH_PRIME))
    return out


def with_minhash(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc_id + MinHash signature columns over word n-gram shingles.

    ONE Arrow kernel per partition computes the whole signature — shingle
    join, sha256 base hash, 16 affine mins — with NO shuffle at all (the
    signature is a per-document value; the r5 explode + 16-way min groupBy
    moved 7.4M shingle rows through an exchange at sf1 to compute it, and
    the shingle arrays themselves came from an interpreted zip_with
    evaluated per element). Tokenization stays in the JVM (``tokens`` —
    Java regex ``\\s+`` semantics, shared with every other operator and the
    SQL oracle); the kernel only joins adjacent tokens with a literal
    space, exactly ``word_shingles``'s concat, so no Python regex ever
    touches the text. The base hash is hashlib sha256 over the UTF-8
    shingle — bit-identical to ``sha2(s, 256)`` — memoized per task
    (boilerplate shingles repeat across documents), and the affine
    transforms are one numpy int64 op per document (a*h < 2^63: exact).
    Docs with < n tokens (or null text) yield null signatures and are
    dropped, mirroring the r1-r5 explode semantics. The kernel is
    non-deterministic so the null-drop filter is not pushed below it
    (which would clone the whole kernel — guide §4.4)."""
    from airbyte_module_spark.operators.text import tokens

    coeffs = minhash_coeffs()
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    fields = ", ".join(f"m{j} long" for j in range(N_MINHASHES))

    @pandas_udf(fields)
    def mh(tok_col: pd.Series) -> pd.DataFrame:
        out = np.zeros((len(tok_col), N_MINHASHES), dtype=np.int64)
        mask = np.ones(len(tok_col), dtype=bool)  # True = null row
        memo: dict[str, int] = {}
        for i, tk in enumerate(tok_col):
            if tk is None or len(tk) < n:
                continue
            seen = set()
            bases = []
            for j in range(len(tk) - (n - 1)):
                s = " ".join(tk[j : j + n])
                if s in seen:
                    continue
                seen.add(s)
                h = memo.get(s)
                if h is None:
                    h = int(
                        hashlib.sha256(s.encode("utf-8")).hexdigest()[:8], 16
                    )
                    memo[s] = h
                bases.append(h)
            hb = np.array(bases, dtype=np.int64)
            out[i] = ((hb[:, None] * A[None, :] + B[None, :]) % MINHASH_PRIME).min(
                axis=0
            )
            mask[i] = False
        return pd.DataFrame(
            {
                f"m{j}": pd.arrays.IntegerArray(out[:, j], mask.copy())
                for j in range(N_MINHASHES)
            }
        )

    kernel = mh.asNondeterministic()
    sig = docs.select("doc_id", kernel(tokens(F.col(text_col))).alias("_m"))
    return sig.filter(F.col("_m.m0").isNotNull()).select(
        "doc_id", *[F.col(f"_m.m{j}").alias(f"m{j}") for j in range(N_MINHASHES)]
    )


def minhash_bands(sig: DataFrame) -> DataFrame:
    """LSH banding: (doc_id, band, key_hi, key_lo). Docs sharing a (band,
    key_hi, key_lo) bucket are near-dup candidates; the collision probability
    of a band is jaccard^(rows_per_band), so with 4x4 a 0.9-similar pair is
    caught with p ~ 1-(1-0.9^4)^4 ~ 0.97 while random pairs never collide.

    The bucket key is the band's 4 minhashes themselves, not a hash of
    them: each minhash is < 2^31, so two pack exactly into one long
    (``key_hi`` = m0·2^31 + m1 of the band, ``key_lo`` = m2·2^31 + m3).
    Equal keys mean equal minhash tuples, which is the same pairing the SQL
    oracle gets from equal sha256 digests of the comma-joined tuple."""
    rows = N_MINHASHES // N_BANDS

    def pack(j):
        return F.shiftleft(F.col(f"m{j}"), 31) + F.col(f"m{j + 1}")

    bands = [
        F.struct(
            F.lit(b).alias("band"),
            pack(b * rows).alias("key_hi"),
            pack(b * rows + 2).alias("key_lo"),
        )
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("bb")).select(
        "doc_id", "bb.band", "bb.key_hi", "bb.key_lo"
    )


#: Default group-size cap for pair expansion. A bucket/posting list of k docs
#: emits k²/2 pairs AND materializes a k-element array in one row, so both are
#: bounded. 512 is far above any true near-dup cluster (oversized groups are
#: boilerplate/stop-shingles, not near-dups) yet caps one group's cost at
#: ~131k pairs / ~4 KB of array. The CORRECTNESS gates run on corpora smaller
#: than the cap, so capped and uncapped results are identical there.
MAX_GROUP_SIZE = 512


def sorted_runs(keys, within=None):
    """Runs of equal rows: ``(order, starts, sizes)`` for the row-aligned
    numpy arrays ``keys`` (most significant first). ``order`` sorts the rows
    by ``keys`` and then by ``within``; run ``r`` is
    ``order[starts[r] : starts[r] + sizes[r]]``."""
    tie = () if within is None else (within,)
    order = np.lexsort((*tie, *keys[::-1]))
    new = np.zeros(len(order), dtype=bool)
    new[:1] = True
    for k in keys:
        s = k[order]
        new[1:] |= s[1:] != s[:-1]
    starts = np.flatnonzero(new)
    return order, starts, np.diff(np.append(starts, len(order)))


def run_pairs(order, starts, sizes, cap: int | None):
    """The (a, b) row-index pairs of every run of :func:`sorted_runs` with
    ``2 <= size <= cap`` (``cap=None``: no upper bound), ``a`` before ``b``
    in run order — each unordered pair of a run exactly once. Runs over the
    cap are dropped here, the one place the cap rule lives; audit them with
    :func:`oversize_groups`. Pairs are built per distinct run size, one
    ``triu_indices`` broadcast over all runs of that size."""
    live = sizes >= 2
    if cap is not None:
        live &= sizes <= cap
    a_parts, b_parts = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for size in np.unique(sizes[live]):
        ii, jj = np.triu_indices(size, k=1)
        s = starts[live & (sizes == size)][:, None]
        a_parts.append(order[(s + ii).ravel()])
        b_parts.append(order[(s + jj).ravel()])
    return np.concatenate(a_parts), np.concatenate(b_parts)


def oversize_groups(grouped: DataFrame, max_group_size: int) -> DataFrame:
    """Diagnostic for the pair-expansion cap (:func:`run_pairs`, the
    ``max_doc_freq`` filter of :func:`ngram_jaccard_pairs`): the dropped
    groups with their sizes, so a production job can count/log what was
    truncated (no silent caps). Works on any (group keys..., docs)
    grouping."""
    return grouped.filter(F.size("docs") > max_group_size).select(
        *[c for c in grouped.columns if c != "docs"],
        F.size("docs").alias("n_docs"),
    )


def lsh_band_buckets(bands: DataFrame) -> DataFrame:
    """(band, key_hi, key_lo, docs): colliding docs per LSH bucket, sorted —
    the audit view for :func:`oversize_groups`."""
    return (
        bands.groupBy("band", "key_hi", "key_lo")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = MAX_GROUP_SIZE
) -> DataFrame:
    """Near-dup candidate pairs (doc_a < doc_b) from band-bucket collisions,
    with the number of agreeing bands kept as evidence strength
    (``n_shared_bands``).

    Plan: ``repartition(band, key) → mapInArrow(pairs) → groupBy(doc_a,
    doc_b).count()``. The hash partitioning puts every bucket whole inside
    one task, and the kernel concatenates its partition before grouping, so
    a bucket split across Arrow batches keeps all of its pairs. Buckets
    larger than ``max_bucket_size`` (boilerplate, not near-dups) are dropped
    by :func:`run_pairs`, bounding the k²/2 pair blow-up at corpus scale;
    audit the drops with ``oversize_groups(lsh_band_buckets(bands),
    max_bucket_size)``."""
    key = ["band", "key_hi", "key_lo"]

    def kernel(batches):
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        t = pa.Table.from_batches(parts)
        ids = t.column("doc_id").to_numpy()
        keys = [t.column(c).to_numpy() for c in key]
        a, b = run_pairs(*sorted_runs(keys, within=ids), max_bucket_size)
        if len(a):
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[a]), pa.array(ids[b])], names=["doc_a", "doc_b"]
            )

    par = bands.sparkSession.sparkContext.defaultParallelism
    return (
        bands.repartition(par, *key)
        .mapInArrow(kernel, "doc_a long, doc_b long")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def simhash32(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document over distinct whitespace tokens.

    bit b of the fingerprint = 1 iff sum over tokens of (+1 if bit b of
    hash64(token) set else -1) >= 0. Documents within small Hamming distance
    are near-dups; identical fingerprints bucket trivially by groupBy.

    ONE Arrow kernel per partition computes the fingerprint from the
    JVM-tokenized distinct-token array — NO shuffle (the fingerprint is a
    per-document value; the r5 explode + 32-conditional-sum groupBy moved
    1.3M token rows through an exchange at sf1 to compute it). Tokenization
    and distinct stay in the JVM (Java regex semantics, oracle-shared); the
    kernel hashes each token with hashlib sha256 (bit-identical to
    ``hash64``'s sha2 prefix, memoized per task — tokens repeat heavily
    across documents) and folds the 32 ±1 bit sums in one numpy pass."""
    from airbyte_module_spark.operators.text import tokens

    shifts = np.arange(32, dtype=np.int64)
    weights = (np.int64(1) << shifts).astype(np.int64)

    @pandas_udf(T.LongType())
    def sh32(tok_col: pd.Series) -> pd.Series:
        out = np.zeros(len(tok_col), dtype=np.int64)
        memo: dict[str, int] = {}
        for i, tk in enumerate(tok_col):
            hs = []
            for t in tk:
                h = memo.get(t)
                if h is None:
                    h = int(
                        hashlib.sha256(t.encode("utf-8")).hexdigest()[:15], 16
                    )
                    memo[t] = h
                hs.append(h)
            H = np.array(hs, dtype=np.int64)
            bits = (H[:, None] >> shifts[None, :]) & 1  # (tokens, 32)
            s = (2 * bits - 1).sum(axis=0)
            out[i] = (weights * (s >= 0)).sum()
        return pd.Series(out)

    base = docs.filter(F.length(text_col) > 0)
    return base.select(
        "doc_id",
        sh32(F.array_distinct(tokens(F.col(text_col)))).alias("simhash"),
    )


def shingle_postings(
    docs: DataFrame, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Inverted index: (shingle-hash, docs) posting lists over word n-grams,
    restricted to shingles appearing in >= 2 docs. The posting-list size IS
    the document frequency, so the ngram_jaccard df-cap is one filter here.

    The grouping key stays the shingle STRING: replacing it with a
    cross-engine hash was evaluated and rejected — the only oracle-stable
    hash is sha256-based, whose per-shingle cost exceeds the exchange
    bytes it saves (the same sha256 volume the minhash family just shed),
    and at scale the collect_list buffer, not the key width, dominates
    this shuffle."""
    sh = docs.filter(F.length(text_col) > 0).select(
        "doc_id", word_shingles(F.col(text_col), n=n).alias("sh")
    )
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    return (
        ex.groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )


#: Posting elements pack (doc_id, n_sh) into ONE int64: doc_id rides the
#: high bits, the doc's shingle-set size the low ``_PACK_BITS``. Sorting the
#: packed longs orders by doc_id first (doc_id is unique within a posting
#: list), exactly like the former struct(doc_id, n_sh) sort, at half the
#: bytes and a primitive-long compare. Range is guarded loudly at pack time:
#: doc_id < 2^41, n_sh < 2^21 (a 2M-shingle document or a 2.2T-row doc_id
#: space needs a wider packing, not silent wraparound).
_PACK_BITS = 21
_PACK = 1 << _PACK_BITS


def _pair_count_kernel(threshold: float):
    """Arrow-batched pair counter for :func:`ngram_jaccard_pairs`.

    Input rows (hash-partitioned by ``pa``): one posting-list tail per
    earlier-doc occurrence — ``pa`` the packed earlier doc, ``tail`` the
    packed later docs of the same posting list. Every (pa, tail-element)
    emission is one shared shingle of that ordered pair, and ALL emissions
    of a pair share the same ``pa``, so after the pa-partitioning the
    GLOBAL pair count is computable entirely inside one task: concatenate
    the partition's emissions, count runs (:func:`sorted_runs`) — no 10^8-key
    hash aggregation, no exchange of per-pair rows at all (the r5 form
    shuffled ~114M distinct (doc_a, doc_b) struct keys through a count
    groupBy at sf1: 90% of pairs share exactly ONE shingle and exist only
    to be discarded by the threshold — measured 42s, ~all of it in that
    aggregate). The jaccard division is the same single IEEE-double op on
    exact ints as the expression form (numpy true_divide == Spark's
    double division), so values stay bit-identical to the oracle."""

    def kernel(batches):
        # tails arrive as list<long> cells, NOT pre-exploded flat rows: the
        # Python-runner cost is per ROW, so shipping 2.6M array cells
        # measured ~3s of Arrow transfer where the flattened 127M-row form
        # measured ~30s (A/B at sf1) — the array form amortizes the runner
        # overhead ~50 elements per row
        a_parts, b_parts = [], []
        for b in batches:
            tails = b["tail"]
            if len(tails) == 0:
                continue
            lens = np.fromiter(
                (len(t) for t in tails), dtype=np.int64, count=len(tails)
            )
            a_parts.append(
                np.repeat(b["pa"].to_numpy().astype(np.int64), lens)
            )
            b_parts.append(np.concatenate([np.asarray(t) for t in tails]))
        if not a_parts:
            return
        a = np.concatenate(a_parts)
        bb = np.concatenate(b_parts).astype(np.int64)
        order, starts, counts = sorted_runs([a, bb])
        pa_u, pb_u = a[order[starts]], bb[order[starts]]
        nsh_a = pa_u & (_PACK - 1)
        nsh_b = pb_u & (_PACK - 1)
        jac = counts / (nsh_a + nsh_b - counts)  # exact ints, one IEEE div
        keep = jac >= threshold
        yield pd.DataFrame(
            {
                "doc_a": pa_u[keep] >> _PACK_BITS,
                "doc_b": pb_u[keep] >> _PACK_BITS,
                "n_common": counts[keep],
                "jaccard": jac[keep],
            }
        )

    return kernel


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.15,
    max_doc_freq: int | None = MAX_GROUP_SIZE,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle,
    via an inverted index (explode shingles → posting lists → per-doc pair
    counting), thresholded.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — a single division of exact integer
    counts, so the value is IEEE-identical across engines.

    Shingles with document frequency > ``max_doc_freq`` are dropped from the
    index (a stop-shingle in k docs would materialize a k-element posting
    list in one row AND emit k²/2 pairs): for surviving pairs jaccard is
    computed over the FULL shingle sets, so values stay exact — only recall
    of pairs whose sole common shingles are stop-shingles is affected. Audit
    drops with ``oversize_groups(shingle_postings(...), max_doc_freq)``.

    Counting shape (r6): posting lists are sorted arrays of PACKED
    (doc_id, n_sh) longs; each list expands to (pa, tail) rows — the packed
    earlier doc and the packed later docs — which are hash-partitioned by
    ``pa`` and counted with run-length numpy inside one Arrow kernel
    (:func:`_pair_count_kernel`). Every contribution to an ordered pair
    (a, b) carries the same ``pa``, so partitioning by ``pa`` alone makes
    the in-task count the exact global count; what crosses the wire is the
    packed tails (Σ df²/2 longs), not one row per (pair, shingle) — and the
    10^8-key pair hash-aggregate of the r5 shape (the measured 42s at sf1:
    90% of pairs share one shingle and exist only to be thresholded away)
    disappears entirely. Sizes still ride the postings, so there is no size
    join and no second tokenize pass."""
    sh = docs.filter(F.length(text_col) > 0).select(
        "doc_id", word_shingles(F.col(text_col), n=n).alias("sh")
    )
    packed = (
        F.col("doc_id") * _PACK
        + F.col("n_sh")
        + F.coalesce(
            F.assert_true(
                (F.col("doc_id") >= 0)
                & (F.col("doc_id") < F.lit(1 << 41))
                & (F.col("n_sh") < _PACK),
                F.lit("ngram_jaccard packing range: need 0 <= doc_id < 2^41 "
                      "and n_sh < 2^21"),
            ).cast("long"),
            F.lit(0).cast("long"),
        )
    )
    ex = sh.select(
        F.size("sh").alias("n_sh"), F.explode("sh").alias("s"), "doc_id"
    ).select(packed.alias("p"), "s")
    postings = (
        ex.groupBy("s")
        .agg(F.array_sort(F.collect_list("p")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_doc_freq is not None:
        postings = postings.filter(F.size("docs") <= max_doc_freq)
    tails = postings.select(
        F.col("docs"), F.posexplode("docs").alias("i", "pa")
    ).select(
        "pa",
        F.slice(F.col("docs"), F.col("i") + F.lit(2), F.size("docs")).alias(
            "tail"
        ),
    ).filter(F.size("tail") > 0)
    # shuffle the PACKED TAIL ARRAYS (Σ df²/2 longs — the minimum any
    # inverted-index pair counter must move) keyed by the earlier doc, and
    # hand the arrays straight to the kernel (see _pair_count_kernel for
    # why the arrays are NOT flattened to per-pair rows first). The
    # partition count is pinned to cluster parallelism: AQE's byte-based
    # advisory sizing would coalesce this exchange to a handful of
    # partitions and starve the CPU-heavy counting kernel (the kernel's
    # cost is per ELEMENT of the packed arrays, which the byte estimate
    # under-weights ~8x vs plain rows).
    # 2x oversubscription: two waves per slot smooth per-task skew in the
    # counting kernel (measured 2.3-3.9s at 1x vs steady 2.1-2.3s at 2x)
    par = 2 * docs.sparkSession.sparkContext.defaultParallelism
    return tails.repartition(par, F.col("pa")).mapInPandas(
        _pair_count_kernel(threshold),
        schema="doc_a long, doc_b long, n_common long, jaccard double",
    )
