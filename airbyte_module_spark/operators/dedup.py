"""Document deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.

All variants follow the same scale discipline:

- **exact**: one hash-groupBy on the normalized-content sha256 — a single
  shuffle keyed by a uniform hash; trivially skew-free.
- **MinHash + LSH**: per-doc signature (narrow, no shuffle), banding, then a
  self-join *on the band bucket* — candidate generation is output-linear in
  the number of colliding docs, never all-pairs. This is the 100 TB path.
- **SimHash**: per-doc 32-bit fingerprint over distinct tokens (narrow, no
  shuffle); near-dup buckets = equal fingerprints.
- **n-gram Jaccard**: inverted index on shingles (posting lists + per-doc
  pair counting) — exact similarity, used at moderate scale or as the
  verifier behind LSH candidates. All-pairs comparison is never
  materialized.

Tokenization, shingling and grouping are Catalyst expressions; the per-doc
signatures (``with_minhash``, ``simhash32``) and the n-gram pair counter are
vectorized Arrow kernels (``pandas_udf`` / ``mapInPandas``), never row-at-a-
time Python UDFs. Every hash is sha256-derived and bit-identical to the
SQL side (``sha2``, :func:`operators.text.hash64`), so every operator has a
value-exact DuckDB oracle (see ``oracle_sql.py``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

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


def minhash_bands(sig: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """LSH banding: (doc_id, band, band_hash). Docs sharing a (band,
    band_hash) bucket are near-dup candidates; the collision probability of
    a band is jaccard^(rows_per_band), so with 4x4 a 0.9-similar pair is
    caught with p ~ 1-(1-0.9^4)^4 ~ 0.97 while random pairs never collide."""
    rows = N_MINHASHES // n_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.sha2(
                F.concat_ws(
                    ",", *[F.col(f"m{b * rows + r}").cast("string") for r in range(rows)]
                ),
                256,
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


#: Default group-size cap for pair expansion. A bucket/posting list of k docs
#: emits k²/2 pairs AND materializes a k-element array in one row, so both are
#: bounded. 512 is far above any true near-dup cluster (oversized groups are
#: boilerplate/stop-shingles, not near-dups) yet caps one group's cost at
#: ~131k pairs / ~4 KB of array. The CORRECTNESS gates run on corpora smaller
#: than the cap, so capped and uncapped results are identical there.
MAX_GROUP_SIZE = 512


def _expand_pairs(grouped: DataFrame, max_group_size: int | None) -> DataFrame:
    """Sorted-doc-list groups → (doc_a < doc_b) pairs with collision counts.

    Shared pair-expansion tail of :func:`lsh_candidate_pairs` and
    :func:`ngram_jaccard_pairs`: in-list expansion (flatten/transform), NOT a
    self-join, so the upstream pipeline is evaluated once and pair generation
    is output-linear per group. Groups larger than ``max_group_size`` are
    dropped — never silently: count them with :func:`oversize_groups` and log
    alongside the job."""
    if max_group_size is not None:
        grouped = grouped.filter(F.size("docs") <= max_group_size)
    # posexplode the sorted list, then explode the strictly-later slice:
    # pairing each doc with every later doc gives doc_a < doc_b exactly once
    # per group. Deliberately generator+slice (codegen), NOT a nested
    # transform lambda building pair structs — higher-order lambdas are
    # interpreted in Spark 4 and the lambda form measured +1.5s of the whole
    # ngram_jaccard query at sf0.1 (the r4 "drift"); this form is pure
    # whole-stage-codegen and ~30% faster end to end. posexplode is 0-based,
    # slice is 1-based, so the later-docs slice starts at i + 2.
    a = grouped.select(F.col("docs"), F.posexplode("docs").alias("i", "doc_a"))
    pairs = a.select(
        "doc_a",
        F.explode(
            F.slice(F.col("docs"), F.col("i") + F.lit(2), F.size("docs"))
        ).alias("doc_b"),
    )
    return pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_collisions"))


def oversize_groups(grouped: DataFrame, max_group_size: int) -> DataFrame:
    """Diagnostic for the cap in :func:`_expand_pairs`: the dropped groups
    with their sizes, so a production job can count/log what was truncated
    (no silent caps). Works on any (group keys..., docs) grouping."""
    return grouped.filter(F.size("docs") > max_group_size).select(
        *[c for c in grouped.columns if c != "docs"],
        F.size("docs").alias("n_docs"),
    )


def lsh_band_buckets(bands: DataFrame) -> DataFrame:
    """(band, band_hash, docs): colliding docs per LSH bucket, sorted."""
    return (
        bands.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = MAX_GROUP_SIZE
) -> DataFrame:
    """Near-dup candidate pairs from band-bucket collisions, with the number
    of agreeing bands kept as evidence strength.

    Buckets larger than ``max_bucket_size`` (boilerplate, not near-dups) are
    dropped before pair expansion, bounding both the per-row array size and
    the k²/2 pair blow-up at corpus scale; audit the drops with
    ``oversize_groups(lsh_band_buckets(bands), max_bucket_size)``."""
    buckets = lsh_band_buckets(bands)
    return _expand_pairs(buckets, max_bucket_size).withColumnRenamed(
        "n_collisions", "n_shared_bands"
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
    the partition's emissions, lexsort, run-length count — no 10^8-key
    hash aggregation, no exchange of per-pair rows at all (the r5 form
    shuffled ~114M distinct (doc_a, doc_b) struct keys through a count
    groupBy at sf1: 90% of pairs share exactly ONE shingle and exist only
    to be discarded by the threshold — measured 42s, ~all of it in that
    aggregate). The jaccard division is the same single IEEE-double op on
    exact ints as the expression form (numpy true_divide == Spark's
    double division), so values stay bit-identical to the oracle."""
    import numpy as np
    import pandas as pd

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
        order = np.lexsort((bb, a))
        a, bb = a[order], bb[order]
        new = np.empty(len(a), dtype=bool)
        new[0] = True
        np.logical_or(a[1:] != a[:-1], bb[1:] != bb[:-1], out=new[1:])
        starts = np.flatnonzero(new)
        counts = np.diff(np.append(starts, len(a)))
        pa_u, pb_u = a[starts], bb[starts]
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
