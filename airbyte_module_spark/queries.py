"""Oracle-checkable query surface (driver contract, SURVEY.md §2 coverage).

Each function here takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching ANSI-SQL oracle lives in ``__spark_entry__.oracle_sql``. Because the
driver hash-compares values, every query follows three determinism rules:

1. hashes are sha256 only (identical hex output in Spark and DuckDB);
2. floats are either raw parquet values or a single division of
   deterministically-derived integers (IEEE-identical across engines) —
   never order-dependent float aggregates;
3. every computed column is aliased identically here and in the oracle SQL.

The ``events`` table stands in for the CDC feed in these cross-checked
queries (key = user_id, cursor = (ts, event_id), ``error`` events = deletes);
the real envelope feed path is exercised by the pytest suite and ``entry()``,
which run the full engine against the pandas oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _parallel(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelization for unsplittable inputs.

    The test corpora arrive as ONE parquet file with ONE row group, so the
    scan is a single task no matter what ``maxPartitionBytes`` says (a
    row group is the parquet split atom) — and every expression-heavy map
    stage above it (sha256 shingling, from_json, regex tokenization) runs
    on one core of 32 (guide §2.5 "input skew: one huge unsplittable
    file... repartition immediately after the read"). The guard keeps this
    a no-op at cluster scale: a properly-laid-out table (many files /
    row groups) already scans at >= defaultParallelism and is returned
    untouched, so the exchange is only paid when the scan would otherwise
    starve the cluster, and what it moves is the small unsplittable input
    itself."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One corpus table through the file source, which resolves it (schema
    inference job, listing, and the ``df.rdd`` that ``_parallel`` plans)
    once per session while its file is unchanged."""
    from airbyte_module_spark.sources.files import read_file

    return read_file(spark, f"{sf_dir}/{name}.parquet", "parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "events")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parallel(_table(spark, sf_dir, "documents"))


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "customer")


def _cursor():
    return F.unix_millis(F.col("ts").cast("timestamp"))


def _winners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW winners per key: row_number over (cursor, event_id) desc —
    the W1 operator (SURVEY.md §2.5) on the stand-in feed."""
    w = Window.partitionBy("user_id").orderBy(
        _cursor().desc(), F.col("event_id").desc()
    )
    return (
        _events(spark, sf_dir)
        .withColumn("cursor_ms", _cursor())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------- W1/P6
def cdc_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins winner per key (window/row_number over the cursor)."""
    return _winners(spark, sf_dir).select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("winner_event_id"),
        F.col("cursor_ms"),
        F.col("event_type").alias("winner_type"),
        F.col("value").alias("winner_value"),
    )


def cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final MERGE state: LWW winners minus deletes (error = tombstone),
    with the sha256 row fingerprint (F6)."""
    return (
        _winners(spark, sf_dir)
        .filter(F.col("event_type") != "error")
        .select(
            F.col("user_id").alias("key_id"),
            F.col("event_id").alias("winner_event_id"),
            F.col("event_type").alias("winner_type"),
            F.col("value").alias("winner_value"),
            F.sha2(F.col("props"), 256).alias("props_sha"),
        )
    )


def cdc_op_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: insert/update/delete routing — classify and count event ops."""
    op = (
        F.when(F.col("event_type") == "signup", F.lit("i"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
    )
    return (
        _events(spark, sf_dir)
        .select(op.alias("op"), "user_id")
        .groupBy("op")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_keys"),
        )
    )


# ----------------------------------------------------------------------- A1
def cdc_batch_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage: offset range + rows per ingest bucket
    (bucket = key mod 8 here so the oracle can reproduce it portably)."""
    return (
        _events(spark, sf_dir)
        .withColumn("bucket", F.pmod(F.col("user_id"), F.lit(8)).cast("bigint"))
        .withColumn("cursor_ms", _cursor())
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("cursor_ms").alias("min_cursor_ms"),
            F.max("cursor_ms").alias("max_cursor_ms"),
            F.min("event_id").alias("min_offset"),
            F.max("event_id").alias("max_offset"),
        )
    )


def cdc_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-conflict accounting per key: events superseded by LWW."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("key_id"))
        .agg(
            F.count("*").alias("n_events"),
            (F.count("*") - F.lit(1)).alias("n_conflicts"),
        )
    )


# ----------------------------------------------------------------------- A2
def cdc_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/partitioning-independent table digest of the final state:
    commutative bit_xor fold over per-row sha256 prefixes (the scale-safe
    variant of the digest; see LakeTable.digest)."""
    rows = cdc_final_state(spark, sf_dir)
    row_hash = F.sha2(
        F.concat_ws(
            "|",
            F.col("key_id").cast("string"),
            F.col("winner_event_id").cast("string"),
            F.col("winner_type"),
            F.col("props_sha"),
        ),
        256,
    )
    h64 = F.conv(F.substring(row_hash, 1, 15), 16, 10).cast("bigint")
    return rows.select(h64.alias("h")).agg(
        F.count("*").alias("n_rows"),
        F.bit_xor("h").alias("table_digest"),
    )


# -------------------------------------------------------------------- F6/F7
def content_normalize_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content normalization + sha256 fingerprint over documents (the text
    corpus stand-in for repo file contents)."""
    from airbyte_module_spark.functions.content import (
        normalize_content_expr,
        sha256_expr,
    )

    docs = _documents(spark, sf_dir)
    norm = normalize_content_expr(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("norm_len"),
        sha256_expr(norm).alias("content_sha"),
    )


# ----------------------------------------------------------------------- P5
def redact_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven column redaction (the transform the reference chains to
    arrow-flight-module; fybrik/sample-policy-restrictive.rego redacts
    name/address-class columns)."""
    return _customer(spark, sf_dir).select(
        "c_custkey",
        F.lit("XXXXX").alias("c_name"),
        F.lit("XXXXX").alias("c_address"),
        "c_nationkey",
        "c_acctbal",
    )


# ------------------------------------------------------------ text analysis
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + char stats per document."""
    docs = _documents(spark, sf_dir).filter(F.length("text") > 0)
    toks = F.split(F.trim(F.col("text")), "\\s+")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, mean token length, alpha ratio.
    All ratios are single divisions of exact integers (cross-engine safe)."""
    docs = _documents(spark, sf_dir).filter(F.length("text") > 0)
    toks = F.split(F.trim(F.col("text")), "\\s+")
    stop = F.array([F.lit(s) for s in ["the", "a", "of", "and", "to", "in"]])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        (n_stop.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
        (n_alpha.cast("double") / F.length("text").cast("double")).alias("alpha_ratio"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic: density of English function
    words decides en vs unknown (deterministic integer threshold)."""
    docs = _documents(spark, sf_dir).filter(F.length("text") > 0)
    toks = F.split(F.trim(F.col("text")), "\\s+")
    en = F.array([F.lit(s) for s in ["the", "a", "of", "and", "to", "in", "is", "it"]])
    n_en = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(n_en * 100 >= n_tokens * 2, F.lit("en"))
        .otherwise(F.lit("und"))
        .alias("predicted_lang"),
    )


# ---------------------------------------------------------- fingerprinting
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (order-sensitive polynomial hash
    over the token stream) + token count."""
    from airbyte_module_spark.operators.text import rolling_fingerprint, tokens

    docs = _documents(spark, sf_dir).filter(F.length("text") > 0)
    return docs.select(
        "doc_id",
        rolling_fingerprint(F.col("text")).alias("fingerprint"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )


# ------------------------------------------------------------------- dedup
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-content sha256; keeper = min
    doc_id (deterministic)."""
    from airbyte_module_spark.functions.content import (
        normalize_content_expr,
        sha256_expr,
    )

    docs = _documents(spark, sf_dir)
    return (
        docs.select(
            "doc_id", sha256_expr(normalize_content_expr(F.col("text"))).alias("content_sha")
        )
        .groupBy("content_sha")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (16 hashes over word 3-gram shingles) per document,
    rendered as a comma-joined string for cross-engine value comparison."""
    from airbyte_module_spark.operators.dedup import N_MINHASHES, with_minhash

    sig = with_minhash(_documents(spark, sf_dir))
    return sig.select(
        "doc_id",
        F.concat_ws(
            ",", *[F.col(f"m{j}").cast("string") for j in range(N_MINHASHES)]
        ).alias("signature"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate near-dup pairs: banded minhash bucket collisions
    (4 bands x 4 rows), with the number of agreeing bands."""
    from airbyte_module_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        with_minhash,
    )

    sig = with_minhash(_documents(spark, sf_dir))
    return lsh_candidate_pairs(minhash_bands(sig))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document over distinct tokens."""
    from airbyte_module_spark.operators.dedup import simhash32

    return simhash32(_documents(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (inverted-index join),
    threshold 0.15."""
    from airbyte_module_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _documents(spark, sf_dir), n=3, threshold=0.15
    )


# -------------------------------------------------------------- similarity
def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no _parallel here: the similarity operators' per-row corpus work is a
    # handful of numpy ops (quantize/codes), so spreading a small
    # unsplittable scan buys less than the exchange costs (measured +0.2s
    # per ann_* query at sf1); the pair-heavy stages are post-shuffle
    # parallel already, and near_dup_pairs spreads its matmul explicitly
    return _table(spark, sf_dir, "embeddings")


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (quantized exact math) —
    the exact all-pairs VERIFIER form (O(N²)); the scale path is
    :func:`embedding_near_dup_lsh`."""
    from airbyte_module_spark.operators.similarity import near_dup_pairs

    return near_dup_pairs(_embeddings(spark, sf_dir), threshold=0.45)


def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed (the 100 TB path):
    candidates from bucket collisions, expanded inside one Arrow kernel
    after a (band, bucket) exchange — no join of any kind in the plan
    (pinned by test_plan_shapes)."""
    from airbyte_module_spark.operators.similarity import near_dup_pairs_lsh

    return near_dup_pairs_lsh(_embeddings(spark, sf_dir), threshold=0.45)


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    from airbyte_module_spark.operators.similarity import ann_brute_force

    out = ann_brute_force(_embeddings(spark, sf_dir), n_queries=10, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (8 deterministic planes)."""
    from airbyte_module_spark.operators.similarity import lsh_buckets

    return lsh_buckets(_embeddings(spark, sf_dir))


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors searched within the query's LSH bucket."""
    from airbyte_module_spark.operators.similarity import ann_lsh

    out = ann_lsh(_embeddings(spark, sf_dir), n_queries=10, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors, multi-probe: the query's bucket plus all
    8 Hamming-distance-1 buckets (lifts single-probe recall; the
    recall-strong scale path is :func:`ann_topk_ivf` — see the measured
    comparison in operators/similarity.py::ann_ivf)."""
    from airbyte_module_spark.operators.similarity import ann_lsh

    out = ann_lsh(_embeddings(spark, sf_dir), n_queries=10, k=5, multiprobe=True)
    return out.withColumn("rank", F.col("rank").cast("long"))


def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment: cell id per vector (argmax cosine to
    the 64 deterministic centroids)."""
    from airbyte_module_spark.operators.similarity import ivf_assign

    return ivf_assign(_embeddings(spark, sf_dir), cells_only=True).select(
        "vec_id", "cell"
    )


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (nprobe=8 of 64 cells) — recall@5 0.88 at 12%
    of the corpus scanned (pytest recall gate)."""
    from airbyte_module_spark.operators.similarity import ann_ivf

    out = ann_ivf(_embeddings(spark, sf_dir), n_queries=10, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


# -------------------------------------------------------------- multimodal
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction: kind, byte size, dimensions, and
    the payload sha256 (the Spark-side blob plumbing; the featurizer path is
    covered by pytest because mapInPandas is not SQL-expressible)."""
    from airbyte_module_spark.operators.multimodal import synthesize_blobs

    blobs = synthesize_blobs(_documents(spark, sf_dir))
    return blobs.select(
        "doc_id",
        "kind",
        F.col("meta.size_bytes").alias("size_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    )


# ------------------------------------------------------- envelope roundtrip
def envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/P1/P2 end-to-end: render events as Airbyte envelope JSON lines
    (JVM-side to_json), mix in LOG noise lines, parse back through the
    engine's one-pass parser, and project the typed rows. The oracle derives
    the same rows directly from the events table — so this cross-checks the
    entire serialize -> filter -> parse -> project path."""
    from airbyte_module_spark import model
    from airbyte_module_spark.sources.feed import parse_envelopes_once

    # this query's map side is to_json + from_json over every event — the
    # single-row-group scan must be spread before it (see _parallel)
    ev = _parallel(_events(spark, sf_dir))
    op = (
        F.when(F.col("event_type") == "signup", F.lit("i"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
    )
    data = F.struct(
        op.alias("op"),
        F.col("event_id").alias("seq"),
        F.concat(F.lit("org"), (F.col("user_id") % 5).cast("string"),
                 F.lit("/project"), (F.col("user_id") % 23).cast("string")).alias("repo"),
        F.concat(F.lit("src/file_"), F.col("user_id").cast("string"), F.lit(".py")).alias("path"),
        F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 40).alias("commit"),
        F.col("event_type").alias("lang"),
        F.when(op == "d", F.lit(None).cast("string")).otherwise(F.col("props")).alias("content"),
    )
    envelope = F.to_json(
        F.struct(
            F.lit("RECORD").alias("type"),
            F.struct(
                F.lit("repo_files").alias("stream"),
                F.lit("public").alias("namespace"),
                F.unix_millis(F.col("ts").cast("timestamp")).alias("emitted_at"),
                data.alias("data"),
            ).alias("record"),
        )
    )
    noise = spark.range(100).select(
        F.to_json(
            F.struct(
                F.lit("LOG").alias("type"),
                F.struct(F.lit("INFO").alias("level")).alias("log"),
            )
        ).alias("value")
    )
    raw = ev.select(envelope.alias("value")).unionByName(noise)
    parsed = parse_envelopes_once(raw, model.base_data_schema(), "repo_files")
    return parsed.select(
        F.col(model.META_SEQ).alias("seq"),
        F.col(model.META_OP).alias("op"),
        "repo",
        "path",
        "commit",
        "lang",
        F.col(model.META_EMITTED).alias("emitted_at"),
        "content",
    )


# ------------------------------------------------------------------- joins
def merge_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 upsert-join preview: LWW winners of even events form the target,
    LWW winners of odd events form the source batch; each source key is
    routed to the MERGE action it would take (insert/update/delete/skip)."""
    ev = _events(spark, sf_dir).withColumn("cursor_ms", _cursor())
    w = Window.partitionBy("user_id").orderBy(
        F.col("cursor_ms").desc(), F.col("event_id").desc()
    )

    def winners(df):
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    target = winners(ev.filter(F.col("event_id") % 2 == 0)).select(
        F.col("user_id").alias("key_id"), F.col("event_id").alias("tgt_event_id")
    )
    source = winners(ev.filter(F.col("event_id") % 2 == 1)).select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("src_event_id"),
        F.col("event_type").alias("src_type"),
    )
    joined = source.join(target, "key_id", "left")
    action = (
        F.when(F.col("tgt_event_id").isNotNull() & (F.col("src_type") == "error"), "delete")
        .when(F.col("tgt_event_id").isNotNull(), "update")
        .when(F.col("src_type") != "error", "insert")
        .otherwise("skip")
    )
    return joined.select(
        "key_id", "src_event_id", "tgt_event_id", action.alias("action")
    )


def salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 skew-handled join: fact(events) -> dim(customer) equi-join executed
    with explicit key salting (dim replicated per salt, fact salted by a
    deterministic hash), then aggregated per market segment. The oracle runs
    the *plain* join — equal results prove salting preserves join semantics."""
    n_salt = 8
    ev = _events(spark, sf_dir).select(
        (F.col("user_id") % 1500).alias("jk"),
        F.pmod(F.col("event_id"), F.lit(n_salt)).alias("salt"),
        "event_id",
        "user_id",
    )
    cust = _customer(spark, sf_dir).select("c_custkey", "c_mktsegment")
    salts = spark.range(n_salt).select(F.col("id").cast("bigint").alias("salt"))
    dim = cust.crossJoin(F.broadcast(salts))
    joined = ev.join(
        dim, (F.col("jk") == F.col("c_custkey")) & (ev["salt"] == dim["salt"])
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


# ------------------------------------------------------------ file formats
def file_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S6 file source/sink parity: render the customer table as CSV files
    (the reference's destination-csv, write_config.yaml shape), then read it
    back through the csv source with an explicit schema. The oracle reads
    the ORIGINAL parquet table — equality proves the csv write→read
    roundtrip is lossless (Spark writes doubles with roundtrip-exact
    shortest-repr), mirroring the reference's mysql write→read e2e diff
    (/root/reference/hack/test_module.sh:216-227)."""
    import os as _os
    import tempfile as _tempfile

    from airbyte_module_spark.sources.files import read_file, write_file

    cust = _customer(spark, sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    # pid-keyed scratch path: stable across repeated calls within a session
    # (bench reruns overwrite in place) but safe against two concurrent
    # processes racing on the same sf's overwrite/read
    out = _os.path.join(
        _tempfile.gettempdir(),
        f"ams_csv_roundtrip_{_os.path.basename(sf_dir.rstrip('/'))}_{_os.getpid()}",
    )
    write_file(cust, out, format="csv")
    return read_file(spark, out, format="csv", schema=cust.schema)


# -------------------------------------------------------------- discovery
def schema_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 schema discovery: infer every table's schema from its data files
    (the Spark analogue of the reference's dockerized `discover`
    round-trip, abm/connector.py:176-180) and render it in engine-neutral
    type names. The oracle reads the same catalog from DuckDB's
    information_schema — matching output proves the discovery is faithful,
    like the reference's catalog-vs-expected diff. Each table's schema is
    inferred once per session and file identity (``_table``), so a repeated
    discovery of unchanged files runs no Spark job."""
    from pyspark.sql import types as T

    def type_name(dt: T.DataType) -> str:
        mapping = {
            T.LongType: "BIGINT",
            T.IntegerType: "INTEGER",
            T.StringType: "VARCHAR",
            T.DoubleType: "DOUBLE",
            T.FloatType: "FLOAT",
            T.BooleanType: "BOOLEAN",
            T.DateType: "DATE",
            T.TimestampType: "TIMESTAMP",
            T.TimestampNTZType: "TIMESTAMP",
        }
        if isinstance(dt, T.ArrayType):
            return type_name(dt.elementType) + "[]"
        if isinstance(dt, T.DecimalType):
            return f"DECIMAL({dt.precision},{dt.scale})"
        return mapping[type(dt)]

    tables = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]
    rows = [
        (t, f.name, type_name(f.dataType), i + 1)
        for t in tables
        for i, f in enumerate(_table(spark, sf_dir, t).schema.fields)
    ]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string, ordinal bigint"
    )
