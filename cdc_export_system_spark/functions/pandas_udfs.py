"""Vectorized Python UDF/UDAF surface (SURVEY.md §2.10).

The reference has no UDF surface; this is the engine's escape hatch for
logic the built-ins can't express. Everything is Arrow-batched:

* scalar pandas UDF — columnar in/out, ~10-100x over row-at-a-time
* grouped-map applyInPandas — per-group pandas DataFrame in/out (UDAF)
* mapInPandas — per-partition batch iterator (custom operators; the
  multimodal module builds on it)

The oracle-checked examples do arithmetic that is bit-identical in
pandas/numpy and SQL (IEEE doubles, same op order; integer sums), so
the driver can hash-match even the Python path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import register


@F.pandas_udf(T.DoubleType())
def net_price(extended: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    """net = price * (1-discount) * (1+tax), vectorized over Arrow batches."""
    return extended * (1.0 - discount) * (1.0 + tax)


@register(
    "udf_scalar_pandas",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net
        FROM lineitem WHERE l_orderkey < 500
    """,
    tags=("udf",),
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF; numpy evaluates the same IEEE expression the
    SQL engine does, so results are bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount", "l_tax").alias("net"),
    )


_PROFILE_SCHEMA = (
    "l_returnflag string, n bigint, qty_total bigint, qty_min double, qty_max double"
)


def _group_profile(pdf: pd.DataFrame) -> pd.DataFrame:
    q = pdf["l_quantity"]
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "n": [len(pdf)],
            # integer accumulation: order-independent, engine-identical
            "qty_total": [int(q.astype("int64").sum())],
            "qty_min": [q.min()],
            "qty_max": [q.max()],
        }
    )


@register(
    "udaf_grouped_pandas",
    oracle="""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_total,
               min(l_quantity) AS qty_min, max(l_quantity) AS qty_max
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "agg"),
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF: one shuffle on the group key, then a pandas
    aggregate per group. Scale note: a group must fit in one task's
    memory — fine for low-cardinality profile groups; high-cardinality
    keyed aggs should use built-in hash aggregation instead."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return li.groupBy("l_returnflag").applyInPandas(_group_profile, _PROFILE_SCHEMA)


@register(
    "udf_map_in_pandas",
    oracle="""
        WITH p AS (SELECT event_id, user_id, value FROM events
                   WHERE event_type = 'purchase'),
        m AS (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                     / count(*) AS mean FROM p)
        SELECT event_id, user_id, value, value - m.mean AS value_centered FROM p, m
    """,
    tags=("udf",),
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas as a two-pass whole-column operator: broadcast a
    precomputed scalar (the global mean) into a per-partition vectorized
    transform — the canonical shape for normalization at scale (never
    collect the column; reduce, then map)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ev = ev.select("event_id", "user_id", "value")
    # exact mean: decimal sum (order-independent) / count, like the oracle's
    # avg() which DuckDB computes exactly for this data size
    stats = ev.agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"), F.count(F.lit(1)).alias("n")
    ).first()
    # decimal->double, then IEEE divide; 0-row input => no mean to subtract
    mean = float(stats["s"] or 0) / stats["n"] if stats["n"] else 0.0

    def _center(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["value_centered"] = pdf["value"] - mean
            yield pdf

    return ev.mapInPandas(
        _center, "event_id long, user_id long, value double, value_centered double"
    )


UDTF_CHUNK_TOKENS = 16


@register(
    "udtf_lateral_chunks",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents)
        SELECT doc_id, CAST(i AS INT) AS chunk_no,
               array_to_string(t[(i * {UDTF_CHUNK_TOKENS} + 1)
                               :((i + 1) * {UDTF_CHUNK_TOKENS})], ' ')
                   AS chunk_text
        FROM toks,
             unnest(range(0, CAST(ceil(len(t) / {UDTF_CHUNK_TOKENS}.0)
                                  AS BIGINT))) r(i)
        WHERE len(t) > 1 OR t[1] <> ''
    """,
    tags=("udf", "text"),
)
def udtf_lateral_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): context-window chunking of each
    document into UDTF_CHUNK_TOKENS-token pieces via a LATERAL table function — the
    1-row-in / k-rows-out generator shape (the UDTF analogue of
    multimodal_frame_sample's fan-out). Arrow-batched; the chunker is
    pure per-row Python so the operator parallelizes with the scan and
    shuffles nothing. The whitespace tokenization (str.split) is
    byte-identical to the oracle's regexp_split on trimmed text."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, chunk_text string", useArrow=True)
    class ChunkText:
        def eval(self, text: str):
            toks = text.split() if text else []
            for i in range(0, (len(toks) + UDTF_CHUNK_TOKENS - 1) // UDTF_CHUNK_TOKENS):
                yield i, " ".join(
                    toks[i * UDTF_CHUNK_TOKENS : (i + 1) * UDTF_CHUNK_TOKENS]
                )

    spark.udtf.register("chunk_text", ChunkText)
    from cdc_export_system_spark.io.sources import star_view

    docs = star_view(spark, sf_dir, "documents")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_no, c.chunk_text
        FROM {docs} d, LATERAL chunk_text(d.text) c
        """
    )


MG_CAPACITY = 64  # counters per partial summary (memory bound, not a row bound)
MG_SUPPORT = 0.05  # report items with frequency >= 5% of the stream


@register(
    "agg_freq_items_mg",
    headline=True,
    oracle=f"""
        WITH c AS (SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est_count
                   FROM events WHERE event_type IS NOT NULL GROUP BY 1),
             t AS (SELECT CAST(sum(est_count) AS BIGINT) AS n FROM c)
        SELECT c.item, c.est_count FROM c, t
        WHERE c.est_count >= {MG_SUPPORT} * t.n
    """,
    tags=("udf", "sketch", "agg"),
)
def agg_freq_items_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a distributed Misra-Gries summary: each
    partition folds its rows into at most MG_CAPACITY counters inside a
    ``mapInPandas`` iterator (per-Arrow-batch ``value_counts`` — the
    per-row work stays in C — then the batched MG compression: when the
    dict exceeds capacity, subtract the (C+1)-th largest count from all
    and drop the non-positive). Partials merge by counter addition (the
    MG merge), and items at or above MG_SUPPORT of the stream are
    reported.

    Guarantees (standard MG bounds): merged counts undercount true
    frequency by at most n/(C+1); with support 5% and C=64 (error
    <=1.54%) every true heavy hitter is reported. On this dataset
    |domain(event_type)| <= C, so no decrement ever fires and the counts
    are EXACT — which is what makes the operator oracle-checkable; the
    lossy regime is pinned separately in tests/test_pipeline_ops.py.

    Scale posture: the scan emits at most C rows per partition (a few
    KB), so the merge shuffle is O(C x partitions) regardless of input
    size — the bounded-memory alternative to a full groupBy when the
    item domain is adversarially large (URLs, n-grams, user agents).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("item")
    ).where(F.col("item").isNotNull())
    return mg_heavy_hitters(ev, capacity=MG_CAPACITY, support=MG_SUPPORT)


def mg_heavy_hitters(items: DataFrame, capacity: int, support: float) -> DataFrame:
    """Misra-Gries heavy hitters over a single-column ``item`` DataFrame.

    Reported ``est_count`` is a lower bound within n/(capacity+1) of the
    true count (exact when a partition never exceeds capacity distinct
    items). The support threshold is applied against the EXACT stream
    size n, not the merged-estimate total: the per-item n/(C+1) bound
    does not extend to the total (compressions drop the entire tail
    mass), so thresholding on the merged total would silently lower the
    effective support in tail-heavy streams and admit false positives.
    Each partition therefore also emits its exact non-null row count as
    a null-item sentinel row — one extra row per partition, no extra
    pass over the data — and the merge sums those into true n. Null
    items are ignored (not counted, never reported).
    """

    def mg_partials(batches):
        counters: dict[str, int] = {}
        n_exact = 0
        for pdf in batches:
            n_exact += int(pdf["item"].count())  # exact non-null rows
            for item, cnt in pdf["item"].value_counts().items():
                counters[item] = counters.get(item, 0) + int(cnt)
            if len(counters) > capacity:
                delta = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    k: v - delta for k, v in counters.items() if v > delta
                }
        # null-item sentinel row carries this partition's exact size
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "cnt": list(counters.values()) + [n_exact],
            }
        ).astype({"item": "string", "cnt": "int64"})

    partials = items.mapInPandas(mg_partials, schema="item string, cnt bigint")
    # The merged counter table (<= capacity+1 rows) is consumed twice
    # (total + report) and the static plan shows 2 MapInPandas nodes,
    # but both consumers hang off ONE exchange and Spark's ReuseExchange
    # rule deduplicates the pass at runtime — an eager localCheckpoint
    # here (tried in r11) only added a materialization job and measured
    # a driver-confirmed -15% with no saved execution. Left on the
    # optimizer. The parity suite does not guard the reuse: re-running
    # the deterministic MG pass yields identical counts, so a
    # ReuseExchange regression only shows as time — in the bench and as
    # a repeated source scan in scripts/plan_sweep.py's scan counts.
    agg = partials.groupBy("item").agg(F.sum("cnt").alias("est_count"))
    total = agg.where(F.col("item").isNull()).select(F.col("est_count").alias("n"))
    merged = agg.where(F.col("item").isNotNull())
    return (
        merged.join(F.broadcast(total))
        .where(F.col("est_count") >= F.lit(support) * F.col("n"))
        .select("item", "est_count")
    )


COMPRESSION_MIN_RATIO = 0.35  # below: pathologically repetitive text


@register("text_compression_quality", tags=("udf", "text", "quality"))
def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality gate (the CCNet/Gopher-style repetition
    signal): zlib-deflate each document and score ``compressed_bytes /
    original_bytes`` — ratios near 0 mean the text is dominated by
    repeated blocks that token-level rules (text_repetition_score) can
    miss, e.g. a boilerplate page pasted hundreds of times.

    Arrow-batched scalar pandas UDF; zlib runs in C per value so the
    Python overhead is one call per document, not per byte. Row-local —
    embarrassingly parallel with the scan, shuffles nothing. Rows-only
    for the driver (DuckDB has no deflate); the exact scores are pinned
    against direct ``zlib.compress`` in tests/test_pipeline_ops.py.

    Edge semantics (explicit): only a NULL text yields NULL comp_bytes;
    an empty string is compressed for real (zlib's 8-byte empty stream),
    matching the ``len(zlib.compress(raw, 6))`` pin for every non-null
    doc. Zero-length and NULL docs carry no signal, so comp_ratio is
    NULL for them and they are dropped (keep = false) rather than being
    misread as "pathologically repetitive".
    """
    docs = load_table(spark, sf_dir, "documents")
    return with_compression_quality(docs, "doc_id", "text")


def with_compression_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Core of text_compression_quality over any (id, text) frame."""
    import zlib

    @F.pandas_udf(T.LongType())
    def deflate_len(text: pd.Series) -> pd.Series:
        return text.map(
            lambda s: len(zlib.compress(s.encode("utf-8"), 6)),
            na_action="ignore",
        )

    orig = F.octet_length(F.col(text_col))
    return (
        df.select(
            id_col,
            orig.cast("bigint").alias("orig_bytes"),
            deflate_len(F.col(text_col)).alias("comp_bytes"),
        )
        .withColumn(
            "comp_ratio",
            F.when(
                F.col("orig_bytes") > 0,
                F.round(F.col("comp_bytes") / F.col("orig_bytes"), 4),
            ),
        )
        .withColumn(
            "keep",
            F.coalesce(
                F.col("comp_ratio") >= COMPRESSION_MIN_RATIO, F.lit(False)
            ),
        )
    )


@register(
    "udf_map_in_arrow",
    oracle="""
        SELECT doc_id, n_chars, length(text) AS utf8_len,
               (n_chars = length(text)) AS len_matches
        FROM documents
    """,
    tags=("udf", "multimodal"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-pandas Python boundary: RecordBatches flow
    Arrow->Arrow with pyarrow.compute kernels (C, vectorized), skipping
    the pandas conversion mapInPandas pays per batch. The canonical fit
    is metadata validation over bulk payloads (here: does the stored
    n_chars match the actual UTF-8 length) where constructing a pandas
    object column per batch would dominate the actual work. Same
    executor-side batch contract as the pandas form; only the per-batch
    representation differs."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")

    def _validate(batches):
        import pyarrow.compute as pc

        for b in batches:
            utf8_len = pc.cast(pc.utf8_length(b.column(2)), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), utf8_len, pc.equal(b.column(1), utf8_len)],
                ["doc_id", "n_chars", "utf8_len", "len_matches"],
            )

    return docs.mapInArrow(
        _validate, "doc_id long, n_chars long, utf8_len long, len_matches boolean"
    )
