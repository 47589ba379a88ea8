"""MinHash + LSH near-duplicate detection (north-star extension).

Pipeline (the standard shingle -> minhash -> band -> bucket-join design;
cf. PAPERS.md MMDS-style LSH):

1. shingle: 3-gram token shingles of the lower-cased text
2. minhash: NUM_PERM permutations min((a_i * h + b_i) mod P) over 32-bit
   shingle hashes — computed ROW-LOCALLY with aggregate() over the shingle
   array (no explode, no shuffle; the signature stage is a pure map)
3. LSH banding: NUM_BANDS bands of ROWS_PER_BAND signature rows, band
   digest = the band's two rows packed losslessly into one bigint (the
   DuckDB oracle's md5 of the joined rows groups identically); candidate
   pairs are generated INSIDE each (band, digest) bucket after a single
   groupBy — the corpus is never self-joined, so the only exchanges in
   the whole pipeline are the bucket groupBy (16 digests/doc) and the
   final pair distinct
4. verify: exact shingle-set Jaccard on candidates only (the quadratic
   step runs on |candidates|, not |corpus|^2)

Everything is deterministic and engine-agnostic: token hashes come from
md5 prefixes, permutation coefficients are fixed literals, so the DuckDB
oracle runs the *same* algorithm and must produce identical rows.

Scale: at 100 TB the corpus self-join never materializes — only bucket
groups co-locate (groupBy band digest), and bucket skew is bounded because
a digest collision beyond true near-dups is ~2^-64. The signature matrix
is NUM_PERM longs/doc (~256 B/doc), 40 GB per 100 B docs — fine to shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.registry import register

P = (1 << 31) - 1  # Mersenne prime 2^31-1
NUM_PERM = 32
NUM_BANDS = 16
ROWS_PER_BAND = NUM_PERM // NUM_BANDS
JACCARD_THRESHOLD = 0.5

# Fixed permutation coefficients: a_i odd in [1, 2^31), b_i in [0, 2^31).
# Generated once from a seeded LCG and frozen here so both engines agree.


def _lcg_coeffs(n: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    x = seed
    out = []
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x | 1  # odd, nonzero
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x
        out.append((a, b))
    return out


COEFFS = _lcg_coeffs(NUM_PERM)

# --- shared expression builders (Spark SQL + DuckDB mirrors) -----------------

_SPARK_TOKS = r"split(lower(trim(text)), '\\s+')"
_SPARK_SHINGLES = (
    f"array_distinct(transform(sequence(1, greatest(size({_SPARK_TOKS}) - 2, 1)),"
    f" i -> concat_ws(' ', slice({_SPARK_TOKS}, i, 3))))"
)
_DUCK_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_DUCK_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(len({_DUCK_TOKS}) - 2, 1) + 1),"
    f" i -> array_to_string({_DUCK_TOKS}[i:i+2], ' ')))"
)
# 32-bit shingle hash from an md5 prefix — identical bytes in both engines.
_SPARK_H32 = "cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint)"
_DUCK_H32 = "CAST(CAST('0x' || substr(md5(sh), 1, 8) AS UBIGINT) AS BIGINT)"


def shingles_df(docs: DataFrame) -> DataFrame:
    """doc_id + distinct 3-gram shingle set (array<string>).

    Tokens materialize once into a column before the shingle transform —
    the single-expression form would re-evaluate split() three times per
    row (sequence bound + slice + size), which dominated the profile.
    """
    # O(n) construction: zip the token array against its 1- and 2-shifted
    # selves. The naive transform(sequence, i -> slice(toks, i, 3)) form
    # copies a sub-array per position — O(n^2) per document with string
    # allocation, and it dominated the whole LSH pipeline's profile.
    # (The DuckDB oracle keeps the naive form: same result, different cost.)
    return (
        docs.select("doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__toks"))
        .select(
            "doc_id",
            F.expr(
                """
                CASE WHEN size(__toks) < 3
                     THEN array(concat_ws(' ', __toks))
                     ELSE array_distinct(filter(
                          zip_with(
                              zip_with(__toks, slice(__toks, 2, size(__toks) - 1),
                                       (x, y) -> concat(x, ' ', y)),
                              slice(__toks, 3, size(__toks) - 2),
                              (x, y) -> concat(x, ' ', y)),
                          s -> s IS NOT NULL))
                END
                """
            ).alias("shingles"),
        )
    )


def _coeff_array_sql() -> str:
    """The NUM_PERM (a, b) permutation coefficients as one array literal."""
    return "array(" + ", ".join(
        f"named_struct('a', cast({a} as bigint), 'b', cast({b} as bigint))"
        for a, b in COEFFS
    ) + ")"


def _sig_fold_sql() -> str:
    """ONE aggregate() fold producing all NUM_PERM mins as an array:
    per shingle hash, zip_with updates every permutation's running min.
    Measurably faster than NUM_PERM separate aggregate() folds (each of
    which re-traverses the shingle-hash array), bit-identical output."""
    coeffs = _coeff_array_sql()
    return (
        f"aggregate(hs, transform({coeffs}, c -> cast({P} as bigint)), "
        f"(acc, h) -> zip_with(acc, {coeffs}, "
        f"(m, c) -> least(m, (c.a * h + c.b) % {P})))"
    )


def _sql_signature_cte() -> str:
    """DuckDB CTEs for the signature table sig(doc_id, m0..m{NUM_PERM-1}):
    unnest + GROUP BY min per permutation — the same values as the
    Spark single-fold chain (_spark_sig_cte), by an independent path."""
    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {P}) AS m{i}" for i, (a, b) in enumerate(COEFFS)
    )
    return f"""
        tok AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM documents),
        ex AS (SELECT doc_id, {_DUCK_H32} AS h
               FROM (SELECT doc_id, unnest(shingles) AS sh FROM tok)),
        sig AS (SELECT doc_id,
               {mins}
               FROM ex GROUP BY doc_id)
    """


def _sql_band_exprs() -> str:
    rows = []
    for band in range(NUM_BANDS):
        cols = ", ".join(
            f"CAST(m{band * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        rows.append(f"SELECT doc_id, {band} AS band, md5(concat_ws(',', {cols})) AS digest FROM sig")
    return " UNION ALL ".join(rows)


_SIG_SAMPLE_COLS = ["m0", "m1", "m7", "m15", "m31"]

# --- Spark-SQL single-statement forms ----------------------------------------
# The registered queries below go through ONE spark.sql() call: building
# the ~50-expression pipeline through the DataFrame API costs ~0.5 s of
# py4j round-trips and per-F.expr parses on every invocation, while a
# single SQL parse is O(10 ms). shingles_df above is the DataFrame form
# of the shg CTE, kept for dedup/jaccard.py's exact-Jaccard operator.

_SPARK_SHINGLE_CASE = """
    CASE WHEN size(toks) < 3
         THEN array(concat_ws(' ', toks))
         ELSE array_distinct(filter(
              zip_with(
                  zip_with(toks, slice(toks, 2, size(toks) - 1),
                           (x, y) -> concat(x, ' ', y)),
                  slice(toks, 3, size(toks) - 2),
                  (x, y) -> concat(x, ' ', y)),
              s -> s IS NOT NULL))
    END
"""


def _spark_sig_cte(src: str) -> str:
    """Spark-dialect CTE chain tok -> shg -> hsx -> sigf -> sig: the
    shingle set per doc, its 32-bit md5-prefix hashes, then all NUM_PERM
    permutation mins from ONE aggregate() fold (_sig_fold_sql) — the
    signature stage is a shuffle-free map. sig exposes m0..m{NUM_PERM-1}."""
    mins = ", ".join(f"ms[{i}] AS m{i}" for i in range(NUM_PERM))
    return f"""
        tok AS (SELECT doc_id, {_SPARK_TOKS} AS toks FROM {src}),
        shg AS (SELECT doc_id, {_SPARK_SHINGLE_CASE} AS shingles FROM tok),
        hsx AS (SELECT doc_id, transform(shingles, sh -> {_SPARK_H32}) AS hs FROM shg),
        sigf AS (SELECT doc_id, {_sig_fold_sql()} AS ms FROM hsx),
        sig AS (SELECT doc_id, {mins} FROM sigf)
    """


def _spark_bands_cte() -> str:
    # band digest = the band's two signature rows packed into ONE bigint:
    # m < P < 2^31, so m_a * P + m_b < 2^62 is lossless (injective) and
    # bucket membership is exactly row-equality; the shuffle keys on 8
    # bytes. The digest never leaves the plan (the output is candidate
    # pairs), so the oracle's md5 form groups identically.
    assert ROWS_PER_BAND == 2, "64-bit packing holds for 2 rows/band"
    structs = ", ".join(
        f"named_struct('band', {b}, 'digest', "
        f"m{b * ROWS_PER_BAND} * cast({P} as bigint) + m{b * ROWS_PER_BAND + 1})"
        for b in range(NUM_BANDS)
    )
    return f"""
        bands AS (
            SELECT doc_id, bd.band AS band, bd.digest AS digest
            FROM sig LATERAL VIEW explode(array({structs})) t AS bd),
        cand AS (
            SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b
            FROM (SELECT ids FROM (
                      SELECT array_sort(collect_set(doc_id)) AS ids
                      FROM bands GROUP BY band, digest)
                  WHERE size(ids) >= 2) b
            LATERAL VIEW explode(flatten(transform(ids, (x, i) ->
                transform(slice(ids, i + 2, size(ids) - i - 1),
                          y -> named_struct('doc_a', x, 'doc_b', y))))) t AS p)
    """


_FANNED_VIEWS: set[tuple[int, str]] = set()


def _sig_materialized_view(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (doc_id, shingles, ms) ONCE for this invocation and
    expose it as a temp view — the deferred round-4 refactor from
    docs/SCALING.md. The multi-reference consumers (verified, accuracy)
    previously re-derived the shingle/signature CTE chain per reference
    (Catalyst inlines WITH CTEs), re-scanning the corpus 3-5x per query;
    at 100 TB that is 3-5 full corpus passes for one answer.

    localCheckpoint(eager=True) cuts the lineage at the signature table
    (NUM_PERM longs + shingle set per doc), so every downstream branch —
    band generation, candidate joins, exact-Jaccard verify — reads the
    materialized blocks instead of replaying the scan. This is the
    production shape: signatures are computed once and STORED; dedup
    passes join against the signature store. Deliberately NOT memoized
    across invocations (unlike _fanned_docs_view, which is a pure
    logical view): each call pays the one signature pass honestly."""
    src = _fanned_docs_view(spark, sf_dir)
    name = "__minhash_sig_" + "".join(c if c.isalnum() else "_" for c in sf_dir)
    df = spark.sql(
        f"""
        WITH tok AS (SELECT doc_id, {_SPARK_TOKS} AS toks FROM {src}),
        shg AS (SELECT doc_id, {_SPARK_SHINGLE_CASE} AS shingles FROM tok),
        hsx AS (SELECT doc_id, shingles,
                       transform(shingles, sh -> {_SPARK_H32}) AS hs FROM shg)
        SELECT doc_id, shingles, {_sig_fold_sql()} AS ms FROM hsx
        """
    ).localCheckpoint(eager=True)
    df.createOrReplaceTempView(name)
    return name


def _sig_cte_over_view(view: str) -> str:
    """sig/sigf/shg CTEs re-expressed as projections of the materialized
    signature view — same names the single-statement bodies already
    reference, zero recomputation."""
    mins = ", ".join(f"ms[{i}] AS m{i}" for i in range(NUM_PERM))
    return f"""
        shg AS (SELECT doc_id, shingles FROM {view}),
        sigf AS (SELECT doc_id, ms FROM {view}),
        sig AS (SELECT doc_id, {mins} FROM {view})
    """


def _fanned_docs_view(spark: SparkSession, sf_dir: str) -> str:
    """Register (once per session+sf_dir) a fanned documents temp view;
    the view name encodes the sf_dir so concurrent scales never collide."""
    from cdc_export_system_spark.io.sources import load_table_fanned as _ltf

    from cdc_export_system_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)  # cache hit skips load_table — re-assert UTC
    name = "__minhash_documents_" + "".join(c if c.isalnum() else "_" for c in sf_dir)
    key = (id(spark), name)
    if key not in _FANNED_VIEWS:
        _ltf(spark, sf_dir, "documents").createOrReplaceTempView(name)
        _FANNED_VIEWS.add(key)
    return name


@register(
    "dedup_minhash_signature",
    oracle=f"""
        WITH {_sql_signature_cte()}
        SELECT doc_id, {", ".join(_SIG_SAMPLE_COLS)} FROM sig
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (sampled columns keep the checked result narrow;
    all NUM_PERM values feed the LSH query below)."""
    src = _fanned_docs_view(spark, sf_dir)
    return spark.sql(
        f"WITH {_spark_sig_cte(src)} SELECT doc_id, {', '.join(_SIG_SAMPLE_COLS)} FROM sig"
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH {_sql_signature_cte()},
        bands AS ({_sql_band_exprs()})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
    """,
    headline=True,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one signature band."""
    src = _fanned_docs_view(spark, sf_dir)
    return spark.sql(
        f"WITH {_spark_sig_cte(src)}, {_spark_bands_cte()} SELECT doc_a, doc_b FROM cand"
    )


@register(
    "dedup_minhash_verified",
    oracle=f"""
        WITH {_sql_signature_cte()},
        bands AS ({_sql_band_exprs()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id),
        jac AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
                     / (len(ta.shingles) + len(tb.shingles)
                        - len(list_intersect(ta.shingles, tb.shingles))) AS jaccard
            FROM cand c
            JOIN tok ta ON ta.doc_id = c.doc_a
            JOIN tok tb ON tb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, floor(jaccard * 1000000 + 0.5) / 1000000 AS jaccard
        FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact shingle-set Jaccard >= 0.5 — the
    full dedup pipeline's output (pairs to collapse).

    The shingle/signature table materializes ONCE (_sig_materialized_view);
    the candidate path and both verify-join sides read it back — one
    corpus pass total, where the inlined-CTE form paid three."""
    view = _sig_materialized_view(spark, sf_dir)
    inter = "size(array_intersect(ta.shingles, tb.shingles))"
    return spark.sql(
        f"""
        WITH {_sig_cte_over_view(view)}, {_spark_bands_cte()}
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT c.doc_a, c.doc_b,
                   floor(cast({inter} as double)
                         / (size(ta.shingles) + size(tb.shingles) - {inter})
                         * 1000000 + 0.5) / 1000000 AS jaccard
            FROM cand c
            JOIN shg ta ON ta.doc_id = c.doc_a
            JOIN shg tb ON tb.doc_id = c.doc_b)
        WHERE jaccard >= {JACCARD_THRESHOLD}
        """
    )


@register(
    "dedup_minhash_incremental",
    oracle=f"""
        WITH {_sql_signature_cte()},
        bands AS ({_sql_band_exprs()})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
        WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1
    """,
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: LSH candidate pairs that touch
    TODAY'S batch (odd doc_ids stand in for the new arrivals) — the
    steady-state form of dedup_minhash_lsh, where yesterday's corpus is
    already indexed and only pairs involving a new document matter.

    Same single bucket-groupBy as the full pipeline — never a band-table
    self-join (which would also execute the signature pipeline twice) —
    with two incremental refinements, both row-local: buckets with no
    new member are discarded before any pair materializes
    (``exists(ids, odd)``), and old-old pairs are filtered inside the
    per-bucket pair generator. In production the band rows of the
    already-indexed corpus stream from the persisted band index
    (io/bucketed.py layout, cf. sim_search_lsh_pruned) instead of being
    recomputed, so per-day cost is |new docs| signatures + a bucket
    probe — this query keeps the stateless registry contract but plans
    the identical downstream shape."""
    src = _fanned_docs_view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH {_spark_sig_cte(src)}, {_spark_bands_cte()}
        SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b
        FROM (SELECT ids FROM (
                  SELECT array_sort(collect_set(doc_id)) AS ids
                  FROM bands GROUP BY band, digest)
              WHERE size(ids) >= 2 AND exists(ids, x -> x % 2 = 1)) b
        LATERAL VIEW explode(flatten(transform(ids, (x, i) ->
            transform(filter(slice(ids, i + 2, size(ids) - i - 1),
                             y -> x % 2 = 1 OR y % 2 = 1),
                      y -> named_struct('doc_a', x, 'doc_b', y))))) t AS p
        """
    )


_ACC_EST_SQL = (
    "(" + " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
    ) + f") / CAST({NUM_PERM} AS DOUBLE)"
)


@register(
    "dedup_minhash_accuracy",
    oracle=f"""
        WITH {_sql_signature_cte()},
        bands AS ({_sql_band_exprs()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id),
        acc AS (
            SELECT c.doc_a, c.doc_b,
                   {_ACC_EST_SQL} AS est,
                   CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
                     / (len(ta.shingles) + len(tb.shingles)
                        - len(list_intersect(ta.shingles, tb.shingles))) AS exact
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b
            JOIN tok ta ON ta.doc_id = c.doc_a
            JOIN tok tb ON tb.doc_id = c.doc_b)
        SELECT doc_a, doc_b,
               floor(est * 1000000 + 0.5) / 1000000 AS est_jaccard,
               floor(exact * 1000000 + 0.5) / 1000000 AS exact_jaccard,
               floor(abs(est - exact) * 1000000 + 0.5) / 1000000 AS abs_err
        FROM acc
    """,
    tags=("dedup", "minhash", "quality", "sketch"),
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash accuracy audit: the signature-agreement
    Jaccard ESTIMATE (matching components / NUM_PERM — the unbiased
    MinHash estimator) beside the EXACT shingle-set Jaccard, with the
    absolute error — the sketch-accuracy gate for the dedup family, the
    sibling of sim_recall_at_k on the ANN side (E[err] ~ 1/√NUM_PERM ≈
    0.18 at 32 permutations; raising NUM_PERM buys √-rate accuracy for
    linear signature cost — this op is how a deployment measures that
    trade on ITS corpus before committing a threshold).

    Scale: candidates come from the banded LSH join (never all pairs);
    the estimate is row-local zip_with algebra over the two 32-long
    signatures; the exact Jaccard joins the shingle arrays for candidate
    pairs only — the same bounded verify cost dedup_minhash_verified
    already pays.

    The shingle/signature table materializes ONCE (_sig_materialized_view)
    and feeds all five references (candidate path, two signature sides,
    two shingle sides) — one corpus pass where the inlined-CTE form paid
    five."""
    view = _sig_materialized_view(spark, sf_dir)
    inter = "size(array_intersect(ta.shingles, tb.shingles))"
    est = (
        "cast(size(filter(zip_with(sa.ms, sb.ms, (x, y) -> x = y), b -> b)) as double)"
        f" / {NUM_PERM}"
    )
    return spark.sql(
        f"""
        WITH {_sig_cte_over_view(view)}, {_spark_bands_cte()}
        SELECT doc_a, doc_b,
               floor(est * 1000000 + 0.5) / 1000000 AS est_jaccard,
               floor(exact * 1000000 + 0.5) / 1000000 AS exact_jaccard,
               floor(abs(est - exact) * 1000000 + 0.5) / 1000000 AS abs_err
        FROM (
            SELECT c.doc_a, c.doc_b,
                   {est} AS est,
                   cast({inter} as double)
                     / (size(ta.shingles) + size(tb.shingles) - {inter}) AS exact
            FROM cand c
            JOIN sigf sa ON sa.doc_id = c.doc_a
            JOIN sigf sb ON sb.doc_id = c.doc_b
            JOIN shg ta ON ta.doc_id = c.doc_a
            JOIN shg tb ON tb.doc_id = c.doc_b)
        """
    )
