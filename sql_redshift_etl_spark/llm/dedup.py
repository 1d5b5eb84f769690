"""Deduplication operators for training-data pipelines (SURVEY.md §2.9
L1/L2): exact (content/bag hash), MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup and exact-substring spans.

Design for 100 TB:
- Exact dedup = hash → groupBy: one shuffle on the 16-byte fingerprint,
  perfectly partitionable, no skew (hashes are uniform).
- MinHash LSH: per-doc signatures are a map-side pass; the only shuffle
  is the band-bucket self-join whose output is |candidate pairs|, tuned
  by (bands, rows-per-band) — never the O(n²) pair space.
- All hashing is md5 (identical across engines/languages), making even
  the LSH pipeline oracle-checkable — engine-specific hashes
  (xxhash64/FNV) would break both the oracle and cross-system reruns.

Shared core: every near-dup query is a candidate filter plus a verifier,
and each building block is defined once per engine side.
- Spark: ``_minhash_bands`` and ``_sign_bands`` build the LSH band
  relations, ``banded_candidates`` caps and self-joins them,
  ``_jaccard_verify`` scores shingle-set candidates and ``_jaccard_tail``
  applies the 0.5 threshold and rounding, ``near_dup_survivors`` turns
  pairs into the deduplicated corpus, ``_substr_hits`` finds the
  duplicated windows, and ``similarity._dot`` is the dot product.
- DuckDB: ``minhash_pairs_oracle`` (the LSH pair pipeline),
  ``_CLUSTER_LABEL_CTES`` (sym, l0 and the label rounds),
  ``_DUCK_SUBSTR_DUP`` (w, wins, dup) with ``_DUCK_SPAN_ISLANDS``
  (flagged, isl, spans), ``similarity.duck_cosine`` and ``BAG_FP_ORACLE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_redshift_etl_spark.catalog import load_table
from sql_redshift_etl_spark.llm.similarity import (
    _dot,
    duck_cosine,
    duck_plane_bits,
    sign_signature_col,
)
from sql_redshift_etl_spark.plans.registry import register
from sql_redshift_etl_spark.scale import parquet_total_rows

N_MINHASH = 8  # minhash permutations (32-bit slices of seeded md5 digests)
N_BANDS = 4  # LSH bands of 2 rows each
_SLICES_PER_DIGEST = 4  # a 32-hex md5 yields four 8-hex (32-bit) slices


def _digest_seed(s: int) -> int:
    return s // _SLICES_PER_DIGEST


def _slice_start(s: int) -> int:
    return 1 + 8 * (s % _SLICES_PER_DIGEST)
SIMHASH_BITS = 16

# 3-word shingles; docs shorter than 3 words are excluded symmetrically.
# Both engines shingle over a PRE-PROJECTED words array `w`: hoisting the
# split out of the higher-order lambda matters, because inside the lambda
# it is re-evaluated per shingle index — O(words²) per doc (measured 4×
# slower on the Spark side at sf0.1: 1.29 s vs 0.33 s for the explode).
_SPARK_SHINGLES = "transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))"
_DUCK_SHINGLES = (
    "list_transform(generate_series(1, len(w) - 2), i -> array_to_string(w[i:i+2], ' '))"
)


# Normalized bag-of-words fingerprint.
BAG_FP_ORACLE = "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"


def bag_fingerprint(col: str = "text") -> F.Column:
    """Spark twin of BAG_FP_ORACLE."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(col, " "))), " ").cast("binary")
    )


def _shingled(spark: SparkSession, sf_dir: str, *extra_cols: str) -> DataFrame:
    """Distinct (doc_id[, extra], shingle) rows for ≥3-word documents."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", *extra_cols, F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", *extra_cols, F.explode(F.expr(_SPARK_SHINGLES)).alias("sh"))
        .distinct()
    )


@register(
    "dedup_exact_groups",
    tags=("L1",),
    oracle=f"""
        SELECT bag_fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc, MAX(doc_id) AS last_doc
        FROM (
            SELECT doc_id, {BAG_FP_ORACLE} AS bag_fp
            FROM documents
        )
        GROUP BY bag_fp
        HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups (L1) keyed on the normalized bag-of-words
    fingerprint (raw-text md5 finds zero dups on the fixtures; the
    normalized key finds the planted word-reordered copies)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", bag_fingerprint().alias("bag_fp"))
        .groupBy("bag_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


@register(
    "dedup_keep_canonical",
    tags=("L1", "W6"),
    oracle=f"""
        SELECT doc_id, lang, source
        FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY {BAG_FP_ORACLE}
                       ORDER BY doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn = 1
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keeping the canonical (lowest-id) copy per fingerprint —
    the ROW_NUMBER idiom (W6) rather than dropDuplicates, because it
    gives a *deterministic* survivor; dropDuplicates keeps an arbitrary
    row, which is rerun-unstable at scale."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(bag_fingerprint()).orderBy("doc_id")
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _minhash_duck_expr(s: int) -> str:
    seed = _digest_seed(s)
    digest = "md5(sh)" if seed == 0 else f"md5('{seed}:' || sh)"
    return f"MIN(substr({digest}, {_slice_start(s)}, 8)) AS m{s}"


def minhash_pairs_oracle(docs_rel: str = "documents") -> str:
    """The full MinHash+LSH near-dup-pair pipeline as DuckDB SQL over an
    arbitrary documents relation/CTE (must expose doc_id, text)."""
    return _MINHASH_ORACLE_TEMPLATE.format(docs_rel=docs_rel)


_MINHASH_ORACLE_TEMPLATE = f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM {{docs_rel}}
        ),
        sh AS MATERIALIZED (
            SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS sh
            FROM t
            WHERE len(w) >= 3
        ),
        sig AS (
            SELECT doc_id,
                   {", ".join(_minhash_duck_expr(s) for s in range(N_MINHASH))}
            FROM sh GROUP BY doc_id
        ),
        bands AS MATERIALIZED (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band_idx, m{2 * b} || m{2 * b + 1} AS band_val FROM sig"
                for b in range(N_BANDS)
            )}
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        ),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common,
                   ANY_VALUE(sa.n_sh) AS na, ANY_VALUE(sb.n_sh) AS nb
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
            JOIN sizes sa ON sa.doc_id = c.doc_a
            JOIN sizes sb ON sb.doc_id = c.doc_b
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b,
               ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
        FROM verified
        WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.5
    """

_MINHASH_ORACLE = minhash_pairs_oracle()


@register(
    "dedup_minhash_lsh",
    tags=("L2",),
    bench=True,
    oracle=_MINHASH_ORACLE,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection (L2), full pipeline:
    shingle(3-gram) → 8 minhashes (32-bit md5 slices) → 4 bands × 2 rows
    → band-bucket self-join for candidates → exact-Jaccard verification
    ≥ 0.5.

    The minhash value is the lexicographic MIN of fixed-width md5 hex
    slices — deterministic, engine-portable, a valid uniform permutation.
    Scale: the ENTIRE per-document state (8 minhashes + the distinct
    shingle set) is computed ROW-LOCALLY — array_distinct over the
    shingle transform, array_min over md5-slice transforms — so the
    signature stage has NO shuffle at all: a 100 TB corpus signs itself
    in a single embarrassingly-parallel scan. The only shuffles left are
    the band self-join (|docs × bands| short rows) and the tiny verified
    output; verification joins the candidate pairs (AQE-broadcast while
    small — never hinted, candidates grow with the corpus) back to
    the per-doc shingle sets and intersects in-place — candidates only,
    never a full shingle relation (P[band hit] = J², so false candidates
    stay rare).
    """
    return minhash_lsh_pairs_df(load_table(spark, sf_dir, "documents"))


def _shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, n_sh, sh_set) — the distinct 3-gram shingle set, derived
    ROW-LOCALLY (split + transform + array_distinct; no md5, no
    shuffle), so the verify side of minhash_lsh_pairs_df re-derives it
    per consumer instead of shuffling the sets."""
    shingles = F.array_distinct(F.expr(_SPARK_SHINGLES))
    return (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", shingles.alias("sh_set"))
        .select("doc_id", F.size("sh_set").alias("n_sh"), "sh_set")
    )


def _minhash_signatures(d: DataFrame, repartition: bool = True) -> DataFrame:
    """(doc_id, sh_set, n_sh, m0..m7): row-local signing, no shuffle.

    ``repartition=False`` skips the materialization exchange — for
    single-consumer callers, the stage decomposition in
    tools/residual_profile.py, and lsh_band_buckets, which drops the set
    columns BEFORE adding its own slim repartition; multi-consumer
    callers that keep the default get the exchange as their shared
    materialization point.

    Perf notes (all measured at sf0.1, staged layout): exploding
    shingles and aggregating MIN/collect_set per doc_id was a 600k-row
    shuffle; this shape signs row-locally and shuffles ONE compact row
    per doc. The explicit repartition is load-bearing: it is the
    materialization point the downstream consumers (band self-join
    sides) reuse — without it Catalyst inlines the md5 transforms into
    every consumer (measured 5.8 s at sf0.01 vs 0.3 s with the
    exchange). Also measured: the md5 wrap around band values added
    nothing (equality on m_i pairs is equality either way — plain
    concat keys now)."""
    base = _shingle_sets(d).drop("n_sh")

    def _md5_arr(seed: int) -> F.Column:
        if seed == 0:
            return F.transform(F.col("sh_set"), lambda s: F.md5(s.cast("binary")))
        prefix = f"{seed}:"
        return F.transform(
            F.col("sh_set"), lambda s: F.md5(F.concat(F.lit(prefix), s).cast("binary"))
        )

    def _slice_min(seed: int, pos: int) -> F.Column:
        return F.array_min(F.transform(F.col(f"dig{seed}"), lambda h: F.substring(h, pos, 8)))

    n_digests = _digest_seed(N_MINHASH - 1) + 1
    with_digests = base.select(
        "doc_id", "sh_set", *[_md5_arr(seed).alias(f"dig{seed}") for seed in range(n_digests)]
    )
    signed = with_digests.select(
        "doc_id",
        "sh_set",
        F.size("sh_set").alias("n_sh"),
        *[
            _slice_min(_digest_seed(s), _slice_start(s)).alias(f"m{s}")
            for s in range(N_MINHASH)
        ],
    )
    return signed.repartition(F.col("doc_id")) if repartition else signed


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) from a signature relation: band b is
    the concat of m(2b) and m(2b+1)."""
    band_vals = F.array(
        *[F.concat(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}")) for b in range(N_BANDS)]
    )
    return sig.select("doc_id", F.posexplode(band_vals).alias("band_idx", "band_val"))


def lsh_band_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) over a documents frame — the band
    relation minhash_lsh_pairs_df self-joins, also read on its own by
    bucket-size audits (tools/lsh_band_audit.py, docs/SCALE.md).

    The signature exchange carries ONLY (doc_id, m0..m7) — ~100 B/doc —
    instead of riding the corpus-dominant shingle sets through the
    shuffle (tools/residual_profile.py, sf0.1 staged: 0.83-0.96 s →
    0.75-0.76 s steady, 5 → 4 jobs, identical rows). At 100 TB the
    exchange shrinks ~10× always; the sets move over the network ONLY if
    AQE shuffle-joins the verify (candidate-heavy corpora, where
    upstream exact dedup + band_cap are prescribed)."""
    sig = (
        _minhash_signatures(d, repartition=False)
        .drop("sh_set", "n_sh")
        .repartition(F.col("doc_id"))
    )
    return _minhash_bands(sig)


def banded_candidates(
    bands: DataFrame,
    id_col: str,
    out_a: str,
    out_b: str,
    band_cap: int | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Candidate pairs from a (id, band_idx, band_val[, payload...])
    relation: LSH banding's cap + self-join for both the MinHash and the
    sign-LSH bands, so cap semantics cannot drift between them. When
    ``band_cap`` is set, band buckets holding > cap ids are EXCLUDED
    before the self-join (the literal ``WHERE n <= cap``), bounding the
    worst bucket at cap² candidate pairs.

    ``carry``: payload columns present in ``bands`` to surface on
    both sides as ``<col>_a``/``<col>_b``, WITHOUT the trailing
    ``.distinct()`` (the caller scores first, then distincts the small
    scored relation). This is the 100 TB verify shape: carrying vectors
    THROUGH the band join shuffles O(n·bands·payload); the alternative
    — distinct ids first, then join payloads back per pair — shuffles
    O(candidates·payload), which at the sf100 tier is ~240 GB of
    spill (measured to disk exhaustion) vs ~8 GB for the carry plan.
    """
    if band_cap is not None:
        # The hot-band guard: count bucket occupancy (a tiny aggregate on
        # the already-compact id/band projection) and keep only buckets
        # at or under the cap — the self-join below then has a cap² worst
        # case per bucket instead of an unbounded quadratic blowup.
        sizes = (
            bands.select("band_idx", "band_val")
            .groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        bands = bands.join(
            sizes.where(F.col("n") <= band_cap).drop("n"), ["band_idx", "band_val"]
        )
    a = bands.alias("a")
    b = bands.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    if carry:
        return joined.select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
    return (
        joined
        .select(F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b))
        .distinct()
    )


def minhash_lsh_pairs_df(d: DataFrame, band_cap: int | None = None) -> DataFrame:
    """The LSH pipeline over an arbitrary documents frame (doc_id, text)
    — the Spark twin of ``minhash_pairs_oracle``.

    ``band_cap``: hot-band guard for boilerplate-heavy corpora (off by
    default — the registered queries are oracle-matched without it, and
    the fixture corpus measures nowhere near the hazard; see
    docs/SCALE.md "LSH hot bands" for the measured distribution and the
    100 TB policy). When set, band buckets holding > band_cap docs are
    EXCLUDED from candidate generation before the self-join — the
    literal ``WHERE n <= cap`` — bounding the join's worst bucket at
    cap² candidate pairs. Rationale: a bucket that large means
    mass-duplicated boilerplate, which (a) exact dedup upstream already
    collapses byte-identical copies of, and (b) still reaches the
    near-dup verifier through its OTHER 3 bands unless those are
    equally hot — the recall loss is confined to pairs whose every
    other band misses, P = (1-J²)³ per excluded band."""
    cand = banded_candidates(lsh_band_buckets(d), "doc_id", "doc_a", "doc_b", band_cap=band_cap)
    # No broadcast hint on cand: candidates GROW with the corpus (10×
    # docs → ≥10× pairs), so a forced broadcast is a scale cliff — it
    # OOMs the moment the pair table outgrows driver memory (reproduced
    # at sf1 under a small-heap session). AQE broadcasts it at runtime
    # while it is actually small (verified: identical executed plan at
    # sf0.1 with and without the hint) and falls back to a shuffle join
    # on doc id when it is not — which is the right plan at that size.
    return _jaccard_verify(cand, _shingle_sets(d))


def _jaccard_verify(cand: DataFrame, sets_: DataFrame) -> DataFrame:
    """Exact Jaccard of candidate pairs (doc_a, doc_b) over shingle sets
    (doc_id, n_sh, sh_set): both sets join onto the candidates and
    intersect in place — candidates only, never a full shingle relation
    (P[band hit] = J², so false candidates stay rare)."""

    def side(s: str) -> DataFrame:
        return sets_.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("n_sh").alias(f"n{s}"),
            F.col("sh_set").alias(f"set_{s}"),
        )

    verified = (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")))
    )
    return _jaccard_tail(verified)


def _jaccard_tail(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the rows of (doc_a, doc_b, n_common,
    na, nb) whose Jaccard is >= 0.5, rounded to 6 places."""
    jaccard = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.where(jaccard >= 0.5).select(
        "doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard")
    )


def minhash_incremental_pairs_df(corpus: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental MinHash dedup: near-dup pairs INVOLVING the ingest
    delta (delta×corpus and delta×delta), without a corpus self-join.

    The 100 TB ingest shape: per-doc signatures are a pure row-local
    function of the text (_minhash_signatures — no shuffle), so a
    standing corpus keeps its (doc_id, bands, sh_set) relation as a
    stored table and each ingest signs ONLY the delta. The candidate
    join is bands(delta) ⋈ bands(corpus ∪ delta) — |delta|-proportional
    probe work against a bucket-partitioned corpus relation, NOT the
    full corpus self-join a from-scratch run pays. Here both sides
    derive from the fixture in one plan (the driver contract has no
    cross-run store), but the corpus-signature subtree is exactly the
    cacheable input a production run would persist as parquet."""
    return minhash_incremental_pairs_from_sigs(
        _minhash_signatures(corpus), _minhash_signatures(delta)
    )


def minhash_incremental_pairs_from_sigs(sig_c: DataFrame, sig_d: DataFrame) -> DataFrame:
    """The ingest-time half of the incremental pipeline: takes the
    corpus SIGNATURE relation directly (in production a stored parquet
    table — tools/incremental_ingest_ab.py measures exactly that) plus
    the freshly-signed delta."""
    bands_all = _minhash_bands(sig_c).unionByName(_minhash_bands(sig_d))
    # delta × (corpus ∪ delta), not a self-join: ids compare with !=
    # and each pair is ordered after the join
    cand = (
        _minhash_bands(sig_d)
        .alias("a")
        .join(
            bands_all.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        # normalize so a delta-delta pair found in both orders is one row
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets_ = sig_c.select("doc_id", "n_sh", "sh_set").unionByName(
        sig_d.select("doc_id", "n_sh", "sh_set")
    )
    return _jaccard_verify(cand, sets_)


# the incremental oracle is the full-pipeline oracle with the candidate
# set restricted to delta-involved pairs — one definition, one tweak
_MINHASH_INCREMENTAL_ORACLE = _MINHASH_ORACLE.replace(
    "AND a.doc_id < b.doc_id",
    "AND a.doc_id < b.doc_id AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)",
)


@register(
    "dedup_minhash_incremental",
    tags=("L2",),
    oracle=_MINHASH_INCREMENTAL_ORACLE,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (L2): every tenth doc (doc_id % 10 =
    0) plays the ingest delta, the rest the standing corpus; the result
    is every near-dup pair involving a delta doc — see
    minhash_incremental_pairs_df for the no-corpus-self-join plan. The
    oracle is the shared full-pipeline LSH oracle with its candidate
    set restricted to delta-involved pairs, so band semantics stay ONE
    definition across engines; pytest additionally asserts this result
    equals the from-scratch pipeline's pairs filtered to the delta
    (test_dedup_incremental_matches_full_restricted)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_incremental_pairs_df(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
    )


@register(
    "dedup_simhash_codes",
    tags=("L2",),
    oracle=f"""
        SELECT doc_id,
               {" || ".join(
                   f"(CASE WHEN SUM(CASE WHEN substr(md5(w), {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) >= 0"
                   f" THEN '1' ELSE '0' END)"
                   for b in range(SIMHASH_BITS)
               )} AS simhash
        FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY doc_id
    """,
)
def dedup_simhash_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (L2): 16-bit signature over the distinct-word set. Bit b
    uses the high bit of hex nibble b of md5(word) (nibble ≥ '8') as the
    ±1 vote — word-level locality-sensitive, engine-portable.

    Scale: one explode + one groupBy; near-dup candidates are then
    equal-code (or banded-prefix) buckets — used by dedup tooling as the
    cheaper, lower-recall cousin of MinHash LSH.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
    md5w = F.md5(F.col("w").cast("binary"))
    votes = [
        F.sum(F.when(F.substring(md5w, b + 1, 1) >= "8", 1).otherwise(-1)).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    code = F.concat(
        *[F.when(F.col(f"v{b}") >= 0, "1").otherwise("0") for b in range(SIMHASH_BITS)]
    )
    return agg.select("doc_id", code.alias("simhash"))


@register(
    "dedup_ngram_jaccard",
    tags=("L2",),
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, source, unnest({_DUCK_SHINGLES}) AS sh
            FROM t
            WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a
            JOIN sh b ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               ROUND(CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (L2), blocked by source.

    Scale: the shingle self-join is bounded by the blocking key (source)
    — the pattern for 'compare only within partition/domain'. Unblocked
    exact Jaccard at 100 TB is infeasible; that's what MinHash LSH
    (dedup_minhash_lsh) is for.
    """
    sh = _shingled(spark, sf_dir, "source")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    joined = inter.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a"
    ).join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
    return _jaccard_tail(joined)


@register(
    "dedup_embedding_cosine",
    tags=("L2", "L3"),
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(
                   {duck_cosine("a.embedding", "b.embedding")},
                   6) AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {duck_cosine("a.embedding", "b.embedding")} >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (L2/L3): all-pairs cosine ≥ 0.4.

    Brute-force O(n²) is the *correctness baseline* — sane for the
    fixture sizes and as a verification oracle. The 100 TB path is
    dedup_embedding_ann below: same scoring expression, candidate
    generation replaced by banded hyperplane sign-LSH.
    Cosine is computed JVM-side with higher-order functions — no UDF.
    """
    e = load_table(spark, sf_dir, "embeddings")
    a = _vec_side(e, "vec_a", "ea", "na")
    b = _vec_side(e, "vec_b", "eb", "nb")
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.select("vec_a", "vec_b", _pair_cosine("ea", "eb", "na", "nb").alias("cos_raw"))
        .where(F.col("cos_raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


# Banded sign-LSH for embedding near-dup: 8 bands × 8 planes = 64
# deterministic md5-derived hyperplanes (llm.similarity.hyperplanes —
# the first 8 are the same planes sim_ann_lsh buckets by).
ANN_DEDUP_BANDS = 8
ANN_DEDUP_BAND_BITS = 8
ANN_DEDUP_TAU = 0.4


def ann_banding_for(
    n_vectors: int,
    *,
    tau: float = 0.95,
    recall: float = 0.9,
    target_bucket: int = 16,
    max_bands: int = 64,
) -> tuple[int, int]:
    """Scale-aware (n_bands, band_bits) for the sign-LSH dedup path.

    Fixed-width banding SATURATES: a b-bit band has only 2^b buckets, so
    on a near-uniform corpus the expected bucket holds n/2^b vectors and
    candidate mass is a constant FRACTION of the n² pair space — i.e.
    quadratic absolute growth (measured: 3.6% at every tier up to sf1,
    tools/ann_dedup_ab.py — which is 6.5e9 pairs by 600 k vectors). The
    100 TB policy is therefore:

    - band_bits grows with the corpus: b = max(8, ceil(log2(n /
      target_bucket))) keeps the expected uniform bucket ≤ target_bucket,
      so per-band candidate mass is ≤ n·target_bucket/2 — LINEAR in n;
    - n_bands grows to hold recall at the dedup threshold: P[candidate]
      = 1-(1-p^b)^k with p = 1-θ/π, so k = ceil(ln(1-R)/ln(1-p^b)),
      capped at ``max_bands`` (signing cost is k·b row-local dot
      products — the linear-scan part of the budget).

    Exact duplicates (p = 1) are candidates in EVERY band at any width,
    so widening never loses the τ→1 regime dedup exists for. The
    registered fixture query keeps the frozen 8×8 (its DuckDB oracle
    inlines those 64 planes); this policy is for the scale tiers and is
    exercised by tools/lsh_band_audit.py at sf30/sf100.
    """
    import math

    b = max(8, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))
    p = 1.0 - math.acos(tau) / math.pi
    k = math.ceil(math.log(1.0 - recall) / math.log(1.0 - p**b))
    return min(k, max_bands), b


def _vec_side(e: DataFrame, id_out: str, vec_out: str, norm_out: str) -> DataFrame:
    """One side of a pair comparison: (id, vector, precomputed norm).
    The norm is computed ONCE PER VECTOR here instead of once per
    candidate pair — on hot buckets (many pairs per vector) the
    redundant per-pair norms were the dominant wasted compute. Same
    float operations in the same order, so cosines stay bit-identical."""
    return e.select(
        F.col("vec_id").alias(id_out),
        F.col("embedding").alias(vec_out),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias(norm_out),
    )


def _pair_cosine(u: str, v: str, norm_u: str, norm_v: str) -> F.Column:
    """Cosine of two vector columns from their precomputed norms: the
    scoring of both the brute-force baseline and the ANN verify, so the
    two compute the same floats in the same order."""
    return _dot(F.col(u), F.col(v)) / (F.col(norm_u) * F.col(norm_v))


def _sign_bands(e: DataFrame, n_bands: int, band_bits: int, **carry: F.Column) -> DataFrame:
    """(vec_id, *carry, band_idx, band_val): the row-local
    n_bands × band_bits hyperplane sign signature (zero shuffle) cut
    into bands. ``carry`` columns (name → expression) ride along for a
    verify inside the band join; without them only the compact
    (vec_id, band) relation fans out."""
    sig = e.select(
        "vec_id",
        *[c.alias(name) for name, c in carry.items()],
        sign_signature_col(n_bands * band_bits).alias("sig"),
    )
    band_vals = F.array(
        *[F.substring("sig", b * band_bits + 1, band_bits) for b in range(n_bands)]
    )
    return sig.select("vec_id", *carry, F.posexplode(band_vals).alias("band_idx", "band_val"))


def embedding_ann_candidates(
    e: DataFrame,
    band_cap: int | None = None,
    n_bands: int = ANN_DEDUP_BANDS,
    band_bits: int = ANN_DEDUP_BAND_BITS,
) -> DataFrame:
    """Candidate (vec_a, vec_b) pairs from the banded sign signature —
    what the A/B tool (tools/ann_dedup_ab.py) and the recall/pruning
    tests measure. ``band_cap`` is the same hot-bucket guard as the
    MinHash side (docs/SCALE.md "LSH hot bands").
    """
    return banded_candidates(
        _sign_bands(e, n_bands, band_bits), "vec_id", "vec_a", "vec_b", band_cap=band_cap
    )


def embedding_ann_pairs_df(
    e: DataFrame,
    band_cap: int | None = None,
    n_bands: int = ANN_DEDUP_BANDS,
    band_bits: int = ANN_DEDUP_BAND_BITS,
    tau: float = ANN_DEDUP_TAU,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs over an embeddings frame
    (vec_id, embedding) — dedup_embedding_cosine's 100 TB candidate
    generator. Banding defaults to the frozen fixture 8×8 (the
    registered query's oracle inlines those planes); scale tiers pass
    ``ann_banding_for(n)`` (see its docstring for the saturation math).

    Verify plan: vectors+norms are CARRIED THROUGH the band self-join
    and the exact cosine is computed inside it; only the scored
    (vec_a, vec_b, cosine) relation is distinct'd. Distinct candidate
    ids first, then both vectors joined back per pair, shuffles
    O(candidates·dim): ~240 GB of sort spill at the sf100 tier
    (measured to disk exhaustion), vs O(n·bands·dim) ≈ 8 GB for the
    carry plan. A pair colliding in several bands is scored once per
    collision (band overlap measures <1% — compute is the cheap
    currency, shuffle the expensive one) and collapses in the final
    distinct because cosine is deterministic per pair.
    """
    bands = _sign_bands(
        e,
        n_bands,
        band_bits,
        emb=F.col("embedding"),
        norm=F.sqrt(_dot(F.col("embedding"), F.col("embedding"))),
    )
    scored = banded_candidates(
        bands, "vec_id", "vec_a", "vec_b", band_cap=band_cap, carry=["emb", "norm"]
    ).select(
        "vec_a", "vec_b", _pair_cosine("emb_a", "emb_b", "norm_a", "norm_b").alias("cos_raw")
    )
    return (
        scored.where(F.col("cos_raw") >= tau)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
        .distinct()
    )


def _embedding_ann_oracle(
    nb: int = ANN_DEDUP_BANDS, bw: int = ANN_DEDUP_BAND_BITS, tau: float = ANN_DEDUP_TAU
) -> str:
    """DuckDB twin of the banded sign-LSH pipeline — possible because the
    planes are md5-derived (inlined as literals via duck_plane_bits),
    so candidate membership and the cosine verify are deterministic
    cross-engine. Parameterized over the banding so the
    scale-aware-policy query gets the same full value oracle as the
    frozen 8×8 one."""
    sig_expr = duck_plane_bits(nb * bw)
    band_sel = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, substr(sig, {b * bw + 1}, {bw}) AS bsig FROM s"
        for b in range(nb)
    )
    cos = duck_cosine("a.embedding", "b.embedding")
    return f"""
        WITH s AS MATERIALIZED (SELECT vec_id, {sig_expr} AS sig FROM embeddings),
        bands AS ({band_sel}),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.vec_id < b.vec_id
        )
        SELECT c.vec_a, c.vec_b, ROUND({cos}, 6) AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.vec_a
        JOIN embeddings b ON b.vec_id = c.vec_b
        WHERE {cos} >= {tau}
    """


@register("dedup_embedding_ann", tags=("L2", "L3"), oracle=_embedding_ann_oracle())
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH (L2/L3) — the SCALE
    path that replaces dedup_embedding_cosine's O(n²) all-pairs join.

    Candidate generation is MinHash-LSH's banding construction applied
    to hyperplane sign bits: 64 deterministic planes → 8 bands of 8 bits;
    two vectors are candidates iff some band's 8 bits all agree, then
    exact cosine ≥ 0.4 verifies candidates only. Cost is
    O(Σ bucket²·bands) not O(n²): at the fixture's near-uniform sf0.01
    vectors the candidate set measures 4,537 of 124,750 pairs (3.6%).
    Recall is the banding curve 1-(1-p^8)^8 with p = 1-θ/π: ≈0.17 at the
    fixture's adversarial τ=0.4 (θ≈66°, pytest-asserted vs brute force)
    but ≈0.94 at a production near-dup threshold of 0.9 (θ≈26°) — LSH is
    built for the high-similarity regime dedup actually targets.
    Deterministic planes ⇒ full value oracle (approximate ≠
    nondeterministic). Hot-bucket guard available via
    ``embedding_ann_pairs_df(band_cap=...)`` (docs/SCALE.md).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_ann_pairs_df(e)


_CLUSTER_ROUNDS = 3


def min_label_propagate(edges: DataFrame, rounds: int) -> DataFrame:
    """Min-label propagation over an undirected edge list (doc_a, doc_b):
    after k rounds every node's label is the smallest node id within k
    hops — fixed-round connected-components, the standard distributed CC
    kernel (each round = one join + one aggregation, all key-partitioned).

    Fixed rounds keep the result deterministic and SQL-expressible; a
    production fixpoint loop is this same body under `while changed`,
    converging in O(graph diameter) rounds. Near-dup clusters are
    near-cliques, so small fixed k is exact for them by construction.

    Self-edges (u,u) make a node's own label arrive as an ordinary
    message, so every round references the previous label frame ONCE.
    The two-reference form (lu on u, lv on v) made
    round k's logical lineage hold 2^(k+1)-1 copies of the edge list —
    each 2 copies of the whole upstream pairs pipeline — and Spark has
    no CTE materialization to stop the blow-up (exchange reuse only
    recovers part of it). Measured at sf0.1: 2.84 -> 2.05 s (-28%),
    16 -> 14 jobs, rows identical; the recurrence
    lbl_k(u) = min(lbl_{k-1}(u), min_nbr lbl_{k-1}(v)) is unchanged.
    The distinct() keeps the self-edge set at O(|V|): near-dup clusters
    are near-cliques, so per-edge self-loops would add O(|E|) rows to
    every round's join instead of once.
    """
    sym = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    sym = sym.union(sym.select("u", F.col("u").alias("v")).distinct())
    lbl = sym.groupBy("u").agg(F.min("v").alias("lbl")).select(
        F.col("u").alias("doc_id"), "lbl"
    )
    for _ in range(rounds):
        lbl = (
            sym.join(lbl, sym["v"] == lbl["doc_id"])
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("u").alias("doc_id"), "lbl")
        )
    return lbl


def _cluster_round_cte(k: int) -> str:
    # MATERIALIZED is load-bearing: DuckDB 1.0 inlines plain CTEs per
    # reference, and each round references the previous one twice (lu,
    # lv) — un-materialized, round N re-runs the whole MinHash pipeline
    # 2^N times (observed: an 80 GB temp spill at sf1).
    prev = f"l{k - 1}"
    return (
        f"l{k} AS MATERIALIZED (SELECT e.u AS doc_id, LEAST(lu.lbl, MIN(lv.lbl)) AS lbl "
        f"FROM sym e JOIN {prev} lu ON lu.doc_id = e.u "
        f"JOIN {prev} lv ON lv.doc_id = e.v GROUP BY e.u, lu.lbl)"
    )


# DuckDB twin of min_label_propagate over a `pairs` CTE; the last round
# is l{_CLUSTER_ROUNDS}.
_CLUSTER_LABEL_CTES = f"""sym AS MATERIALIZED (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        l0 AS MATERIALIZED (SELECT u AS doc_id, LEAST(u, MIN(v)) AS lbl FROM sym GROUP BY u),
        {", ".join(_cluster_round_cte(k) for k in range(1, _CLUSTER_ROUNDS + 1))}"""


def near_dup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """``docs`` without the near-duplicates: the pairs (doc_a, doc_b)
    form a graph, min_label_propagate labels each component with its
    min doc_id, and every member whose label is below its own id is
    left-anti joined away — one deterministic survivor per component.
    The anti side is |near-dup members| rows, a broadcast in practice,
    while the corpus streams through untouched."""
    lbl = min_label_propagate(pairs.select("doc_a", "doc_b"), _CLUSTER_ROUNDS)
    drop = lbl.where(F.col("lbl") < F.col("doc_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti")


@register(
    "dedup_cluster_components",
    tags=("L2", "W6"),
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
        {_CLUSTER_LABEL_CTES}
        SELECT lbl AS cluster, COUNT(*) AS n_members, MAX(doc_id) AS max_member
        FROM l{_CLUSTER_ROUNDS}
        GROUP BY lbl
        ORDER BY cluster
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (L2 completion): the verified LSH pairs
    form an undirected graph; {_CLUSTER_ROUNDS} rounds of min-label
    propagation assign every involved doc its component's min doc_id —
    the canonical-survivor id per near-dup group (keep `cluster`, drop
    the rest ⇒ corpus-level near-dedup, not just pair listing).

    Scale: each round is one |edges|-sized equi-join + groupBy (no
    all-pairs anything); edges come from the banded LSH pipeline, so the
    whole chain is bucketed end to end."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    lbl = min_label_propagate(pairs, _CLUSTER_ROUNDS)
    return (
        lbl.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_members"), F.max("doc_id").alias("max_member"))
        .select(F.col("lbl").alias("cluster"), "n_members", "max_member")
        .orderBy("cluster")
    )


@register(
    "dedup_survivor_corpus",
    tags=("L2", "W6"),
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
        {_CLUSTER_LABEL_CTES}
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        WHERE NOT EXISTS (
            SELECT 1 FROM l{_CLUSTER_ROUNDS} c
            WHERE c.doc_id = d.doc_id AND c.lbl < d.doc_id
        )
    """,
)
def dedup_survivor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dedup (L2 as a pipeline product, not a report):
    LSH near-dup pairs → connected components → keep ONE deterministic
    survivor (min doc_id) per component → emit the deduplicated corpus.
    This is the operator a training-data pipeline actually materializes;
    the pair/cluster queries above are its observability views.

    Scale: inherits the banded-LSH + fixed-round CC chain (every stage
    key-partitioned, nothing all-pairs); the final step is one left-anti
    join of documents against the (tiny) non-survivor id set.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    return near_dup_survivors(d, pairs).select("doc_id", "lang", "source", "n_chars")


# The scale-aware policy at driver-fixture size: ann_banding_for gives
# (5 bands, 8 bits) for EVERY n <= 4096 (the 8-bit floor; k depends only
# on b), so one static oracle covers all driver sf dirs (<= 2000 vecs).
_ANN_POLICY_SMALL = ann_banding_for(4096)


@register(
    "dedup_embedding_ann_scaled",
    tags=("L2", "L3"),
    oracle=_embedding_ann_oracle(*_ANN_POLICY_SMALL),
)
def dedup_embedding_ann_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the SCALE-AWARE banding policy
    (ann_banding_for) applied to the actual corpus size — the 100 TB
    configuration of dedup_embedding_ann, driver-checked.

    The policy picks band width from log2(n) (fixed-width bands saturate
    into constant-fraction-of-n² candidate mass — measured, see
    docs/SCALE.md "Sign-LSH bands must WIDEN") and band count from the
    recall target at τ=0.95. At every driver fixture (n ≤ 4096) that is
    the 8-bit floor with 5 bands, so the md5-derived planes inline into
    a full DuckDB value oracle exactly like the frozen-8×8 sibling; at
    sf30/sf100 the same builder runs 12×16 / 13×17 (measured in
    tools/dedup_scale_trend.py: candidate mass linear in n, 0.035% of
    pair space at 600 k vectors vs the fixed banding's 3.6%).
    """
    e = load_table(spark, sf_dir, "embeddings")
    # corpus size for the banding policy from the parquet footers — the
    # same n a Spark count() returns, without spending a job on it (at
    # 100 TB the store's row-count statistic is the right input to a
    # PLANNING decision, not a cluster scan)
    n = parquet_total_rows(f"{sf_dir}/embeddings.parquet")
    if n is None:
        n = e.count()
    nb, bw = ann_banding_for(n)
    return embedding_ann_pairs_df(e, n_bands=nb, band_bits=bw)


# --- exact-substring span dedup ---------------------------------------------
# The Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better" exact-substring variant, re-expressed relationally: instead of
# a distributed suffix array, emit every K-token window per document,
# find windows shared across >= 2 distinct documents (ONE shuffle on the
# window key), and merge each document's duplicated window positions
# into contiguous spans with a gaps-and-islands window pass. Both
# engines group on the window TEXT so the oracle is bit-exact by
# construction; a production run swaps the text key for xxhash64(win)
# (one line, row-local, identical plan shape) to shuffle 8 bytes instead
# of ~50 — the 2^-64 collision risk is the standard trade at 100 TB.

SUBSTR_K = 8  # window length in tokens (Lee et al. use 50 BPE tokens;
#               the fixtures' planted near-dups share ~sentence-length
#               runs, so 8 whitespace tokens exercises the same shapes)

# DuckDB twins of the span family: every k-token window (w, wins) and
# the windows shared by >= 2 docs (dup); then, over a per-query `hits`
# CTE of duplicated (doc_id, pos), the gaps-and-islands merge into spans.
_DUCK_SUBSTR_DUP = f"""w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= {SUBSTR_K}
        ),
        wins AS (
            SELECT doc_id, i - 1 AS pos,
                   array_to_string(w[i:i+{SUBSTR_K - 1}], ' ') AS win
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - {SUBSTR_K - 1}))
                           AS i
                FROM w
            )
        ),
        dup AS (
            SELECT win FROM wins GROUP BY win
            HAVING COUNT(DISTINCT doc_id) >= 2
        )"""
_DUCK_SPAN_ISLANDS = f"""flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - COALESCE(lag(pos) OVER
                       (PARTITION BY doc_id ORDER BY pos), -2) > 1
                       THEN 1 ELSE 0 END AS brk
            FROM hits
        ),
        isl AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS g
            FROM flagged
        ),
        spans AS (
            SELECT doc_id, g, COUNT(*) AS nw, MIN(pos) AS s,
                   MAX(pos) + {SUBSTR_K - 1} AS e
            FROM isl GROUP BY doc_id, g
        )"""


@register(
    "dedup_substring_spans",
    tags=("L2",),
    oracle=f"""
        WITH {_DUCK_SUBSTR_DUP},
        hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (win)),
        {_DUCK_SPAN_ISLANDS},
        perdoc AS (
            SELECT doc_id, CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT p.doc_id, n_dup_windows, n_spans, dup_tokens,
               ROUND(CAST(dup_tokens AS DOUBLE)
                     / len(string_split(d.text, ' ')), 6) AS dup_frac
        FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (L2): per document, the contiguous
    token spans covered by {SUBSTR_K}-token windows that also appear in
    at least one OTHER document — the span-level signal production
    pipelines use to CUT duplicated passages out of otherwise-unique
    documents (MinHash flags whole documents; this flags regions).
    Returns (doc_id, n_dup_windows, n_spans, dup_tokens, dup_frac).

    Scale: windowing is row-local (transform over the pre-split token
    array — the hoisted-split lesson from the shingle path applies);
    the ONLY shuffle is the groupBy on the window key plus one
    broadcast-able join back; span merge is a per-doc window pass over
    the (small) duplicated-position set. The 100 TB configuration is
    ``substring_spans_df(docs, hashed=True)`` — xxhash64 8-byte shuffle
    keys, measured 18-24 s vs spill-noisy 25-164 s text keys at sf10
    with identical results; this oracled query keeps the text key so
    the DuckDB comparison is bit-exact by construction, not
    modulo-collision.
    """
    return substring_spans_df(load_table(spark, sf_dir, "documents"))


def _substr_toks(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, token array) for every doc long enough to window."""
    return d.select("doc_id", F.split("text", " ").alias("w")).where(F.size("w") >= k)


def _substr_wins(d: DataFrame, k: int, hashed: bool) -> DataFrame:
    """The k-token windowing of the whole span family (report, cut,
    incremental): row-local transform over the pre-split token array,
    0-based start position, shuffle key = window text or its xxhash64
    (the measured 100 TB configuration)."""
    return _substr_toks(d, k).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(w) - {k - 1}),"
                f" i -> array_join(slice(w, i, {k}), ' '))"
            )
        ).alias("pos", "win"),
    ).withColumn("key", F.xxhash64("win") if hashed else F.col("win"))


def _substr_hits(d: DataFrame, k: int, hashed: bool) -> DataFrame:
    """(doc_id, pos) of every k-token window whose key occurs in >= 2
    distinct documents: ONE shuffle on the window key plus the join
    back."""
    wins = _substr_wins(d, k, hashed)
    dup = (
        wins.groupBy("key")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("key")
    )
    return wins.join(dup, "key").select("doc_id", "pos")


def _substr_span_metrics(hits: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated window START positions into
    contiguous spans, then per-doc metrics for the report and the
    incremental form. Spans whose starts gap by 2..k-1 overlap in token
    extent and double-count dup_tokens: the oracled semantics, kept
    deliberately (the CUT uses the coverage UNION instead)."""
    from pyspark.sql import Window

    ow = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "g",
        F.sum(
            F.when(F.col("pos") - F.lag("pos", 1, -2).over(ow) > 1, 1).otherwise(0)
        ).over(ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = isl.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("nw"),
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
    )
    return spans.groupBy("doc_id").agg(
        F.sum("nw").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )


def substring_spans_df(
    d: DataFrame, k: int = SUBSTR_K, hashed: bool = False
) -> DataFrame:
    """Per-document duplicated-span metrics over any (doc_id, text)
    frame. ``hashed=True`` is the 100 TB configuration: the shuffle key
    becomes xxhash64(window) — 8 bytes instead of ~50 — accepting the
    standard 2^-64 collision risk. Measured at sf10 (500 k docs, ~45 M
    window rows): identical 47,700 flagged docs, steady 18-24 s hashed
    vs a spill-noisy 25-164 s with text keys (docs/ROUND7.md); pytest
    asserts hashed ≡ text on the fixtures."""
    perdoc = _substr_span_metrics(_substr_hits(d, k, hashed), k)
    return perdoc.join(
        d.select("doc_id", F.size(F.split("text", " ")).alias("n_tok")), "doc_id"
    ).select(
        "doc_id",
        "n_dup_windows",
        "n_spans",
        "dup_tokens",
        F.round(F.col("dup_tokens").cast("double") / F.col("n_tok"), 6).alias("dup_frac"),
    )


@register(
    "dedup_substring_cut",
    tags=("L2",),
    oracle=f"""
        WITH {_DUCK_SUBSTR_DUP},
        hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (win)),
        cov AS (
            SELECT DISTINCT h.doc_id, h.pos + o.off AS ti
            FROM hits h,
                 (SELECT unnest(generate_series(0, {SUBSTR_K - 1})) AS off) o
        ),
        tok AS (
            SELECT doc_id, i - 1 AS ti, w[i] AS t
            FROM (
                SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
                FROM w
            )
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(COUNT(*) FILTER (WHERE c.ti IS NULL) AS BIGINT)
                   AS kept_tokens,
               COALESCE(string_agg(t.t, ' ' ORDER BY t.ti)
                            FILTER (WHERE c.ti IS NULL), '') AS cut_text
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.ti = c.ti
        GROUP BY t.doc_id
    """,
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span CUTTING (L2) — the consumer of the span
    signal: rebuild each document's text with every duplicated
    {SUBSTR_K}-token region REMOVED (Lee et al. 2022 cut duplicated
    passages out of otherwise-unique keepers; substring_spans_df only
    reports the regions, this emits the cleaned corpus). Returns
    (doc_id, n_tok, kept_tokens, cut_text) for every document with
    >= {SUBSTR_K} tokens — unflagged docs pass through verbatim, fully
    duplicated docs come back empty.

    Scale: the covered-position derivation is the spans plan (ONE
    shuffle on the window key); the cut itself is a ROW-LOCAL
    higher-order filter over the pre-split token array against the
    doc's sorted hit-position list (joined back per flagged doc — the
    small side), so no token-level explode and no second corpus
    shuffle. The 100 TB configuration is ``substring_cut_df(docs,
    hashed=True)`` — same xxhash64 8-byte shuffle keys as the spans
    operator, pytest-asserted identical on the fixtures.
    """
    return substring_cut_df(load_table(spark, sf_dir, "documents"))


def substring_cut_df(
    d: DataFrame, k: int = SUBSTR_K, hashed: bool = False
) -> DataFrame:
    """Cleaned-corpus projection over any (doc_id, text) frame: tokens
    covered by any cross-document duplicated k-token window are dropped;
    everything else survives in order. ``hashed=True`` swaps the window
    shuffle key for xxhash64 (the spans operator's measured 100 TB
    configuration)."""
    toks = _substr_toks(d, k)
    hp = (
        _substr_hits(d, k, hashed)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("hp"))
    )
    # left join: unflagged docs carry hp = NULL and keep every token
    kept = F.expr(
        f"filter(w, (t, i) -> hp IS NULL OR "
        f"NOT exists(hp, p -> p <= i AND i <= p + {k - 1}))"
    )
    return (
        toks.join(hp, "doc_id", "left")
        .select("doc_id", F.size("w").cast("long").alias("n_tok"), kept.alias("kept"))
        .select(
            "doc_id",
            "n_tok",
            F.size("kept").cast("long").alias("kept_tokens"),
            F.array_join("kept", " ").alias("cut_text"),
        )
    )


@register(
    "dedup_substring_incremental",
    tags=("L2",),
    oracle=f"""
        WITH {_DUCK_SUBSTR_DUP},
        hits AS (
            SELECT doc_id, pos FROM wins JOIN dup USING (win)
            WHERE doc_id % 10 = 0
        ),
        {_DUCK_SPAN_ISLANDS}
        SELECT doc_id, CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    """,
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring span dedup (L2): every tenth doc
    (doc_id % 10 = 0) plays the ingest delta, the rest the standing
    corpus whose DISTINCT window keys are the stored relation. A delta
    doc's window is duplicated iff its key exists in the stored corpus
    relation OR in >= 2 delta docs — which is exactly what a
    from-scratch run over corpus ∪ delta computes for delta docs, so
    the oracle is the full-run spans SQL restricted to delta doc_ids
    (ONE definition of window semantics across both engines; pytest
    additionally asserts spark-vs-spark: incremental ≡ from-scratch
    filtered to the delta).

    Scale: windows are computed for the DELTA only; the stored key
    relation is probed with one join. Bucket it on the key and the
    probe co-locates — MEASURED and adopted
    (tools/span_bucketed_probe_ab.py: bucketBy(32, key) removes the
    stored-side exchange, 5 → 4 live shuffles, probe 0.92× at sf10 →
    0.752× at sf30 with a wash store-build cost — the DISTKEY argument,
    saving growing with corpus size). Ingest cost scales with the
    delta, not the corpus — the span analog of
    dedup_minhash_incremental's measured 0.176×.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    return substring_spans_incremental_df(corpus, delta)


def substring_spans_incremental_df(
    corpus: DataFrame | None,
    delta: DataFrame,
    k: int = SUBSTR_K,
    hashed: bool = False,
    stored_keys: DataFrame | None = None,
) -> DataFrame:
    """Span metrics for DELTA docs only, probing the corpus' stored
    window-key relation instead of re-windowing the corpus' text. The
    real-pipeline form passes the MATERIALIZED distinct key relation (a
    1-column ``key`` frame, same hashed flavor) via ``stored_keys=`` —
    ingest then pays only the delta windows + one probe join (measured
    2.9-3.5 s vs 7.9-8.2 s from scratch for a 10% delta into 500 k docs
    at sf10, values identical — BASELINE.md); the fixture
    query derives the relation from the corpus docs so it stays
    self-contained. Matches the from-scratch run on corpus ∪ delta
    restricted to delta docs (pytest-asserted)."""
    if stored_keys is None:
        if corpus is None:
            raise ValueError("pass either corpus docs or a stored_keys relation")
        stored_keys = _substr_wins(corpus, k, hashed).select("key").distinct()
    dw = _substr_wins(delta, k, hashed)
    # duplicated for a delta doc: key known to the corpus, or shared by
    # >= 2 delta docs (intra-batch duplication)
    delta_dup = (
        dw.groupBy("key")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .join(stored_keys.withColumn("stored", F.lit(1)), "key", "left")
        .where((F.col("nd") >= 2) | F.col("stored").isNotNull())
        .select("key")
    )
    hits = dw.join(delta_dup, "key").select("doc_id", "pos")
    return _substr_span_metrics(hits, k)
