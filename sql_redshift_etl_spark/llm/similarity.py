"""Similarity search over embeddings (SURVEY.md §2.9 L3/L7):
brute-force cosine top-k as the exactness baseline, hyperplane-LSH
bucketed ANN as the scale path, and per-label (IVF-style) variants.

Design for 100 TB:
- Brute force is O(n) per query with a broadcast query vector — right
  for few queries or as a verification oracle, never for query-serving.
- sim_ann_lsh buckets vectors by random-hyperplane sign bits: candidate
  set shrinks ~2^bits, turning the scan into a bucket-pruned lookup;
  bucket assignment is a map-side pass and persists as a partition
  column (write once, prune every query).
- sim_centroid_* is the IVF building block: coarse quantize by
  centroid, search only the closest cells (nprobe).
- All scoring is JVM-side higher-order functions (no UDF); md5-derived
  hyperplanes make the LSH deterministic and engine-portable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_redshift_etl_spark.catalog import load_table
from sql_redshift_etl_spark.plans.registry import register
from sql_redshift_etl_spark.sources.writers import unload_parquet

DIM = 64
N_PLANES = 8
QUERY_VEC_ID = 0


def _dot(u, v) -> F.Column:
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(u, v) -> F.Column:
    return _dot(u, v) / (F.sqrt(_dot(u, u)) * F.sqrt(_dot(v, v)))


def duck_cosine(u: str, v: str) -> str:
    """DuckDB twin of ``_cosine`` over two list columns, as DOUBLE[]."""

    def dot(x: str, y: str) -> str:
        return f"list_dot_product(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[]))"

    return f"{dot(u, v)} / (sqrt({dot(u, u)}) * sqrt({dot(v, v)}))"


def _query_vec(sf_dir: str) -> list[float]:
    """The query embedding, read driver-side via pyarrow: O(dim) bytes of
    one filtered row — an input PARAMETER of the search (a production
    caller supplies it; reading it from the corpus fixture is an accident
    of the test setup), not corpus data, so this is not a collect-of-data
    anti-pattern. Inlining it as a constant-folded literal removes the
    broadcast-build job Spark otherwise runs before the scan
    (tools/job_floor_audit.py r7: sim_knn_bruteforce 2 jobs -> 1, steady
    0.154 -> ~0.10 s at sf0.1; values bit-identical — float32 -> Python
    float is the same exact widening Spark's cast applies)."""
    import pyarrow.dataset as ds

    t = ds.dataset(f"{sf_dir}/embeddings.parquet").to_table(
        filter=ds.field("vec_id") == QUERY_VEC_ID, columns=["embedding"]
    )
    if t.num_rows == 0:
        return None  # empty corpus: no query vector (empty result upstream)
    return [float(x) for x in t.column("embedding")[0].as_py()]


def _with_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates (all vecs but the query) + the query vector as a folded
    literal column (one job total — see _query_vec). An empty corpus has
    no query vector: qvec stays NULL and the candidate set is empty
    anyway — same empty-in/empty-out contract as the broadcast form."""
    e = load_table(spark, sf_dir, "embeddings")
    vec = _query_vec(sf_dir)
    q = F.lit(vec).cast("array<double>") if vec is not None else F.lit(None).cast(
        "array<double>"
    )
    return e.where(F.col("vec_id") != QUERY_VEC_ID).withColumn("qvec", q)


_DUCK_COSINE = duck_cosine("e.embedding", "q.qvec")


@register(
    "sim_knn_bruteforce",
    tags=("L3",),
    bench=True,
    oracle=f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
        SELECT e.vec_id, e.label, ROUND({_DUCK_COSINE}, 6) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != {QUERY_VEC_ID}
        ORDER BY {_DUCK_COSINE} DESC, e.vec_id ASC
        LIMIT 10
    """,
)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (L3): the exactness baseline every ANN
    variant is measured against. Broadcast query + TakeOrderedAndProject:
    no shuffle of the embedding table at any scale."""
    scored = _with_query(spark, sf_dir).select(
        "vec_id", "label", _cosine(F.col("embedding"), F.col("qvec")).alias("cos_raw")
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


@register(
    "sim_knn_per_label",
    tags=("L7",),
    oracle=f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        scored AS (
            SELECT e.vec_id, e.label, {_DUCK_COSINE} AS cos_raw
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id != {QUERY_VEC_ID}
        )
        SELECT vec_id, label, ROUND(cos_raw, 6) AS cosine, rn
        FROM (
            SELECT vec_id, label, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_raw DESC, vec_id) AS rn
            FROM scored
        )
        WHERE rn <= 3
    """,
)
def sim_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest per label (L7): group-wise similarity ranking —
    window top-k over the scored scan (WindowGroupLimit pushes k into
    the map side)."""
    scored = _with_query(spark, sf_dir).select(
        "vec_id", "label", _cosine(F.col("embedding"), F.col("qvec")).alias("cos_raw")
    )
    w = Window.partitionBy("label").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.select("vec_id", "label", "cos_raw", F.row_number().over(w).cast("long").alias("rn"))
        .where(F.col("rn") <= 3)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"), "rn")
    )


BATCH_QUERY_IDS = (0, 1, 2, 3, 4, 5, 6, 7)
_BATCH_IDS_SQL = ", ".join(str(i) for i in BATCH_QUERY_IDS)

# Shared rank-3-per-query tail — exact and ANN batch retrieval use the
# SAME top-k convention (k, tie-break, rounding) on both engines, so the
# two variants stay comparable by construction.
_BATCH_TOPK_TAIL = """
        SELECT q_id, vec_id, label, ROUND(cos_raw, 6) AS cosine, rn
        FROM (
            SELECT q_id, vec_id, label, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rn
            FROM scored
        )
        WHERE rn <= 3
"""


def _topk_per_query(scored: DataFrame, k: int = 3) -> DataFrame:
    """Spark twin of ``_BATCH_TOPK_TAIL``: rank window on q_id
    (WindowGroupLimit pushes k map-side), round-6 projection."""
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.select(
            "q_id", "vec_id", "label", "cos_raw", F.row_number().over(w).cast("long").alias("rn")
        )
        .where(F.col("rn") <= k)
        .select("q_id", "vec_id", "label", F.round("cos_raw", 6).alias("cosine"), "rn")
    )


@register(
    "sim_knn_batch",
    tags=("L3", "L7"),
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS qvec
            FROM embeddings WHERE vec_id IN ({_BATCH_IDS_SQL})
        ),
        scored AS (
            SELECT q.q_id, e.vec_id, e.label, {_DUCK_COSINE} AS cos_raw
            FROM embeddings e JOIN q ON e.vec_id != q.q_id
        )
        {_BATCH_TOPK_TAIL}
    """,
)
def sim_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval (L3/L7): top-k neighbors for a SET of query
    vectors in one pass — the realistic serving/labeling shape (score a
    query batch against the corpus), vs sim_knn_bruteforce's single
    query.

    Scale: the query batch is broadcast (Q rows ≪ corpus); scoring is
    one map-side pass producing Q rows per corpus vector; the per-query
    top-k goes through a rank window on q_id where WindowGroupLimit
    pushes k into the map side — only k·partitions rows per query reach
    the shuffle, never the full Q×n score matrix. At 100 TB with a big
    query batch the same shape becomes a bucket-join (ANN buckets on
    both sides, sim_ann_lsh's layout) — the scoring and top-k stages are
    unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec")
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", "label", _cosine(F.col("embedding"), F.col("qvec")).alias("cos_raw")
    )
    return _topk_per_query(scored)


def hyperplanes(n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign j,i = high bit of md5(f"{j}:{i}").

    Python hashlib and SQL md5 agree, so the same planes are
    reconstructible in any engine — reproducibility across reruns and
    systems, which data-pipeline dedup/ANN requires. The first 8 planes
    are shared by every consumer (the j index is the only input), so
    wider signatures (dedup_embedding_ann's 64) extend, not replace, the
    8-bit ANN bucket.
    """
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(DIM):
            h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
            row.append(1.0 if h[0] >= "8" else -1.0)
        planes.append(row)
    return planes


def sign_signature_col(n_planes: int = N_PLANES, vec_col: str = "embedding") -> F.Column:
    """n-bit sign-signature bit string for a vector column (map-side,
    no shuffle: one dot product per plane, all JVM higher-order funcs)."""
    bits = []
    for row in hyperplanes(n_planes):
        plane = F.array(*[F.lit(x) for x in row])
        proj = _dot(F.col(vec_col), plane)
        bits.append(F.when(proj >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def lsh_bucket_col(vec_col: str = "embedding") -> F.Column:
    """8-bit sign-signature bucket id for a vector column (map-side)."""
    return sign_signature_col(N_PLANES, vec_col)


def duck_plane_bits(n_planes: int = N_PLANES) -> str:
    """DuckDB twin of ``sign_signature_col``: the CASE-expression bit
    string over the SAME md5-derived planes, inlined as literals. The
    ONE generator behind every sign-LSH oracle (single-query ANN,
    batched ANN, embedding dedup) — sign convention and literal
    formatting cannot drift between them."""
    bits = []
    for row in hyperplanes(n_planes):
        lits = ", ".join(f"{x:.1f}" for x in row)
        bits.append(
            "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"CAST([{lits}] AS DOUBLE[])) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


def duck_hamming(a: str, b: str, n_bits: int = N_PLANES) -> str:
    """DuckDB Hamming distance between two fixed-length bit strings."""
    return " + ".join(
        f"(CASE WHEN substr({a}, {k}, 1) <> substr({b}, {k}, 1) THEN 1 ELSE 0 END)"
        for k in range(1, n_bits + 1)
    )


def _ann_lsh_oracle() -> str:
    """DuckDB twin of the full ANN pipeline. Possible because the
    hyperplanes are md5-DERIVED, not random: the same ±1 plane matrix is
    reconstructed here and inlined as literals (duck_plane_bits), so
    bucketing, the Hamming≤2 probe, and the exact-cosine re-rank are all
    deterministic and cross-engine checkable. (The operator is still
    APPROXIMATE vs brute force — recall is pytest-floored — but
    approximate ≠ nondeterministic, so it gets a full value oracle.)"""
    return f"""
        WITH b AS MATERIALIZED (
            SELECT vec_id, label, embedding, {duck_plane_bits()} AS bucket
            FROM embeddings
        ),
        q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = {QUERY_VEC_ID})
        SELECT e.vec_id, e.label, e.bucket, ROUND({_DUCK_COSINE}, 6) AS cosine
        FROM b e CROSS JOIN q
        WHERE e.vec_id != {QUERY_VEC_ID} AND ({duck_hamming("e.bucket", "q.qbucket")}) <= 2
        ORDER BY {_DUCK_COSINE} DESC, e.vec_id ASC
        LIMIT 10
    """


@register("sim_ann_lsh", tags=("L3",), oracle=_ann_lsh_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH (L3, the scale path).

    Pipeline: map-side 8-bit sign bucket per vector → multi-probe buckets
    within Hamming distance 2 of the query's bucket → exact cosine on the
    surviving candidates → top-k.

    At 100 TB the bucket becomes a partition column on write; a query
    then touches 37/256 of the partitions (static pruning) instead of the
    full table. Recall is *data-dependent*: for a neighbor at angle θ,
    P(bit agrees) = 1 − θ/π, so clustered real-world embeddings (θ small)
    recall ≈ 1 at radius 1, while the fixture vectors are near-uniform
    (best cosine ≈ 0.48 → p ≈ 0.63/bit → theoretical top-10 recall ≈ 0.27
    at radius 2) — the pytest floor asserts that theory bound, plus the
    efficiency claim (candidates ≪ n). SQL-oracled since r3: the planes
    are md5-derived, so the whole pipeline is deterministic and the
    DuckDB twin reproduces it bit-for-bit (approximate ≠ nondeterministic).
    """
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", lsh_bucket_col())
    qrow = bucketed.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    cand = bucketed.where(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(qrow))
    # Hamming distance between the fixed-length bit strings.
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("bucket"), ""),
            F.split(F.col("qbucket"), ""),
            lambda a, b: F.when(a != b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    probed = cand.where(hamming <= 2)
    scored = probed.select(
        "vec_id", "label", "bucket", _cosine(F.col("embedding"), F.col("qvec")).alias("cos_raw")
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", "bucket", F.round("cos_raw", 6).alias("cosine"))
    )


def _hamming_masks(n_bits: int, radius: int) -> list[tuple[int, ...]]:
    """Every set of bit positions to flip for Hamming distance ≤ radius
    (identity first) — the ONE enumeration behind probe_buckets
    (driver-side strings, sim_ann_lsh_pruned) and probe_buckets_col
    (column expressions, sim_knn_batch_ann), so the two probe sets
    cannot silently diverge. 1 + 8 + 28 = 37 masks at 8 bits / r=2."""
    from itertools import combinations

    masks: list[tuple[int, ...]] = [()]
    for r in range(1, radius + 1):
        masks.extend(combinations(range(n_bits), r))
    return masks


def probe_buckets(qbucket: str, radius: int = 2) -> list[str]:
    """All bucket ids within Hamming distance ``radius`` of the query's
    bucket — the multi-probe set. For 8 planes / radius 2 that is
    1 + 8 + 28 = 37 of 256 buckets."""
    out = []
    for pos in _hamming_masks(len(qbucket), radius):
        b = list(qbucket)
        for p in pos:
            b[p] = "1" if b[p] == "0" else "0"
        out.append("".join(b))
    return out


def probe_buckets_col(qbucket_col: F.Column, radius: int = 2) -> F.Column:
    """Column twin of ``probe_buckets`` (same ``_hamming_masks``
    enumeration): an array of all bit strings within Hamming ``radius``
    of an 8-bit bucket COLUMN, built from 37 flip expressions (pure
    string ops, evaluated row-locally)."""

    def flipped(positions: tuple[int, ...]) -> F.Column:
        chars = []
        for i in range(1, N_PLANES + 1):
            c = F.substring(qbucket_col, i, 1)
            if (i - 1) in positions:
                c = F.when(c == "0", "1").otherwise("0")
            chars.append(c)
        return F.concat(*chars)

    return F.array(*[flipped(m) for m in _hamming_masks(N_PLANES, radius)])


def _batch_ann_oracle() -> str:
    """DuckDB twin of the batched bucket-join ANN: per-query Hamming≤2
    probe membership (⇔ the probe-set bucket join), exact cosine, the
    shared rank-3 tail — deterministic because the planes are
    md5-derived (duck_plane_bits)."""
    return f"""
        WITH b AS MATERIALIZED (
            SELECT vec_id, label, embedding, {duck_plane_bits()} AS bucket
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS q_id, embedding AS qvec, bucket AS qbucket
            FROM b WHERE vec_id IN ({_BATCH_IDS_SQL})
        ),
        scored AS (
            SELECT q.q_id, e.vec_id, e.label, {_DUCK_COSINE} AS cos_raw
            FROM b e JOIN q ON e.vec_id != q.q_id AND ({duck_hamming("e.bucket", "q.qbucket")}) <= 2
        )
        {_BATCH_TOPK_TAIL}
    """


@register("sim_knn_batch_ann", tags=("L3", "L7"), oracle=_batch_ann_oracle())
def sim_knn_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN retrieval — the bucket-join upgrade sim_knn_batch's
    docstring promises for large query batches: each query's Hamming≤2
    probe set (37 bucket ids) is EXPLODED into a (q_id, bucket) relation
    and the corpus joins it on bucket EQUALITY — an equi join, so the
    probe relation broadcasts (or shuffles by bucket for huge batches)
    and the corpus is touched only in probed buckets. Exact cosine
    re-ranks candidates; rank-3 per query via WindowGroupLimit.

    A corpus vector has exactly one bucket and a query's 37 probe ids
    are distinct, so the join yields each (query, candidate) pair at
    most once — probe membership ⇔ Hamming≤2, which is what the oracle
    checks. On the sim_ann_lsh_pruned partitioned layout the probe
    relation's bucket list becomes a static partition filter (union of
    the batch's probe sets) — same plan, pruned scan.
    """
    e = load_table(spark, sf_dir, "embeddings").withColumn("bucket", lsh_bucket_col())
    q = e.where(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    probes = q.select(
        "q_id", "qvec", F.explode(probe_buckets_col(F.col("qbucket"))).alias("bucket")
    )
    cand = e.join(F.broadcast(probes), "bucket").where(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id", "vec_id", "label", _cosine(F.col("embedding"), F.col("qvec")).alias("cos_raw")
    )
    return _topk_per_query(scored)


@register("sim_ann_lsh_pruned", tags=("L3", "S7"), oracle=_ann_lsh_oracle())
def sim_ann_lsh_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_lsh's 100 TB story, demonstrated: the sign bucket as a
    PARTITION COLUMN, with the Hamming≤2 probe set as a static partition
    filter — the scan touches ≤37 of the 256 bucket directories and
    never reads the rest (tests/test_plan_properties.py asserts
    PartitionFilters fires and input_file_name() stays inside the probe
    set). Same oracle as sim_ann_lsh: probe-set membership ⇔ Hamming≤2,
    so the two variants are bit-identical by construction.

    Stages: (1) one-time bucketed write (amortized over every future
    query; re-done per call here so the fixture run is self-contained);
    (2) a one-row lookup of the query's bucket — a query *parameter*,
    constant work, not a driver-side data loop; (3) statically-pruned
    scan of the 37 probe partitions + exact cosine re-rank against the
    inlined query vector (64 literals — no join at all)."""
    import os

    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", lsh_bucket_col())
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "_scratch",
        "io",
        tag,
        "ann_bucketed",
    )
    unload_parquet(bucketed, path, partition_by=["bucket"])
    qrow = (
        bucketed.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket"))
        .first()
    )
    if qrow is None:  # empty input: no query vector -> empty result, same schema
        return bucketed.select(
            "vec_id", "label", "bucket", F.lit(0.0).alias("cosine")
        ).limit(0)
    # Explicit schema: partition-column type inference would read bucket
    # "00000101" back as the integer 101 — it must stay a bit string.
    stored = spark.read.schema(bucketed.schema).option("basePath", path).parquet(path)
    cand = stored.where(
        F.col("bucket").isin(probe_buckets(qrow["qbucket"])) & (F.col("vec_id") != QUERY_VEC_ID)
    )
    qvec = F.array(*[F.lit(float(x)) for x in qrow["qvec"]])
    scored = cand.select(
        "vec_id", "label", "bucket", _cosine(F.col("embedding"), qvec).alias("cos_raw")
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", "bucket", F.round("cos_raw", 6).alias("cosine"))
    )


@register(
    "sim_centroid_per_label",
    tags=("L3", "L7"),
    oracle="""
        WITH unnested AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        centroid AS (
            SELECT label, i, SUM(x) / COUNT(*) AS c
            FROM unnested
            GROUP BY label, i
        )
        SELECT label,
               ROUND(SUM(c * c), 6) AS centroid_sq_norm,
               COUNT(*) AS dim
        FROM centroid
        GROUP BY label
    """,
)
def sim_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (the IVF coarse quantizer, L3): elementwise
    mean via posexplode → (label, dim) average → squared norm.

    Scale: this is the centroid-training step of IVF — one explode
    (64× rows, map-side) + one shuffle on (label, dim). Assignment +
    nprobe search then reuse sim_knn machinery per cell.
    """
    e = load_table(spark, sf_dir, "embeddings")
    un = e.select("label", F.posexplode("embedding").alias("i", "x")).select(
        "label", "i", F.col("x").cast("double").alias("x")
    )
    cent = un.groupBy("label", "i").agg((F.sum("x") / F.count(F.lit(1))).alias("c"))
    return cent.groupBy("label").agg(
        F.round(F.sum(F.col("c") * F.col("c")), 6).alias("centroid_sq_norm"),
        F.count(F.lit(1)).alias("dim"),
    )


_IVF_ORACLE = f"""
    WITH dims AS (
        SELECT label, t.i, AVG(CAST(embedding[t.i] AS DOUBLE)) AS c
        FROM embeddings, generate_series(1, 64) t(i)
        GROUP BY label, t.i
    ),
    cent AS (SELECT label AS cell, list(c ORDER BY i) AS cvec FROM dims GROUP BY label),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT cell FROM cent e CROSS JOIN q
        ORDER BY {duck_cosine("e.cvec", "q.qvec")} DESC,
                 cell
        LIMIT 2
    )
    SELECT e.vec_id, e.label, ROUND({_DUCK_COSINE}, 6) AS cosine
    FROM embeddings e
    JOIN probe ON e.label = probe.cell
    CROSS JOIN q
    WHERE e.vec_id != {QUERY_VEC_ID}
    ORDER BY {_DUCK_COSINE} DESC, e.vec_id
    LIMIT 10
"""


# Oracled in r3: cell ASSIGNMENT is by label (no float boundary), so the
# only cross-engine float sensitivity is the nprobe-2 cell ranking —
# centroid-cosine gaps between the 10 cells are orders of magnitude
# above summation-order noise (verified at sf0.01/sf0.1/sf1). The final
# re-rank uses raw embeddings, same 6-dp convention as sim_knn.
@register("sim_ivf_search", tags=("L3",), oracle=_IVF_ORACLE)
def sim_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (L3): coarse-quantize every vector to its nearest
    label centroid, then search only the nprobe=2 cells closest to the
    query. Demonstrates the second standard ANN layout (cell-partitioned)
    next to LSH.

    Scale: centroids are tiny (k × dim) → broadcast; cell assignment is
    map-side; the search scans |n/k × nprobe| vectors. On disk, cell id
    becomes the partition column. Recall asserted in pytest vs brute
    force; SQL-oracled since r3 (assignment is by label — no float
    boundary — and the nprobe cell ranking's gaps dwarf summation-order
    noise; verified at three scale tiers).
    """
    e = load_table(spark, sf_dir, "embeddings")
    un = e.select("label", F.posexplode("embedding").alias("i", "x")).select(
        "label", "i", F.col("x").cast("double").alias("x")
    )
    centroids = (
        un.groupBy("label", "i")
        .agg((F.sum("x") / F.count(F.lit(1))).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select(F.col("label").alias("cell"), F.transform("pairs", lambda p: p["c"]).alias("cvec"))
    )
    qrow = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    # nprobe=2 cells nearest to the query vector
    probe_cells = (
        centroids.crossJoin(F.broadcast(qrow))
        .select("cell", _cosine(F.col("cvec"), F.col("qvec")).alias("qcos"))
        .orderBy(F.col("qcos").desc(), F.col("cell"))
        .limit(2)
        .select("cell")
    )
    cand = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probe_cells), e.label == F.col("cell"))
        .crossJoin(F.broadcast(qrow))
    )
    return (
        cand.select("vec_id", "label", _cosine(F.col("embedding"), F.col("qvec")).alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


def ann_incremental_topk_df(
    stored: DataFrame, delta: DataFrame, broadcast_probes: bool = True
) -> DataFrame:
    """Ingest-time half of INCREMENTAL ANN registration (r9 — the L3
    analog of dedup_minhash_incremental / substring_spans_incremental):
    ``stored`` is the corpus's PERSISTED sign-LSH relation
    (vec_id, label, embedding, bucket — written once, reused every
    ingest; tools/ann_incremental_ab.py measures exactly that), and
    ``delta`` is the batch of newly-registered embeddings. Only the
    delta is signed (row-local, no shuffle); each new vector's Hamming≤2
    probe set (37 bucket ids) explodes into a (q_id, bucket) relation
    that equi-joins the stored buckets — |delta|-proportional probe
    work, never a corpus re-sign or self-join. Exact cosine re-ranks,
    rank-3 per new vector via WindowGroupLimit (_topk_per_query).

    Scale: the probe relation broadcasts (37·|delta| short rows); for a
    huge ingest batch it shuffles by bucket instead, and there the
    PRESCRIBED store layout is ``bucketBy(32, "bucket")`` (measured,
    tools/ann_incremental_ab.py --bulk-only at sf10/sf30: the bucketed
    store feeds the probe join at its own partitioning — one live
    exchange removed at every tier, 3 → 2, the DISTKEY argument the
    span stored-keys relation adopted in r9 — with bulk wall
    0.87-1.01× plain because a bulk probe is pair-scoring-dominated,
    so the deleted exchange is a bounded fraction of wall even though
    the bytes it saves grow linearly with the stored corpus; see
    BASELINE.md "ANN band-relation store layout" for the honest
    single-shot table. Irrelevant by construction on the broadcast
    path, where the store side never shuffles at all)."""
    if "norm" not in stored.columns:
        # the registered-query path derives the store inline; a real
        # ingest reads the norm back from parquet like the bucket
        stored = stored.withColumn(
            "norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        )
    q = delta.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qvec"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"),
        lsh_bucket_col().alias("qbucket"),
    )
    probes = q.select(
        "q_id",
        "qvec",
        "qnorm",
        F.explode(probe_buckets_col(F.col("qbucket"))).alias("bucket"),
    )
    # small-delta default: broadcast the 37·|delta| probe relation; a
    # HUGE batch (the full-re-registration comparator in the A/B tool)
    # must pass broadcast_probes=False — 200 k queries × 37 probes ×
    # 64-double qvec ≈ 4.4 GB exceeds a modest driver heap (measured
    # failure at sf10/8g), which is exactly why the docstring prescribes
    # the shuffle-by-bucket path for bulk loads.
    cand = stored.join(
        F.broadcast(probes) if broadcast_probes else probes, "bucket"
    )
    # cosine with PRECOMPUTED norms: norms are row-local per SIDE, so
    # hoisting them out of the pair loop turns 3 dot products per
    # candidate pair into 1 (measured 2.6-2.9× on the probe stage,
    # tools/ann_incremental_ab.py) — and the stored norm column is one
    # more thing the persisted relation pays ONCE. Bit-identical to
    # _cosine: same sqrt(dot(u,u)) subexpressions, just evaluated
    # earlier.
    scored = cand.select(
        "q_id",
        "vec_id",
        "label",
        (
            _dot(F.col("embedding"), F.col("qvec"))
            / (F.col("norm") * F.col("qnorm"))
        ).alias("cos_raw"),
    )
    return _topk_per_query(scored)


def _ann_incremental_oracle() -> str:
    """DuckDB twin: per-pair Hamming≤2 between the delta's and the
    stored corpus's md5-derived sign buckets (⇔ probe-set membership —
    a stored vector has ONE bucket and a query's 37 probe ids are
    distinct), exact cosine, the shared rank-3 tail."""
    return f"""
        WITH b AS MATERIALIZED (
            SELECT vec_id, label, embedding, {duck_plane_bits()} AS bucket
            FROM embeddings WHERE vec_id % 10 != 0
        ),
        q AS (
            SELECT vec_id AS q_id, embedding AS qvec, {duck_plane_bits()} AS qbucket
            FROM embeddings WHERE vec_id % 10 = 0
        ),
        scored AS (
            SELECT q.q_id, e.vec_id, e.label, {_DUCK_COSINE} AS cos_raw
            FROM b e JOIN q ON ({duck_hamming("e.bucket", "q.qbucket")}) <= 2
        )
        {_BATCH_TOPK_TAIL}
    """


@register("sim_ann_incremental", tags=("L3", "L7"), oracle=_ann_incremental_oracle())
def sim_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN registration (L3/L7): every tenth vector
    (vec_id % 10 = 0) plays the ingest delta, the rest the standing
    corpus whose band relation a production run keeps persisted — see
    ann_incremental_topk_df for the sign-the-delta / probe-stored-
    buckets plan and tools/ann_incremental_ab.py for the measured
    delta-vs-from-scratch ratio. Both sides derive from the fixture in
    one plan here (the driver contract has no cross-run store), but the
    stored-relation subtree is exactly the parquet a production ingest
    reads back."""
    e = load_table(spark, sf_dir, "embeddings")
    stored = e.where(F.col("vec_id") % 10 != 0).withColumn("bucket", lsh_bucket_col())
    delta = e.where(F.col("vec_id") % 10 == 0)
    return ann_incremental_topk_df(stored, delta)
