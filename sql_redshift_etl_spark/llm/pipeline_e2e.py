"""End-to-end training-corpus pipeline (the LLM-data mandate as ONE
materialized product, not a set of observability views): quality filter
→ exact dedup → MinHash-LSH near-dedup → sequence packing → per-source
ledger.

Every stage reuses the exact operator the standalone queries register —
the Spark side calls the same helpers (llm.text quality predicate,
llm.dedup bag fingerprint / minhash_lsh_pairs_df / near_dup_survivors,
llm.curation CONTEXT_LEN packing) and the DuckDB oracle composes the
same SQL fragments (minhash_pairs_oracle, _CLUSTER_LABEL_CTES), so the
composite stays bit-checked end to end: a drift in ANY stage
hash-mismatches the final ledger.

Scale: the chain never widens — quality filter is row-local and prunes
first; exact dedup is one hash shuffle; LSH inherits the banded
no-all-pairs shape (now over the pruned corpus); packing is one window
pass per source; the ledger is O(sources). The anti-join drop sets are
|duplicates| rows — broadcast in practice at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_redshift_etl_spark.catalog import load_table
from sql_redshift_etl_spark.llm.curation import CONTEXT_LEN
from sql_redshift_etl_spark.llm.dedup import (
    _CLUSTER_LABEL_CTES,
    _CLUSTER_ROUNDS,
    BAG_FP_ORACLE,
    bag_fingerprint,
    minhash_lsh_pairs_df,
    minhash_pairs_oracle,
    near_dup_survivors,
)
from sql_redshift_etl_spark.llm.text import quality_predicate, quality_where_sql
from sql_redshift_etl_spark.plans.registry import register


def _pipeline_oracle() -> str:
    pairs_sql = minhash_pairs_oracle("exact")
    return f"""
        WITH quality AS MATERIALIZED (
            SELECT doc_id, text, source FROM documents
            WHERE {quality_where_sql()}
        ),
        exact AS MATERIALIZED (
            SELECT doc_id, text, source FROM (
                SELECT doc_id, text, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY {BAG_FP_ORACLE}
                           ORDER BY doc_id
                       ) AS rn
                FROM quality
            ) WHERE rn = 1
        ),
        pairs AS MATERIALIZED ({pairs_sql}),
        {_CLUSTER_LABEL_CTES},
        final AS MATERIALIZED (
            SELECT e.doc_id, e.text, e.source FROM exact e
            WHERE NOT EXISTS (
                SELECT 1 FROM l{_CLUSTER_ROUNDS} c
                WHERE c.doc_id = e.doc_id AND c.lbl < c.doc_id
            )
        ),
        toks AS (
            SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM final
        ),
        cum AS (
            SELECT source, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_tokens
            FROM toks
        ),
        packed AS (
            SELECT source,
                   COUNT(DISTINCT CAST(FLOOR((cum_tokens - n_tokens) / {CONTEXT_LEN}.0) AS BIGINT))
                       AS n_bins
            FROM cum GROUP BY source
        ),
        raw_n AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source),
        qual_n AS (SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY source),
        exact_n AS (SELECT source, COUNT(*) AS n_exact FROM exact GROUP BY source),
        final_n AS (
            SELECT source, COUNT(*) AS n_final, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM toks GROUP BY source
        )
        SELECT r.source,
               r.n_raw,
               COALESCE(q.n_quality, 0) AS n_quality,
               COALESCE(e.n_exact, 0) AS n_exact,
               COALESCE(f.n_final, 0) AS n_final,
               COALESCE(f.n_tokens, 0) AS n_tokens,
               COALESCE(p.n_bins, 0) AS n_bins
        FROM raw_n r
        LEFT JOIN qual_n q USING (source)
        LEFT JOIN exact_n e USING (source)
        LEFT JOIN final_n f USING (source)
        LEFT JOIN packed p USING (source)
        ORDER BY r.source
    """


@register(
    "etl_training_corpus_pipeline",
    tags=("L1", "L2", "L4", "L5", "S6"),
    oracle=_pipeline_oracle(),
)
def etl_training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus ledger after the full prep chain: raw → quality
    kept → exact-dedup survivors → near-dedup survivors (+ total tokens
    and packed CONTEXT_LEN sequence count). The one table a data-curation
    run actually reports."""
    d = load_table(spark, sf_dir, "documents")
    quality = d.where(quality_predicate()).select("doc_id", "text", "source")

    w_fp = Window.partitionBy(bag_fingerprint()).orderBy("doc_id")
    ranked = quality.withColumn("rn", F.row_number().over(w_fp))
    exact = ranked.where(F.col("rn") == 1).drop("rn")

    final = near_dup_survivors(exact, minhash_lsh_pairs_df(exact))

    toks = final.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w_pack))

    # Ledger columns are folded into one aggregate per distinct subtree:
    # the naive five per-source aggregates re-executed their whole
    # prefix each (ReusedExchange only unifies up to the exchange, the
    # post-shuffle walk re-runs per consumer) and re-scanned documents for
    # n_raw — measured 2.9 s of the composed query's 7.0 s at sf0.1.
    # n_raw + n_quality: one conditional-count pass over the corpus scan.
    # n_exact: count of rn==1 over the ranked frame — same fp-window
    # exchange as `exact`, no second window consumer shape.
    # n_final/n_tokens/n_bins: one aggregate over `cum` (the bin id is a
    # row-local function of cum_tokens), so the toks subtree runs once.
    rq_n = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(quality_predicate(), 1)).alias("n_quality"),
    )
    exact_n = ranked.groupBy("source").agg(
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_exact")
    )
    final_packed = cum.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_final"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct(
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / float(CONTEXT_LEN)).cast("long")
        ).alias("n_bins"),
    )

    def _z(c: str) -> F.Column:
        return F.coalesce(F.col(c), F.lit(0)).alias(c)

    return (
        rq_n.join(exact_n, "source", "left")
        .join(final_packed, "source", "left")
        .select(
            "source", "n_raw", _z("n_quality"), _z("n_exact"),
            _z("n_final"), _z("n_tokens"), _z("n_bins"),
        )
        .orderBy("source")
    )
