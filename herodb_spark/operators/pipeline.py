"""Composition operators.

- `recursive_fib`: the reference's recursive function example
  (Kernel/Drafts/draft:88-100, `case Fib(a,b) :- Fib(a-1,x),
  Fib(a-2,y), b=x+y`) — bounded recursion as an iterative DataFrame
  fold, checked against a recursive-CTE oracle.
- `pipeline_clean_corpus`: the end-to-end training-data shape —
  quality-filter → exact-dedup → per-language stats — composed from
  the individual operators' column expressions in ONE Catalyst plan
  (one scan, no intermediate materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.functions import text as T
from herodb_spark.session import literal_df

FIB_N = 40


def recursive_fib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fib(1..40) — the reference's recursive function example run
    through the `unroll` recursion operator (draft:88-100 `case
    Fib(a,b) :- Fib(a-1,x), Fib(a-2,y), b=x+y`): the linear recurrence
    is a one-row frontier carrying (n, fib, prev); each step derives
    the next term until the n < 40 guard stops producing rows. The
    driver loop holds no values — all arithmetic happens in the
    DataFrame plan, exactly like a user-defined recursive rule
    would."""
    from herodb_spark.graph.algorithms import unroll

    init = literal_df(spark, [(1, 1, 0)], "n int, fib bigint, prev bigint")

    def step(frontier: DataFrame) -> DataFrame:
        return frontier.where(F.col("n") < FIB_N).select(
            (F.col("n") + 1).alias("n"),
            (F.col("fib") + F.col("prev")).alias("fib"),
            F.col("fib").alias("prev"),
        )

    # the recurrence is monotone-acyclic with unique keys per step: no
    # anti-join, no per-step dedup; 8 steps batch per blocking probe
    # (deeper lazy chains shift the cost into O(depth²) Catalyst
    # analysis — measured sweet spot for a 40-term recurrence)
    return unroll(step, init, max_iters=FIB_N - 1, probe_every=8).select("n", "fib").orderBy("n")


RECURSIVE_FIB_SQL = f"""
WITH RECURSIVE fib(n, a, b) AS (
  SELECT 1, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT n + 1, b, a + b FROM fib WHERE n < {FIB_N}
)
SELECT CAST(n AS INT) AS n, b AS fib FROM fib ORDER BY n
"""


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleaning pipeline: drop low-quality docs
    (quality < 0.5), drop exact duplicates (keep min doc_id per md5),
    then per-language corpus stats. Single declarative plan: Catalyst
    fuses the quality expressions into the scan projection and the
    dedup is one hash shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        T.quality_score("text").alias("quality"),
        T.token_count("text").alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    ).where(F.col("quality") >= 0.5)
    keepers = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    clean = scored.join(keepers, ["fp", "doc_id"])
    return (
        clean.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double").alias("sum_quality"),
        )
        .orderBy("lang")
    )


from herodb_spark.operators.textops import _STOP_SQL_LIST  # single derivation point

PIPELINE_CLEAN_CORPUS_SQL = rf"""
WITH feats AS (
  SELECT doc_id, lang, text,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS nt,
         CAST(length(text) AS DOUBLE) AS nc,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              t -> list_contains({_STOP_SQL_LIST}, t))) AS DOUBLE) AS nstop
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text,
         ROUND(0.4 * least(1.0, nt / 100.0)
             + 0.3 * (1.0 - least(1.0, 10.0 * npunct / greatest(nc, 1.0)))
             + 0.3 * least(1.0, 5.0 * nstop / nt), 6) AS quality,
         CAST(nt AS INT) AS n_tokens,
         md5(text) AS fp
  FROM feats
),
q AS (SELECT * FROM scored WHERE quality >= 0.5),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM q GROUP BY fp),
clean AS (SELECT q.* FROM q JOIN keepers USING (fp, doc_id))
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) AS sum_quality
FROM clean GROUP BY lang ORDER BY lang
"""
