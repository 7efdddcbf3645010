"""Batch 5: TF-IDF, generator-with-ordinality, and the Python-function
surface (SURVEY.md §2.6) — scalar UDF, vectorized pandas UDF, grouped-agg
pandas UDF — each oracle-paired where the math is engine-neutral.

UDF doctrine: the catalog's hot paths are expressions; these queries
exist to prove the UDF *machinery* (registration, Arrow batching,
grouped aggregation) against the same differential gate as everything
else. The pandas UDFs compute pure IEEE-double formulas, so DuckDB
reproduces them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sources.readers import fixture_table as _t
from .registry import query


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term,
             floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 1e6) / 1e6 AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS BIGINT) AS rk
      FROM scored)
    SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, end to end in relational ops:
    token explode → tf aggregate → df aggregate → score → grouped
    top-k. The idf factor is ln(N/df) on exact integer counts —
    engine-identical doubles. df has one row per distinct term, and
    vocabulary grows with the corpus (Heaps' law) — so the tf⋈df join
    shuffles on `term` with no broadcast hint; AQE upgrades it when
    the vocabulary is actually small."""
    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tokens.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    # corpus size as a broadcast single-row aggregate — no driver-side
    # action, the scalar stays inside the plan
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    tfidf = F.floor(
        (F.col("tf") * F.log(F.col("__n_docs") / F.col("df"))) * 1e6
    ) / 1e6
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select("doc_id", "term", tfidf.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
    )


@query(
    "posexplode_tokens_ordinal",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
           unnest(toks) AS term
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    WHERE doc_id < 20
    """,
)
def posexplode_tokens_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator with ordinality: posexplode ↔ UNNEST WITH ORDINALITY
    (0- vs 1-based aligned explicitly)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term")
    )


@query(
    "udf_pandas_quality_score",
    oracle="""
    SELECT doc_id,
           floor((0.5 * least(n_chars, 500) / 500.0
                  + 0.5 * (1.0 / (1.0 + exp(-(n_chars - 250.0) / 100.0)))) * 1e6) / 1e6
             AS quality
    FROM documents
    """,
)
def udf_pandas_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow-batched) scalar pandas UDF: a length+sigmoid
    quality score computed in numpy. Same IEEE double formula as the
    oracle; demonstrates the 10-100×-faster-than-row-UDF path for when
    Python math is genuinely needed.

    Transcendental-parity caveat (shared with tfidf_top_terms' log):
    exp/ln are ≤1-ulp accurate but not correctly rounded, so numpy's
    exp and DuckDB's libm exp may differ in the last bit; a score
    landing within 1 ulp of a 1e-6 grid edge could floor apart. The
    fixture's integer n_chars inputs sit far from grid edges (verified
    by the gate three rounds running); sqrt-based queries are immune
    (sqrt IS correctly rounded). If a platform bump ever flips one,
    coarsen the grid rather than chase libm versions."""
    import numpy as np

    @pandas_udf("double")
    def quality(n_chars: pd.Series) -> pd.Series:
        x = n_chars.to_numpy(dtype="float64")
        score = 0.5 * np.minimum(x, 500.0) / 500.0 + 0.5 * (
            1.0 / (1.0 + np.exp(-(x - 250.0) / 100.0))
        )
        return pd.Series(np.floor(score * 1e6) / 1e6)

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality("n_chars").alias("quality"))


@query(
    "udf_grouped_agg_mean_chars",
    oracle="""
    SELECT lang,
           floor((sum(n_chars) * 1.0 / count(n_chars)) * 1e6) / 1e6 AS mean_chars
    FROM documents
    GROUP BY lang
    """,
)
def udf_grouped_agg_mean_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF analog): exact integer sum
    in numpy then one division — order-independent, so oracle-safe."""
    import numpy as np

    @pandas_udf("double")
    def mean_chars(n_chars: pd.Series) -> float:
        x = n_chars.to_numpy(dtype="int64")
        return float(np.floor((x.sum() / float(len(x))) * 1e6) / 1e6)

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(mean_chars("n_chars").alias("mean_chars"))


@query("udf_python_title_case")  # no oracle: Python .title() has no DuckDB twin
def udf_python_title_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — registered deliberately as the
    anti-pattern exhibit (SURVEY.md §2.6): correct, but each row crosses
    the JVM↔Python pickle boundary. The expression-based
    functions.strings.title_case is the production path; their
    equivalence is asserted in tests."""

    @F.udf("string")
    def py_title(s: str) -> str | None:
        return s.title() if s is not None else None

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return docs.select("doc_id", py_title(F.col("text")).alias("title_text"))


@query(
    "token_count_bpe_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT)
             AS bpe_ish_tokens,
           floor((CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS DOUBLE)
                  * 1.3) * 1e2) / 1e2 AS est_llm_tokens
    FROM documents
    """,
)
def token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer (letter runs | single digits | other symbols — the GPT-2
    pre-tokenizer shape), plus the standard ×1.3 LLM-token estimate.
    Both are scan-local expressions: costing a corpus is one map pass.
    """
    docs = _t(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]|[^a-z0-9 ]"), 0))
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
        (F.floor(bpe.cast("double") * 1.3 * 100.0) / 100.0).alias("est_llm_tokens"),
    )
