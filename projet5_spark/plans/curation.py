"""Corpus-curation operators a training-data pipeline runs before the
tokenizer: PII redaction, boilerplate (repeated-line) removal, and
n-gram language-model scoring (SURVEY.md §2.7 text-analysis family).

Scale design notes:
- **PII redaction is map-only** — regex scan/replace per row, no
  shuffle at all; at 100 TB it is bounded by scan + codegen'd regex
  throughput. Patterns live in ONE place and are written in the
  Java-regex ∩ RE2 common dialect so the DuckDB oracle runs them
  verbatim.
- **Boilerplate removal** counts line→document frequencies keyed on a
  16-byte truncated sha-256 line digest — same pattern as
  ``operators.dedup.exact_text_dedup`` — so the frequency shuffle and
  the rebuild join carry a fixed-width key regardless of line length;
  the line body rides only the exploded side that already needs it for
  reassembly. (128-bit digest: birthday bound ~2⁶⁴ distinct lines,
  beyond any corpus; a 64-bit hash would start colliding at
  real-corpus line counts and silently merge frequencies.)
- **Bigram LM**: two hash aggregates over (w1, w2) / (w1) — vocabulary-
  sized, orders of magnitude smaller than the corpus — then a map-side
  probability lookup joined back to the per-document bigram stream.
  Per-document averaging uses the integer-grid sum trick
  (``registry.gridsum``) so the score is summation-order independent
  and oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import fixture_table as _t
from .registry import query, quantize as _q


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

#: Java-regex ∩ RE2 dialect (no backrefs, no lookaround) — DuckDB runs
#: these byte-for-byte in the oracle.
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{4}"

#: the fixtures carry no real PII, so the query PLANTS it
#: deterministically from customer columns (email for 2/3 of rows,
#: phone for 1/2) — the oracle mirrors the derivation, and the
#: redaction counts then genuinely vary per row.
_PII_TEXT_SQL = """
    c_mktsegment || ' ticket ' ||
    CASE WHEN c_custkey % 3 <> 0
         THEN 'from ' || lower(replace(c_name, '#', '.')) || '@example.com '
         ELSE '' END ||
    CASE WHEN c_custkey % 2 = 0
         THEN 'call ' || CAST(10 + c_custkey % 90 AS VARCHAR) || '-' ||
              lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
              lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' '
         ELSE '' END ||
    'ref ' || CAST(c_custkey AS VARCHAR)
"""


def _pii_text_spark() -> F.Column:
    email = F.concat(
        F.lit("from "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com "),
    )
    phone = F.concat(
        F.lit("call "),
        (F.lit(10) + F.col("c_custkey") % 90).cast("string"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
    )
    return F.concat(
        F.col("c_mktsegment"),
        F.lit(" ticket "),
        F.when(F.col("c_custkey") % 3 != 0, email).otherwise(F.lit("")),
        F.when(F.col("c_custkey") % 2 == 0, phone).otherwise(F.lit("")),
        F.lit("ref "),
        F.col("c_custkey").cast("string"),
    )


@query(
    "pii_redact_customer_text",
    oracle=f"""
    WITH t AS (SELECT c_custkey, {_PII_TEXT_SQL} AS text FROM customer)
    SELECT c_custkey,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM t
    """,
)
def pii_redact_customer_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails/phones in free text. Map-only
    (regex scan + global replace per row, whole-stage codegen'd); the
    patterns are shared constants with the oracle, so the gate checks
    the redacted text byte-for-byte."""
    cust = _t(spark, sf_dir, "customer")
    text = _pii_text_spark().alias("text")
    t = cust.select("c_custkey", text)
    return t.select(
        "c_custkey",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


# --------------------------------------------------------------------------
# Boilerplate (repeated-line) removal
# --------------------------------------------------------------------------

#: "lines" = consecutive 2-token chunks (the fixture text is one long
#: token stream; a real corpus would split on '\n'). A line present in
#: ≥ _BOILER_MIN_DOCS distinct documents is boilerplate and is removed.
_LINE_TOKENS = 2
_BOILER_MIN_DOCS = 10

_LINES_SQL = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    idx AS (SELECT doc_id, tk,
                   unnest(range(1, CAST(ceil(len(tk) / {_LINE_TOKENS}.0) AS BIGINT) + 1)) AS i
            FROM toks),
    lines AS (SELECT doc_id, i,
                     array_to_string(
                       tk[(i-1)*{_LINE_TOKENS}+1 : least(CAST(i*{_LINE_TOKENS} AS BIGINT), len(tk))],
                       ' ') AS line
              FROM idx)
"""


def _doc_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, i, line): 1-based line index, line = space-joined chunk.
    Built with sequence+transform+inline — stays in Catalyst, explodes
    ~len/2 rows per document exactly like the oracle's unnest."""
    tk = F.split(F.col("text"), " ")
    chunks = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size(tk) / float(_LINE_TOKENS)).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("i"),
            F.array_join(
                F.slice(tk, (i - 1) * _LINE_TOKENS + 1, _LINE_TOKENS), " "
            ).alias("line"),
        ),
    )
    return docs.select("doc_id", F.inline(chunks))


@query(
    "boilerplate_line_dedup",
    oracle=f"""
    WITH {_LINES_SQL},
    freq AS (SELECT line, count(DISTINCT doc_id) AS ndocs FROM lines GROUP BY line),
    kept AS (
      SELECT l.doc_id, l.i, l.line
      FROM lines l JOIN freq f ON l.line = f.line
      WHERE f.ndocs < {_BOILER_MIN_DOCS})
    SELECT d.doc_id,
           CAST(ceil(len(string_split(d.text, ' ')) / {_LINE_TOKENS}.0) AS BIGINT) AS n_lines,
           CAST(count(k.i) AS BIGINT) AS n_kept,
           coalesce(string_agg(k.line, ' ' ORDER BY k.i), '') AS cleaned
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id, d.text
    """,
)
def boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: lines that occur in ≥ N distinct
    documents are stripped everywhere; each document is reassembled
    from its surviving lines in original order.

    Shape: explode → line-frequency aggregate → join back → ordered
    re-aggregation per doc_id. Frequency grouping and the re-join key
    on a 16-byte binary digest of the line, not the line text (see
    module notes) — digest grouping partitions lines identically to
    value grouping short of a 128-bit collision, and the oracle's
    line-keyed SQL stays byte-equal."""
    from .llm import _spread

    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    # 16-byte truncated sha-256: birthday-safe to ~2⁶⁴ distinct lines
    # (beyond any corpus) at half the key width of the full digest
    lines = _doc_lines(docs).withColumn(
        "lh", F.unhex(F.substring(F.sha2(F.col("line"), 256), 1, 32))
    )
    # Only lines CROSSING the threshold matter to the rebuild, and
    # boilerplate is by definition rare relative to the corpus — so
    # instead of re-joining every line against the full frequency
    # table (a second corpus-scale shuffle), anti-join the line stream
    # against the small boilerplate-digest set, which broadcasts.
    boiler = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= _BOILER_MIN_DOCS)
        .select("lh")
    )
    kept = lines.join(F.broadcast(boiler), "lh", "left_anti").select(
        "doc_id", "i", "line"
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(F.array_sort(F.collect_list(F.struct("i", "line"))).line, " ").alias(
            "cleaned"
        ),
    )
    tk = F.split(F.col("text"), " ")
    return (
        docs.select(
            "doc_id",
            F.ceil(F.size(tk) / float(_LINE_TOKENS)).cast("long").alias("n_lines"),
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )


# --------------------------------------------------------------------------
# Bigram language-model scoring
# --------------------------------------------------------------------------

_BIGRAMS_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tpos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    big AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM tpos),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2),
    c1  AS (SELECT w1, count(*) AS n1 FROM big GROUP BY w1)
"""


#: ln(2) as the shortest decimal that round-trips to the nearest double;
#: both engines' literal parsers round-to-nearest, so they agree bitwise.
_LN2 = "0.6931471805599453"

_LN_TABLE_SQL = f"""
    counts AS (SELECT DISTINCT n12 AS k FROM c12
               UNION SELECT DISTINCT n1 AS k FROM c1),
    lnt AS (SELECT k,
                   length(printf('%b', k)) - 1 AS e,
                   CAST(k AS DOUBLE) / CAST((CAST(1 AS BIGINT) << e) AS DOUBLE) AS m,
                   (m - 1.0) / (m + 1.0) AS z,
                   z * z AS z2,
                   2.0 * (z * (1.0 + z2 * (1.0/3.0 + z2 * (1.0/5.0 + z2 * (1.0/7.0
                       + z2 * (1.0/9.0 + z2 * (1.0/11.0))))))) AS lnm,
                   CAST(e AS DOUBLE) * {_LN2} + lnm AS lnk
            FROM counts)
"""


def _ln_det_table(counts: DataFrame) -> DataFrame:
    """Deterministic natural log over positive integers ``k`` — the
    Spark twin of ``_LN_TABLE_SQL``.

    JVM ``Math.log`` (≤1 ulp) and DuckDB's libm ``ln`` (~0.5 ulp) are
    not bit-identical, so a gridded score built on the engines' own
    ``ln`` can flip a floor boundary cross-engine. Instead both engines
    evaluate the *same* finite IEEE-754 expression: range-reduce
    ``k = m·2^e`` with ``e`` from the integer's bit length (exact, no
    transcendental), then ``ln(m) = 2·atanh(z)``, ``z=(m-1)/(m+1)``,
    as a 6-term Horner polynomial. Every op is a single IEEE add/mul/
    div — deterministic on any engine — so the outputs are bit-equal by
    construction (max truncation error vs true ln ≈ 1e-7, fine for a
    quality score). Evaluated once per distinct count value (a tiny,
    broadcastable table), not per bigram instance."""
    third, fifth, seventh, ninth, eleventh = (
        1.0 / 3.0,
        1.0 / 5.0,
        1.0 / 7.0,
        1.0 / 9.0,
        1.0 / 11.0,
    )
    z, z2 = F.col("z"), F.col("z2")
    horner = F.lit(1.0) + z2 * (
        F.lit(third)
        + z2
        * (
            F.lit(fifth)
            + z2 * (F.lit(seventh) + z2 * (F.lit(ninth) + z2 * F.lit(eleventh)))
        )
    )
    return (
        counts.withColumn("e", F.length(F.bin("k")) - F.lit(1))
        .withColumn(
            "m",
            F.col("k").cast("double")
            / F.expr("cast(shiftleft(cast(1 as bigint), e) as double)"),
        )
        .withColumn("z", (F.col("m") - F.lit(1.0)) / (F.col("m") + F.lit(1.0)))
        .withColumn("z2", z * z)
        .withColumn("lnm", F.lit(2.0) * (z * horner))
        .withColumn(
            "lnk", F.col("e").cast("double") * F.lit(float(_LN2)) + F.col("lnm")
        )
        .select("k", "lnk")
    )


@query(
    "bigram_lm_doc_score",
    oracle=f"""
    WITH {_BIGRAMS_SQL},
    {_LN_TABLE_SQL},
    model AS (
      SELECT c12.w1, c12.w2,
             CAST(floor((l12.lnk - l1.lnk) * 1e6) AS BIGINT) AS nll_micro
      FROM c12 JOIN c1 ON c12.w1 = c1.w1
               JOIN lnt l12 ON c12.n12 = l12.k
               JOIN lnt l1 ON c1.n1 = l1.k),
    scored AS (
      SELECT b.doc_id, m.nll_micro
      FROM big b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor((sum(nll_micro) * 1.0 / (1e6 * count(*))) * 1e4) / 1e4 AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def bigram_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM document scoring: train a bigram MLE model on the
    corpus (P(w2|w1) = c(w1,w2)/c(w1)) and score each document by its
    mean log-probability — the classic perplexity-style quality filter.

    The model tables are vocabulary-sized aggregates; the scoring pass
    re-streams the corpus bigrams and joins the (small) model tables —
    broadcast-able at scale. ``ln(P) = ln(n12) - ln(n1)`` comes from
    :func:`_ln_det_table` (deterministic fixed-expression log, bit-equal
    across engines — the engines' own ``ln`` differ by ulps and can flip
    a grid floor); each term is floored onto a 1e-6 grid and summed as
    BIGINT (``registry.gridsum`` pattern) so the per-doc mean is
    independent of Spark's partial-aggregation order and matches DuckDB
    bit-for-bit."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(tk, 1, F.size(tk) - 1),
        F.slice(tk, 2, F.size(tk) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = docs.select("doc_id", F.inline(pairs))
    # one corpus pass builds c12; c1 derives from it vocab-side
    # (c1(w1) = Σ_w2 c12 — identical counts, one fewer bigram-stream
    # scan), and the checkpoint keeps the model subtree from
    # re-running the explode for every downstream reference
    c12 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
        .localCheckpoint()
    )
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    counts = (
        c12.select(F.col("n12").alias("k"))
        .union(c1.select(F.col("n1").alias("k")))
        .distinct()
    )
    lnt = _ln_det_table(counts)
    # fold counts + logs into one vocabulary-scale model table first, so
    # the (corpus-scale) bigram stream pays a single broadcast join —
    # the c1/lnt lookups happen once per distinct bigram, not per
    # bigram instance
    model = (
        c12.join(c1, "w1")
        .join(
            F.broadcast(lnt.select(F.col("k").alias("n12"), F.col("lnk").alias("lnk12"))),
            "n12",
        )
        .join(
            F.broadcast(lnt.select(F.col("k").alias("n1"), F.col("lnk").alias("lnk1"))),
            "n1",
        )
        .select(
            "w1",
            "w2",
            F.floor((F.col("lnk12") - F.col("lnk1")) * F.lit(1e6))
            .cast("long")
            .alias("nll_micro"),
        )
    )
    scored = big.join(F.broadcast(model), ["w1", "w2"]).select("doc_id", "nll_micro")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        _q(F.sum("nll_micro") * F.lit(1.0) / (F.lit(1e6) * F.count(F.lit(1))), 4).alias(
            "avg_logprob"
        ),
    )


@query(
    "inverted_index_terms",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
    SELECT term,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM toks GROUP BY term
    """,
)
def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + sorted posting
    list. One explode + one aggregate keyed on the term; posting lists
    accumulate as sets map-side (collect_set partial aggregation), so
    the shuffle carries per-term partial postings, not token instances.
    At web scale the posting list per shard would be delta-encoded
    bytes; the sorted CSV form here keeps it oracle-comparable."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    return toks.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


# --------------------------------------------------------------------------
# URL/domain statistics and cross-source duplicate attribution
# --------------------------------------------------------------------------

#: Java-regex ∩ RE2 dialect; group 1 = the host. The fixtures carry no
#: URLs, so the query PLANTS them deterministically from doc_id (one
#: per doc, a second for every third doc) — the oracle mirrors the
#: derivation and the extraction then does real work.
_URL_RE = "https?://([a-z0-9.-]+)/[a-z0-9/]*"

_URL_TEXT_SQL = """
    text || ' http://site' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
    CASE WHEN doc_id % 3 = 0
         THEN ' see https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/x'
         ELSE '' END
"""


@query(
    "url_domain_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_URL_TEXT_SQL} AS text FROM documents),
    hosts AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '{_URL_RE}', 1)) AS host
      FROM t)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM hosts GROUP BY host
    """,
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-frequency profile of in-text URLs — the curation signal
    behind domain allow/deny lists and per-domain mixture caps in a
    crawl pipeline.

    Map-only extraction (regexp_extract_all with a capture group stays
    a codegen'd JVM expression), one explode, one hash aggregate keyed
    on the host — the same shape at 100 TB, where the domain table is
    millions of rows against billions of documents. Patterns are shared
    constants with the oracle."""
    docs = _t(spark, sf_dir, "documents")
    text = F.concat(
        F.col("text"),
        F.lit(" http://site"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com/page/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" see https://cdn"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.net/x"),
            ),
        ).otherwise(F.lit("")),
    )
    hosts = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(text, F.lit(_URL_RE), F.lit(1))).alias("host"),
    )
    return hosts.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )


@query(
    "cross_source_duplicate_matrix",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             'src' || CAST((doc_id + 1) % 20 AS VARCHAR),
             text
      FROM documents WHERE doc_id % 7 = 0),
    keyed AS (SELECT doc_id, source, sha256(text) AS h FROM corpus),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM keyed a JOIN keyed b
        ON a.h = b.h AND a.doc_id < b.doc_id)
    SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY src_a, src_b
    """,
)
def cross_source_duplicate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate attribution: which source pairs share
    exact-duplicate documents — the diagnostic that tells a curation
    team whether source B is a mirror of source A (drop it wholesale)
    or duplication is incidental.

    Planted mirrors (every 7th doc re-appears under the next source id)
    make the matrix non-trivial. Scale shape: documents reduce to
    (digest, source) — 32-byte keys — before the self-join, and only
    digest groups with >1 row can pair, so the join output is bounded
    by duplicate mass, never corpus². The per-pair source matrix is at
    most |sources|² rows."""
    docs = _t(spark, sf_dir, "documents")
    mirror = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("src"), ((F.col("doc_id") + 1) % 20).cast("string")).alias(
            "source"
        ),
        "text",
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(mirror)
    keyed = corpus.select("doc_id", "source", F.sha2("text", 256).alias("h"))
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs")
    )


# --------------------------------------------------------------------------
# End-to-end composed curation pipeline (round 9)
# --------------------------------------------------------------------------


@query(
    "curation_pipeline_end_to_end",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS wl,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS sym_chars
      FROM documents),
    m AS (
      SELECT doc_id, source, text, n_chars, sym_chars,
             len(wl) AS n_words,
             CAST(coalesce(list_sum(list_transform(wl, x -> length(x))), 0)
                  AS BIGINT) AS word_chars,
             len(list_filter(wl, x -> regexp_matches(x, '[a-z]'))) AS alpha_words
      FROM w),
    gopher AS (
      SELECT doc_id, source, text, n_words FROM m
      WHERE n_words BETWEEN 10 AND 5000
        AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
        AND sym_chars * 10 <= n_chars
        AND alpha_words * 10 >= 8 * n_words),
    exact AS (SELECT min(doc_id) AS doc_id FROM gopher GROUP BY text),
    ex AS (SELECT g.* FROM gopher g JOIN exact USING (doc_id)),
    near AS (SELECT min(doc_id) AS doc_id FROM ex GROUP BY substr(text, 1, 64)),
    sv AS (
      SELECT ex.doc_id, ex.source, ex.n_words,
             CASE WHEN substr(sha256('split:' || CAST(ex.doc_id AS VARCHAR)), 1, 2)
                       < 'cc'
                  THEN 'train' ELSE 'holdout' END AS split
      FROM ex JOIN near USING (doc_id)),
    off AS (
      SELECT source, split, n_words,
             sum(n_words) OVER (PARTITION BY source, split ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_words AS start_off
      FROM sv)
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens,
           CAST(max(start_off // 2048) + 1 AS BIGINT) AS n_bins
    FROM off GROUP BY source, split ORDER BY source, split
    """,
)
def curation_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation pipeline COMPOSED into one plan:
    ingest → Gopher rule filter → exact dedup → near-dup prefix screen
    → content-addressed train/holdout split → 2048-token sequence
    packing → per-(source, split) shard report. Each stage exists as a
    certified standalone query (gopher_quality_rules_docs,
    doc_exact_dedup, doc_prefix_dup_groups, doc_stratified_hash_split,
    sequence_packing_bins); this entry certifies their COMPOSITION —
    filter-then-dedup-then-split ordering, survivor plumbing, and the
    packing offsets over the post-dedup survivor set — against one
    integer-exact DuckDB oracle.

    Scale shape (the point of composing in one plan): the whole
    pipeline is ONE pass over the corpus plus three digest-keyed
    shuffles. Both dedup stages shuffle 32-byte sha-256 digests (never
    document bodies) and keep min-doc_id survivors with a window over
    digest groups (dup-cluster sized — bounded state); the quality
    rules and the split assignment are map-side expressions; packing
    windows partition per (source, split) shard, so no global sort
    exists anywhere. Catalyst pipelines the map stages between the
    shuffles, so at 100 TB the cost is the scan plus three
    fixed-width-key exchanges — the same shape as running only the
    dedup stage.
    """
    docs = _t(spark, sf_dir, "documents")
    wl = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(wl).cast("long").alias("n_words"),
        F.aggregate(
            wl, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
        ).alias("word_chars"),
        F.size(F.filter(wl, lambda x: x.rlike("[a-z]"))).cast("long").alias(
            "alpha_words"
        ),
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
        ).cast("long").alias("sym_chars"),
    )
    gopher = base.where(
        F.col("n_words").between(10, 5000)
        & (F.col("word_chars") >= 3 * F.col("n_words"))
        & (F.col("word_chars") <= 10 * F.col("n_words"))
        & (F.col("sym_chars") * 10 <= F.col("n_chars"))
        & (F.col("alpha_words") * 10 >= 8 * F.col("n_words"))
    )
    w_exact = Window.partitionBy(F.sha2(F.col("text"), 256))
    exact = gopher.withColumn("__m", F.min("doc_id").over(w_exact)).where(
        F.col("doc_id") == F.col("__m")
    )
    w_near = Window.partitionBy(F.sha2(F.substring("text", 1, 64), 256))
    near = exact.withColumn("__mp", F.min("doc_id").over(w_near)).where(
        F.col("doc_id") == F.col("__mp")
    )
    h = F.sha2(F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 256)
    split = F.when(F.substring(h, 1, 2) < "cc", "train").otherwise("holdout")
    sv = near.select("doc_id", "source", "n_words", split.alias("split"))
    w_pack = (
        Window.partitionBy("source", "split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = F.sum("n_words").over(w_pack) - F.col("n_words")
    packed = sv.select(
        "source", "split", "n_words", F.floor(off / 2048).cast("long").alias("bin")
    )
    return packed.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        (F.max("bin") + 1).cast("long").alias("n_bins"),
    )
