"""Batch 15 operator battery — feature engineering, sketch accuracy,
and optimizer statistics: weight-of-evidence/information-value bins,
MinHash Jaccard-estimate accuracy gate, tokenizer vocab OOV rate,
trade-graph strength assortativity, and join-size estimation audit.

Scale design notes:
- **WOE/IV** bins by reference deciles and folds to per-bin integer
  counts before any math; the log-odds use the deterministic integer
  log on count products (never engine ``ln``), the PSI pattern applied
  to supervised feature scoring.
- **MinHash gate** certifies the estimator the LSH near-dup path rides
  on: per-component signature mins are exact BIGINT hashes, the
  estimate is a match-count ratio, and the verdict row says whether it
  landed within the 3σ binomial bound of the exact Jaccard — the
  self-certifying pattern the ANN recall gates use.
- **OOV rate** broadcasts the top-K vocabulary (K-bounded, never
  corpus-bounded) against per-(source, token) counts.
- **Assortativity** runs entirely on the nation-level aggregate
  (|N|² edges max); every moment is an exact BIGINT sum, so the
  Pearson numerator/denominator are bit-identical cross-engine.
- **Join-size audit** estimates a self-join's output cardinality from
  top-k heavy hitters + a uniform residual — the compressed per-key
  histogram an optimizer keeps — and scores it against the exact
  answer computed from the full key histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import ln_det_int, ln_det_int_sql
from ..sources.readers import fixture_table as _t
from .registry import query


# --------------------------------------------------------------------------
# Weight of evidence / information value
# --------------------------------------------------------------------------

_WOE_TARGET = "1-URGENT"


def _woe_oracle() -> str:
    lnx = ln_det_int_sql("x")
    lny = ln_det_int_sql("y")
    return f"""
    WITH base AS (
      SELECT CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents,
             o_orderpriority = '{_WOE_TARGET}' AS is_good
      FROM orders),
    cuts AS (
      SELECT quantile_cont(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM base),
    binned AS (
      SELECT CAST(len(list_filter(qs, q -> q < cents)) AS BIGINT) AS bin,
             is_good
      FROM base CROSS JOIN cuts),
    cnt AS (
      SELECT bin,
             count(*) FILTER (WHERE is_good) AS g,
             count(*) FILTER (WHERE NOT is_good) AS b
      FROM binned GROUP BY bin),
    tot AS (
      SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(b) AS BIGINT) AS bt
      FROM cnt),
    terms AS (
      SELECT bin, g, b, gt, bt,
             CAST(g * bt AS BIGINT) AS x, CAST(b * gt AS BIGINT) AS y
      FROM cnt CROSS JOIN tot WHERE g > 0 AND b > 0)
    SELECT bin,
           CAST(g AS BIGINT) AS good,
           CAST(b AS BIGINT) AS bad,
           CAST(floor(({lnx} - {lny}) * 1e9) AS BIGINT) AS woe_nano,
           CAST(floor((CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt)
                      * ({lnx} - {lny}) * 1e9) AS BIGINT) AS iv_nano
    FROM terms
    ORDER BY bin
    """


@query("woe_iv_price_bins", oracle=_woe_oracle())
def woe_iv_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence and information value of order price against
    the urgent-priority target, per decile bin — the credit-scoring /
    feature-selection workhorse: WOE = ln(good%/bad%) per bin, IV =
    Σ (good% − bad%)·WOE (rule of thumb: IV > 0.1 = predictive).

    The supervised sibling of ``psi_population_stability``: same
    decile-binning (sketch cutoffs at 100 TB), same fold-to-integer-
    counts-first shape, and WOE expands to ln(g·B) − ln(b·G) over the
    deterministic integer log so no engine ``ln`` ever runs. Bins
    empty on either class are excluded on both sides (standard WOE
    practice — production binners merge such bins)."""
    base = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
        (F.col("o_orderpriority") == _WOE_TARGET).alias("is_good"),
    )
    # r13 straight-line restructure (guide §2.4): the old form scanned
    # orders TWICE (once folded inside the quantile pass, once raw for
    # binning), broadcast the decile array back (its subtree re-ran
    # the upstream — no exchange reuse across broadcast-subquery
    # boundaries under AQE), and paid an eager 10-row localCheckpoint
    # + grand-total broadcast join — ~16 sequential single-task AQE
    # stage rounds per invocation at the box's ~0.2 s scheduling
    # floor. Now the fact table folds ONCE to (cents, is_good, c); the
    # weighted deciles attach THROUGH the window pass
    # (attach_exact_quantiles — identical ranks, weights are repeat
    # counts), binning sums the fold's counts in the same pipeline,
    # and the grand totals ride a single-partition window over the
    # 10-row bin relation. Two exchanges, zero joins.
    from ..operators.quantiles import attach_exact_quantiles

    dec = {f"d{i}": i / 10.0 for i in range(1, 10)}
    # NULL cents cannot occur (floor of a NOT NULL price); the filter
    # pins the quantile pass's F.percentile NULL-ignoring semantics
    # anyway so a hostile input can't shift the ranks
    folded = (
        base.where(F.col("cents").isNotNull())
        .groupBy("cents", "is_good")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    attached = attach_exact_quantiles(folded, [], "cents", dec, weight_col="c")
    # guarded (ADVICE r7, kept from the decile_array_or_fail form): an
    # all-NULL quantile column must fail loudly, not bin every row
    # into bin 0
    bin_sql = (
        "cast("
        + " + ".join(
            f"(CASE WHEN d{i} < cents THEN 1 ELSE 0 END)" for i in range(1, 10)
        )
        + " as bigint)"
    )
    binned = attached.select(
        F.when(F.col("d1").isNotNull(), F.expr(bin_sql))
        .otherwise(
            F.raise_error(
                F.lit(
                    "woe_iv_price_bins: quantile input arm is empty or "
                    "all-NULL — decile bins are undefined"
                )
            )
        )
        .alias("bin"),
        "is_good",
        "c",
    )
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_good"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("g"),
        F.sum(F.when(~F.col("is_good"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("b"),
    )
    wt = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    terms = (
        cnt.withColumn("gt", F.sum("g").over(wt).cast("long"))
        .withColumn("bt", F.sum("b").over(wt).cast("long"))
        .where((F.col("g") > 0) & (F.col("b") > 0))
        .withColumn("x", (F.col("g") * F.col("bt")).cast("long"))
        .withColumn("y", (F.col("b") * F.col("gt")).cast("long"))
    )
    woe = ln_det_int("x") - ln_det_int("y")
    return terms.select(
        "bin",
        F.col("g").cast("long").alias("good"),
        F.col("b").cast("long").alias("bad"),
        F.floor(woe * F.lit(1e9)).cast("long").alias("woe_nano"),
        F.floor(
            (F.col("g").cast("double") / F.col("gt") - F.col("b").cast("double") / F.col("bt"))
            * woe
            * F.lit(1e9)
        )
        .cast("long")
        .alias("iv_nano"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# MinHash Jaccard-estimate accuracy gate
# --------------------------------------------------------------------------

_MH_K = 16
_MH_EVAL_DOCS = 20
#: 3σ binomial bound at K=16: 3·sqrt(0.25/16) = 0.375
_MH_TOL_MILLI = 375

_SHINGLES_SQL = (
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    "FOR i IN range(1, greatest(len(toks)-1, 1))]"
)


def _mh_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE doc_id < {_MH_EVAL_DOCS})),
    hashes AS (
      SELECT doc_id, i,
             CAST(CAST(('0x' || substring(
                 sha256(CAST(i AS VARCHAR) || ':' || s), 1, 15))
               AS UBIGINT) AS BIGINT) AS h
      FROM sh CROSS JOIN range(1, {_MH_K} + 1) t(i)),
    sig AS (SELECT doc_id, i, min(h) AS mh FROM hashes GROUP BY doc_id, i),
    est AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) FILTER (WHERE a.mh = b.mh) AS BIGINT) AS matches
      FROM sig a JOIN sig b ON a.i = b.i AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT e.doc_a, e.doc_b,
           CAST(floor(CAST(matches AS DOUBLE) / {_MH_K} * 1e3) AS BIGINT)
             AS est_milli,
           CAST(floor(CAST(coalesce(inter, 0) AS DOUBLE)
                      / (sa.sz + sb.sz - coalesce(inter, 0)) * 1e3) AS BIGINT)
             AS exact_milli,
           abs(CAST(floor(CAST(matches AS DOUBLE) / {_MH_K} * 1e3) AS BIGINT)
               - CAST(floor(CAST(coalesce(inter, 0) AS DOUBLE)
                            / (sa.sz + sb.sz - coalesce(inter, 0)) * 1e3)
                      AS BIGINT)) <= {_MH_TOL_MILLI} AS within_3sigma
    FROM est e
    LEFT JOIN inter USING (doc_a, doc_b)
    JOIN sizes sa ON e.doc_a = sa.doc_id
    JOIN sizes sb ON e.doc_b = sb.doc_id
    ORDER BY e.doc_a, e.doc_b
    """


@query("minhash_jaccard_estimate_gate", oracle=_mh_oracle())
def minhash_jaccard_estimate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the MinHash estimator underlying the LSH
    near-dup path: for every eval-doc pair, the K={k}-component
    signature estimate of Jaccard similarity next to the exact value,
    plus a within-3σ verdict — the gate runs on a sample at corpus
    scale exactly like the ANN recall gates.

    Hash components are engine-neutral (sha-256 of ``i:shingle``,
    leading 60 bits as BIGINT — same digest technique as the content
    checksums), signature mins fold per (doc, component), and the
    estimate is an exact match-count ratio — so both engines produce
    identical rows, and the boolean column certifies the estimator's
    binomial error bound rather than asserting estimate == truth."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _MH_EVAL_DOCS)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    )
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("toks") - F.lit(3), F.lit(-1))
                    ),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("toks", i + F.lit(1)),
                        F.element_at("toks", i + F.lit(2)),
                        F.element_at("toks", i + F.lit(3)),
                    ),
                )
            )
        ).alias("s"),
    )
    idx = sh.select(
        "doc_id",
        "s",
        F.explode(F.sequence(F.lit(1), F.lit(_MH_K))).alias("i"),
    )
    h = F.conv(
        F.substring(
            F.sha2(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("s")), 256),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    sig = (
        idx.select("doc_id", "i", h.alias("h"))
        .groupBy("doc_id", "i")
        .agg(F.min("h").alias("mh"))
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    est = (
        sa.join(
            sb,
            (F.col("sa.i") == F.col("sb.i"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.when(F.col("sa.mh") == F.col("sb.mh"), 1))
            .cast("long")
            .alias("matches")
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a2, b2 = sh.alias("a2"), sh.alias("b2")
    inter = (
        a2.join(
            b2,
            (F.col("a2.s") == F.col("b2.s"))
            & (F.col("a2.doc_id") < F.col("b2.doc_id")),
        )
        .groupBy(
            F.col("a2.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    est_milli = F.floor(
        F.col("matches").cast("double") / F.lit(_MH_K) * F.lit(1e3)
    ).cast("long")
    exact_milli = F.floor(
        F.coalesce(F.col("inter"), F.lit(0)).cast("double")
        / (F.col("za.sz") + F.col("zb.sz") - F.coalesce(F.col("inter"), F.lit(0)))
        * F.lit(1e3)
    ).cast("long")
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(za), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(zb), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            est_milli.alias("est_milli"),
            exact_milli.alias("exact_milli"),
            (F.abs(est_milli - exact_milli) <= _MH_TOL_MILLI).alias("within_3sigma"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Tokenizer vocab OOV rate
# --------------------------------------------------------------------------

_VOCAB_K = 20


@query(
    "vocab_oov_rate_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents),
    vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS c FROM tok GROUP BY term
        ORDER BY c DESC, term LIMIT {_VOCAB_K})),
    per AS (
      SELECT source, term, count(*) AS c FROM tok GROUP BY source, term)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(floor((CAST(sum(CASE WHEN v.term IS NULL THEN c ELSE 0 END)
                            AS DOUBLE) / sum(c)) * 1e6) AS BIGINT)
             AS oov_micro
    FROM per LEFT JOIN vocab v USING (term)
    GROUP BY source
    ORDER BY source
    """,
)
def vocab_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the global top-{k}
    token vocabulary — the tokenizer-coverage check run before fixing a
    vocab: a source with high OOV will fragment into many subword
    tokens (see ``tokenizer_fertility_by_lang`` for the fertility side
    of the same question).

    The vocabulary is K-bounded however large the corpus, so it
    broadcasts; token occurrences fold to per-(source, term) counts
    before the vocab join, making the join input vocabulary-scale, not
    token-scale. Top-K carries a (count, term) total order so both
    engines pick the same vocabulary on ties."""
    tok = _t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(_VOCAB_K)
        .select("term")
    )
    per = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    v = vocab.withColumn("in_vocab", F.lit(True))
    oov_c = F.sum(F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0)))
    return (
        per.join(F.broadcast(v), "term", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            oov_c.cast("long").alias("oov_tokens"),
            F.floor((oov_c.cast("double") / F.sum("c")) * F.lit(1e6))
            .cast("long")
            .alias("oov_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Trade-graph strength assortativity
# --------------------------------------------------------------------------


@query(
    "graph_strength_assortativity",
    oracle="""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    und AS (
      SELECT src AS u, dst AS v, w FROM edges
      UNION ALL
      SELECT dst AS u, src AS v, w FROM edges),
    strength AS (SELECT u AS nk, CAST(sum(w) AS BIGINT) AS st FROM und GROUP BY u),
    pts AS (
      SELECT su.st AS x, sv.st AS y
      FROM und JOIN strength su ON und.u = su.nk
               JOIN strength sv ON und.v = sv.nk),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(x AS HUGEINT) * y) AS sxy_h
      FROM pts)
    SELECT n, sx, CAST(sxy_h AS DOUBLE) AS sxy,
           CAST(floor(CAST(n * sxy_h - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))) * 1e6)
                AS BIGINT) AS assortativity_micro
    FROM m
    """,
)
def graph_strength_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength assortativity of the nation trade graph: the Pearson
    correlation between the trade volumes of the two endpoints of each
    (symmetrized) edge — do high-volume nations trade with each other
    (positive) or with the periphery (negative)? The classic network-
    topology diagnostic (Newman 2002), on strengths rather than
    degrees because the trade graph is near-complete.

    The fact-scale work is the one edge-build aggregate (same tree as
    PageRank, ≤|N|² rows out); every moment (Σx, Σx², Σxy) is an exact
    BIGINT sum over that nation-level table, so the correlation's
    numerator and denominator are bit-identical cross-engine — one
    IEEE division and two exact sqrts at the end. BIGINT moments are
    safe to ~3·10⁹ total edge weight; beyond that scale the moments
    switch to doubles with a documented tolerance."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == supp.s_suppkey,
        )
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        # <= |N|^2 rows with four downstream subtrees (symmetrize x2,
        # strength, points): materialize once so none re-runs the
        # fact-scale 4-table join behind it
        .localCheckpoint(eager=True)
    )
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), "w"
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v"), "w"))
    strength = und.groupBy(F.col("u").alias("nk")).agg(
        F.sum("w").cast("long").alias("st")
    )
    su, sv = strength.alias("su"), strength.alias("sv")
    pts = (
        und.join(F.broadcast(su), F.col("u") == F.col("su.nk"))
        .join(F.broadcast(sv), F.col("v") == F.col("sv.nk"))
        .select(F.col("su.st").alias("x"), F.col("sv.st").alias("y"))
    )
    # strength products in DECIMAL: node strengths scale with trade
    # volume, so x², x·y cross 2⁶³ under ANSI checking at high-traffic
    # graphs; outputs keep their BIGINT contract (strengths-scale
    # values), only the internal closed form is widened
    xd, yd = F.col("x").cast("decimal(19,0)"), F.col("y").cast("decimal(19,0)")
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy_d"),
    )
    sxd = F.col("sx").cast("decimal(19,0)")
    syd = F.col("sy").cast("decimal(19,0)")
    r_micro = F.floor(
        (F.col("n") * F.col("sxy_d") - sxd * syd).cast("double")
        / (
            F.sqrt((F.col("n") * F.col("sxx") - sxd * sxd).cast("double"))
            * F.sqrt((F.col("n") * F.col("syy") - syd * syd).cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    # sxy is the sum of the WIDENED products — at the very scale the
    # decimal widening exists for, a decimal→long cast of it would
    # throw under ANSI. Emit it as double instead: the exact decimal
    # integer rounds to double identically in Spark and DuckDB
    # (round-to-nearest-even of the same exact value).
    return m.select(
        "n",
        "sx",
        F.col("sxy_d").cast("double").alias("sxy"),
        r_micro.alias("assortativity_micro"),
    )


# --------------------------------------------------------------------------
# Join-size estimation audit
# --------------------------------------------------------------------------

_JS_TOPK = 10


@query(
    "join_size_estimate_audit",
    oracle=f"""
    WITH cnt AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY o_orderdate),
    ranked AS (
      SELECT d, c, row_number() OVER (ORDER BY c DESC, d) AS rk FROM cnt),
    heavy AS (SELECT d, c FROM ranked WHERE rk <= {_JS_TOPK}),
    rest AS (SELECT d, c FROM ranked WHERE rk > {_JS_TOPK}),
    m AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM cnt) AS n_keys,
        (SELECT CAST(sum(c * c) AS BIGINT) FROM cnt) AS actual,
        (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) FROM heavy) AS est_heavy,
        (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM rest) AS rest_rows,
        (SELECT CAST(count(*) AS BIGINT) FROM rest) AS rest_keys)
    SELECT n_keys, actual,
           CAST(est_heavy + CASE WHEN rest_keys > 0
                                 THEN (rest_rows * rest_rows) // rest_keys
                                 ELSE 0 END AS BIGINT) AS est,
           CAST(floor(abs(CAST(est_heavy + CASE WHEN rest_keys > 0
                                    THEN (rest_rows * rest_rows) // rest_keys
                                    ELSE 0 END AS DOUBLE) - actual)
                      / actual * 1e6) AS BIGINT) AS rel_err_micro
    FROM m
    """,
)
def join_size_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: predict the output size of the
    orders-date self-join from the compressed per-key statistics an
    optimizer keeps — the top-{k} heavy-hitter dates exact, everything
    else assumed uniform — and score the estimate against the true
    Σc² computed from the full histogram. The gap is exactly the
    skew the uniform assumption misses; optimizers mis-plan joins when
    it is large.

    Both arms run on the date-grouped count table (value-space
    bounded), never on row-scale pairs: the true self-join size is
    Σc² by algebra, no join is materialized. All moments are exact
    BIGINTs; the uniform residual uses integer division mirrored on
    both engines."""
    cnt = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), "d")
    ranked = cnt.select("d", "c", F.row_number().over(w).alias("rk"))
    heavy = ranked.where(F.col("rk") <= _JS_TOPK)
    rest = ranked.where(F.col("rk") > _JS_TOPK)
    stats = (
        cnt.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("actual"),
        )
        .join(
            F.broadcast(
                heavy.agg(
                    F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0))
                    .cast("long")
                    .alias("est_heavy")
                )
            )
        )
        .join(
            F.broadcast(
                rest.agg(
                    F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("rest_rows"),
                    F.count(F.lit(1)).cast("long").alias("rest_keys"),
                )
            )
        )
    )
    est = F.col("est_heavy") + F.when(
        F.col("rest_keys") > 0,
        F.expr("(rest_rows * rest_rows) div rest_keys"),
    ).otherwise(F.lit(0))
    return stats.select(
        "n_keys",
        "actual",
        est.cast("long").alias("est"),
        F.floor(
            F.abs(est.cast("double") - F.col("actual")) / F.col("actual") * F.lit(1e6)
        )
        .cast("long")
        .alias("rel_err_micro"),
    )
