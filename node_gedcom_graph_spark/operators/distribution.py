"""Distribution-shape and corpus-duplication analytics.

Six operators that round out the statistical-audit surface a
training-data pipeline runs before committing 100 TB to a tokenizer:

- Benford first-digit conformance over order totals (the classic
  fraud/synthetic-data smell test);
- exact weighted median via pre-aggregated cumulative weights (the
  scalable exact formulation: aggregate per distinct value FIRST, then
  one small cumulative window — never a full-row sort);
- Zipf slope fit over the token frequency spectrum (``regr_slope`` on
  the log-log rank/frequency curve — how "natural" is the corpus?);
- pairwise covariance of leading embedding dimensions (the first
  diagnostic before whitening / PCA);
- FIR-windowed EWMA smoothing residuals per event type (the bounded
  deterministic twin of recursive EWMA, which no window can express);
- duplicated-n-gram coverage per source (Lee et al. 2021,
  "Deduplicating Training Data Makes Language Models Better": the
  fraction of token 5-gram POSITIONS whose n-gram also appears in
  some other document — the substring-dedup audit metric).

Reference parity note: the reference (839-LoC GEDCOM ETL) has no
statistics surface; these extend the LLM-pipeline operator family the
build brief makes first-class. Cross-engine determinism follows the
house rules: set membership only on integer cross-multiplication or
quantized boundaries, sums that feed hashes either exact (BIGINT /
DECIMAL) or rounded well inside the oracle's 6-dp tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from node_gedcom_graph_spark.functions.scalar import tokens
from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Benford first-digit profile.
# ---------------------------------------------------------------------------


@register(
    "orders_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(COUNT(*) * 1.0 / MAX(n_total), 6) AS observed_share,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_share,
           ROUND((COUNT(*) * 1.0 / MAX(n_total) - log10(1.0 + 1.0 / digit))
                 / log10(1.0 + 1.0 / digit), 6) AS relative_excess
    FROM d CROSS JOIN tot
    GROUP BY digit
    ORDER BY digit
    """,
)
def orders_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed share of
    each leading digit vs the log10(1+1/d) expectation.

    Determinism: the digit is taken from the BIGINT's string form
    (``floor`` then integer-to-string — identical on both engines; a
    double-to-string route would hit formatting divergence). Shares
    are exact-integer ratios divided once, then rounded.

    Scale: one map-side-combined groupBy on a 9-value key; the total
    arrives via a broadcast one-row cross join, not a second scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    share = F.col("n_orders") / F.col("n_total")
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.round(share, 6).alias("observed_share"),
            F.round(benford, 6).alias("benford_share"),
            F.round((share - benford) / benford, 6).alias("relative_excess"),
        )
    )


# ---------------------------------------------------------------------------
# Exact weighted median from pre-aggregated cumulative weights.
# ---------------------------------------------------------------------------


@register(
    "lineitem_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS BIGINT)) AS DECIMAL(38,2)) AS pw
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, price, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price
                           ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
      FROM w
    )
    SELECT c.l_returnflag,
           CAST(MIN(c.price) AS DOUBLE) AS weighted_median_price,
           CAST(MAX(c.tot) AS BIGINT) AS total_weight,
           CAST(m.wmean AS DOUBLE) AS weighted_mean_price
    FROM c
    JOIN (SELECT l_returnflag,
                 CAST(SUM(pw) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) AS wmean
          FROM w GROUP BY 1) m USING (l_returnflag)
    WHERE 2 * c.cum >= c.tot
    GROUP BY c.l_returnflag, m.wmean
    ORDER BY c.l_returnflag
    """,
)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — the
    lower weighted median (smallest price whose cumulative weight
    reaches half the total).

    This is the SCALABLE exact formulation: weights are first summed
    per DISTINCT (flag, price) — a map-side-combined hash aggregate —
    and the cumulative window then runs over distinct values only, not
    raw rows. At 100 TB the window input is |distinct prices per
    flag|, orders of magnitude below row count; the raw table is never
    globally sorted. Boundary membership is integer cross-multiplied
    (``2*cum >= tot`` over BIGINT quantities), so no float boundary
    can flip the selected row between engines. The weighted mean rides
    along exactly (DECIMAL(18,2) price x BIGINT weight, one final
    divide).
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("wt"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_quantity").cast("bigint")
        )
        .cast("decimal(38,2)")
        .alias("pw"),
    )
    cum_w = (
        W.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = W.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "price",
        "wt",
        F.sum("wt").over(cum_w).alias("cum"),
        F.sum("wt").over(tot_w).alias("tot"),
    )
    mean = w.groupBy("l_returnflag").agg(
        (F.sum("pw").cast("double") / F.sum("wt").cast("double")).alias(
            "wmean"
        )
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").cast("double").alias("weighted_median_price"),
            F.max("tot").cast("bigint").alias("total_weight"),
        )
        .join(F.broadcast(mean), "l_returnflag")
        .select(
            "l_returnflag",
            "weighted_median_price",
            "total_weight",
            F.col("wmean").cast("double").alias("weighted_mean_price"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf slope of the token frequency spectrum.
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 1000


@register(
    "token_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ), counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM counts
      ORDER BY cnt DESC, token
      LIMIT {ZIPF_TOP_N}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept,
           ROUND(regr_r2(ln(cnt), ln(rnk)), 6) AS zipf_r2
    FROM ranked
    """,
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-{N} token frequency spectrum: OLS
    slope/intercept/R^2 of ln(frequency) on ln(rank). Natural-language
    corpora sit near slope -1; synthetic or templated text drifts —
    a one-row corpus-naturalness fingerprint.

    Determinism: ranks are row_number with a (cnt desc, token asc)
    tie-break, but the REGRESSION is tie-order invariant anyway —
    within a tie block frequencies are equal, so only the multiset of
    ranks matters, and that is fixed. The regr_* aggregates sum ~1000
    O(1)-magnitude log terms; cross-engine summation-order drift is
    ~1e-12, far inside the 6-dp round.

    Scale: token counting is the map-side-combined explode/groupBy;
    the top-N is TakeOrderedAndProject (per-partition heaps, no global
    sort); the regression then aggregates {N} rows.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ranked = (
        counts.orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(ZIPF_TOP_N)
        .select(
            "cnt",
            F.row_number()
            .over(W.orderBy(F.col("cnt").desc(), F.col("token")))
            .alias("rnk"),
        )
    )
    lc, lr = F.log(F.col("cnt")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# Pairwise covariance of leading embedding dimensions.
# ---------------------------------------------------------------------------

COV_DIMS = 6


@register(
    "embedding_covariance_topdims",
    oracle=f"""
    WITH pairs AS (
      SELECT i.i AS dim_i, j.j AS dim_j
      FROM generate_series(1, {COV_DIMS}) i(i)
      JOIN generate_series(1, {COV_DIMS}) j(j) ON j.j >= i.i
    )
    SELECT CAST(dim_i AS INTEGER) AS dim_i,
           CAST(dim_j AS INTEGER) AS dim_j,
           ROUND(covar_pop(CAST(embedding[dim_i] AS DOUBLE),
                           CAST(embedding[dim_j] AS DOUBLE)), 6) AS cov,
           ROUND(corr(CAST(embedding[dim_i] AS DOUBLE),
                      CAST(embedding[dim_j] AS DOUBLE)), 6) AS pearson_r
    FROM embeddings CROSS JOIN pairs
    GROUP BY dim_i, dim_j
    ORDER BY dim_i, dim_j
    """,
)
def embedding_covariance_topdims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance/correlation matrix of the first
    {COV_DIMS} embedding dimensions — the pre-whitening diagnostic
    (strongly correlated leading dims mean PCA/whitening will pay off;
    a near-diagonal matrix means the encoder already decorrelates).

    Shape: one row per scanned vector fans out to the 21 (i<=j) pairs
    via a broadcast literal pair table, then a single map-side-combined
    groupBy on the 21-value key — the raw table is scanned ONCE for the
    whole matrix, the canonical way to batch many small aggregates.
    covar_pop/corr moment sums are O(unit) magnitudes over the corpus;
    summation-order drift sits ~1e-10, inside the 6-dp round.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = [
        (i, j) for i in range(1, COV_DIMS + 1) for j in range(i, COV_DIMS + 1)
    ]
    pair_df = F.broadcast(
        emb.sparkSession.createDataFrame(pairs, "dim_i int, dim_j int")
    )
    x = F.element_at("embedding", F.col("dim_i")).cast("double")
    y = F.element_at("embedding", F.col("dim_j")).cast("double")
    return (
        emb.crossJoin(pair_df)
        .groupBy("dim_i", "dim_j")
        .agg(
            F.round(F.covar_pop(x, y), 6).alias("cov"),
            F.round(F.corr(x, y), 6).alias("pearson_r"),
        )
    )


# ---------------------------------------------------------------------------
# FIR-windowed EWMA smoothing residuals.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_TAPS = 8
EWMA_SPIKE_TH = 100.0  # |residual| gate; events.value spans 0.01..490

# r11 (guide §2.5): time-bucket width for parallelizing per-event_type
# lag windows. event_type has ~5 distinct values, so PARTITION BY
# event_type degenerates to 5 single-threaded whole-partition sorts
# (measured at sf100: events_ewma_fir 71.2 s at 3.3/32 cores,
# burstiness 63.3 s at 3.5/32 — the same low-cardinality
# window-partition skew winsorized had in r10). Minute buckets over
# the fixtures' 30-day span give ~43k buckets per type — tiny in-task
# sorts at every tier, and the per-bucket fix-up tables stay small.
LAG_BUCKET_MICROS = 60_000_000


def _time_bucket(bucket_micros: int) -> Column:
    """floor(m / bucket_micros) in exact integer arithmetic. A double
    quotient rounds k*bucket - 1 up to k once m outgrows the 53-bit
    mantissa, and a cast truncates negative m toward zero."""
    return F.expr(f"(m - pmod(m, {bucket_micros})) div {bucket_micros}")


def _bucketed_lag_values(
    df: DataFrame, n_lags: int, bucket_micros: int = LAG_BUCKET_MICROS
) -> DataFrame:
    """``lag(value, j<=n_lags) OVER (PARTITION BY event_type ORDER BY
    m, eid)`` computed with PARALLEL per-(type, time-bucket) windows
    plus a small fix-up branch — provably row-equal to the
    single-partition-per-type global window (pinned by
    tests/test_r11_fixes.py::test_bucketed_lags_equal_global_window).

    ``df`` must carry ``event_type``, ``m`` (bigint event-time micros,
    the order key — buckets derive from its value, so bucket boundaries
    respect the order), ``eid`` (tiebreak, unique within event_type)
    and ``value``. Output: (event_type, m, eid, value, x0..x{n_lags}).

    Why it is exact: a row with in-bucket rank > n_lags has all
    ``n_lags`` predecessors inside its own bucket, so the per-bucket
    window computes its lags verbatim. The remaining HEAD rows (rank
    <= n_lags) take their lags from a window over the head+tail subset
    (rank <= n_lags or rank > count - n_lags), which is CLOSED under
    j-step predecession for j <= n_lags: a predecessor in the same
    bucket is itself a head row, and one in an earlier bucket is
    within the last n_lags rows of that bucket (at most j-1 < n_lags
    rows sit between it and the head row), i.e. a tail row. With all
    true predecessors present, the j rows immediately before a head
    row IN THE SUBSET are exactly its j global predecessors, so the
    subset window's lag values equal the global window's.

    Scale shape: ONE full-data exchange on (type, bucket) feeding one
    Window (lags + rank + count in a single operator); the two
    consumers of that windowed frame (emit rank > n_lags / route
    head+tail to the fix-up) share the exchange via ReusedExchange;
    the fix-up window touches <= 2*n_lags rows per bucket. At the tiny
    gate SFs most buckets hold < n_lags rows and nearly everything
    flows through the fix-up branch — degenerating to the old global
    window exactly where it was never a problem.
    """
    tb = _time_bucket(bucket_micros)
    base = df.select("event_type", "m", "eid", "value", tb.alias("__tb"))
    w = W.partitionBy("event_type", "__tb").orderBy("m", "eid")
    wcnt = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    lag_cols = [
        F.lag("value", j).over(w).alias(f"x{j}") for j in range(n_lags + 1)
    ]
    lagged = base.select(
        "event_type",
        "m",
        "eid",
        "value",
        *lag_cols,
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wcnt).alias("__cnt"),
    )
    out_cols = ["event_type", "m", "eid", "value"] + [
        f"x{j}" for j in range(n_lags + 1)
    ]
    main = lagged.filter(F.col("__rn") > n_lags).select(*out_cols)
    subset = lagged.filter(
        (F.col("__rn") <= n_lags)
        | (F.col("__rn") > F.col("__cnt") - n_lags)
    )
    wg = W.partitionBy("event_type").orderBy("m", "eid")
    fixed = subset.select(
        "event_type",
        "m",
        "eid",
        "value",
        "__rn",
        *[
            F.lag("value", j).over(wg).alias(f"x{j}")
            for j in range(n_lags + 1)
        ],
    )
    head = fixed.filter(F.col("__rn") <= n_lags).select(*out_cols)
    return main.unionByName(head)


def _bucketed_gap_values(
    df: DataFrame, bucket_micros: int = LAG_BUCKET_MICROS
) -> DataFrame:
    """``(m - lag(m)) OVER (PARTITION BY event_type ORDER BY m)`` in
    seconds, computed with PARALLEL per-(type, time-bucket) windows:
    within-bucket gaps come from a window over (event_type, bucket);
    each bucket-BOUNDARY gap (first m of a bucket minus last m of the
    previous non-empty bucket) comes from a window over the tiny
    per-bucket min/max summary. Exact because per type the sorted-m
    successive differences split precisely into within-bucket
    differences plus boundary differences when buckets are value
    ranges of m; ties in m only ever produce zero gaps, and successive
    differences of a sorted multiset do not depend on tie order
    (pinned by test_bucketed_gaps_equal_global_window).

    ``df`` must carry ``event_type`` and ``m`` (bigint micros).
    Output: (event_type, gap_s double), null gaps dropped.
    """
    base = df.withColumn("__tb", _time_bucket(bucket_micros))
    win = W.partitionBy("event_type", "__tb").orderBy("m")
    inner = base.select(
        "event_type",
        ((F.col("m") - F.lag("m").over(win)) / F.lit(1e6)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    summary = base.groupBy("event_type", "__tb").agg(
        F.min("m").alias("__mn"), F.max("m").alias("__mx")
    )
    ws = W.partitionBy("event_type").orderBy("__tb")
    boundary = summary.select(
        "event_type",
        ((F.col("__mn") - F.lag("__mx").over(ws)) / F.lit(1e6)).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull())
    return inner.unionByName(boundary)


@register(
    "events_ewma_fir",
    oracle=f"""
    WITH lagged AS (
      SELECT event_type, value,
             {", ".join(
                 f"lag(value, {j}) OVER w AS x{j}" for j in range(EWMA_TAPS)
             )}
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ), smoothed AS (
      SELECT event_type, value,
             ({" + ".join(
                 f"x{j} * {EWMA_ALPHA * (1 - EWMA_ALPHA) ** j!r}"
                 for j in range(EWMA_TAPS)
             )})
             / {sum(EWMA_ALPHA * (1 - EWMA_ALPHA) ** j
                    for j in range(EWMA_TAPS))!r} AS fir
      FROM lagged WHERE x{EWMA_TAPS - 1} IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_smoothed,
           ROUND(AVG(abs(value - fir)), 6) AS mean_abs_resid,
           ROUND(MAX(abs(value - fir)), 6) AS max_abs_resid,
           CAST(SUM(CASE WHEN round(abs(value - fir) - {EWMA_SPIKE_TH!r}, 9)
                              > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
    FROM smoothed
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_ewma_fir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EWMA smoothing residual profile, using the
    FINITE-impulse-response truncation of the EWMA (8 geometric taps,
    alpha=0.3, renormalized). Recursive EWMA is inexpressible as a SQL
    window (each output feeds the next); the FIR twin is the standard
    bounded-memory stand-in, is what a streaming job keeps as state,
    and — crucially here — is expressible IDENTICALLY on both engines,
    so the whole smoothing path is hash-gated, not just row counts.

    Determinism: (event_type, ts) is unique in this dataset, so lag
    frames are fully ordered; each FIR value is the SAME left-to-right
    float expression on both engines (ULP-identical); spike membership
    is gated on a quantized boundary (round(|resid| - TH, 9) > 0, the
    events_anomaly_zscore precedent) so a boundary row cannot flip the
    set.

    Scale (r11 rewrite, guide §2.5): a PARTITION BY event_type window
    over ~5 distinct types degenerates to 5 single-threaded whole-type
    sorts (measured 3.3/32 cores / 71.2 s at sf100), so the lags are
    computed by parallel per-(type, minute-bucket) windows with a
    small head/tail fix-up branch (_bucketed_lag_values; row-equality
    with the global window is pinned on a ties-and-tiny-buckets
    fixture plus the gate fixture). The FIR arithmetic is unchanged
    whole-stage-codegen column math reading IDENTICAL x0..x7 values,
    so every residual is bit-identical to the global-window form.
    Order tiebreak: (ts, event_id) — (event_type, ts) is unique at
    every oracle-gated SF, so the declared result is unchanged; at the
    replicated sweep tiers (where ts carries K-way ties and the global
    window's lag order among ties is unspecified) the tiebreak pins
    ONE of the orders the old form was free to pick.
    """
    events = load_table(spark, sf_dir, "events")
    sel = events.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("m"),
        F.col("event_id").alias("eid"),
        "value",
    )
    lagged = _bucketed_lag_values(sel, EWMA_TAPS - 1).filter(
        F.col(f"x{EWMA_TAPS - 1}").isNotNull()
    )
    weights = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** j for j in range(EWMA_TAPS)]
    num = None
    for j, wj in enumerate(weights):
        term = F.col(f"x{j}") * F.lit(wj)
        num = term if num is None else num + term
    fir = num / F.lit(sum(weights))
    resid = F.abs(F.col("value") - fir)
    return (
        lagged.select("event_type", resid.alias("resid"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_smoothed"),
            F.round(F.avg("resid"), 6).alias("mean_abs_resid"),
            F.round(F.max("resid"), 6).alias("max_abs_resid"),
            F.sum(
                F.when(
                    F.round(F.col("resid") - EWMA_SPIKE_TH, 9) > 0, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_spikes"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-n-gram coverage (Lee et al. 2021 substring-dedup audit).
# ---------------------------------------------------------------------------

DUP_NGRAM_N = 5


@register(
    "doc_dup_ngram_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, source,
             array_to_string(t[i:i+{DUP_NGRAM_N - 1}], ' ') AS gram
      FROM toks,
           unnest(generate_series(1, len(t) - {DUP_NGRAM_N - 1})) s(i)
      WHERE len(t) >= {DUP_NGRAM_N}
    ), gram_docs AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gram
    ), per_doc AS (
      SELECT g.doc_id, g.source,
             CAST(COUNT(*) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN gd.n_docs >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS dup_pos
      FROM grams g JOIN gram_docs gd USING (gram)
      GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pos) AS BIGINT) AS total_positions,
           CAST(SUM(dup_pos) AS BIGINT) AS dup_positions,
           ROUND(SUM(dup_pos) * 1.0 / SUM(n_pos), 6) AS dup_fraction,
           CAST(SUM(CASE WHEN 2 * dup_pos > n_pos THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_majority_dup
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def doc_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram coverage per source: for every token 5-gram
    POSITION in every document, is that 5-gram present in at least one
    OTHER document? The per-source fraction is the metric Lee et al.
    2021 ("Deduplicating Training Data Makes Language Models Better")
    use to audit substring-level duplication that document-level dedup
    (exact/MinHash) cannot see.

    Scale: n-gram positions explode ~|tokens| rows, but every later
    stage is keyed on the gram hash — a map-side-combined
    COUNT(DISTINCT doc_id) per gram, then a gram-keyed shuffle join
    back to positions, then per-doc and per-source hash aggregates.
    No all-pairs anywhere; the gram-frequency skew (stopword runs) is
    exactly what AQE skew-join handles, and the distinct-doc count per
    gram could drop to a 2-cap (``n_docs >= 2`` is all we consume) via
    an early LIMIT-per-key rewrite if a production corpus made the
    full distinct too hot. Majority-dup doc membership is integer
    cross-multiplied (2*dup > total), hash-stable.

    r6 sf10 fix (124 s at 100x): EXACT-DUPLICATE COLLAPSE — identical
    texts have identical gram streams, so positions explode and the
    gram table aggregates per DISTINCT text; a gram's member-level
    distinct-doc count is the SUM OF GROUP SIZES over the distinct
    texts containing it (each member doc is a distinct doc_id), so
    ``n_docs >= 2`` is decided rep-level and every member inherits its
    rep's (n_pos, dup_pos) verbatim — sources re-attach per member
    from the corpus scan (identical texts may span sources).
    """
    from node_gedcom_graph_spark.operators.dedup import _exact_dup_groups

    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, reps = _exact_dup_groups(docs)
    toks = reps.select("doc_id", tokens(F.col("text")).alias("t"))
    grams = (
        toks.filter(F.size("t") >= DUP_NGRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {DUP_NGRAM_N - 1}),"
                    f" i -> concat_ws(' ', slice(t, i, {DUP_NGRAM_N})))"
                )
            ).alias("gram"),
        )
    )
    gram_docs = (
        grams.select("gram", "doc_id")
        .distinct()
        .join(
            members.select(F.col("rep").alias("doc_id"), "gsz"), "doc_id"
        )
        .groupBy("gram")
        .agg(F.sum("gsz").alias("n_docs"))
    )
    per_rep = (
        grams.join(gram_docs, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pos"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_pos"),
        )
        .withColumnRenamed("doc_id", "rep")
    )
    per_doc = (
        docs.select("doc_id", "source", F.md5("text").alias("fp"))
        .join(members.select("fp", "rep"), "fp")
        .join(per_rep, "rep")
        .select("doc_id", "source", "n_pos", "dup_pos")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_pos").cast("bigint").alias("total_positions"),
            F.sum("dup_pos").cast("bigint").alias("dup_positions"),
            F.round(F.sum("dup_pos") / F.sum("n_pos"), 6).alias(
                "dup_fraction"
            ),
            F.sum(
                F.when(2 * F.col("dup_pos") > F.col("n_pos"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_majority_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Exact Gini coefficient per region.
# ---------------------------------------------------------------------------


@register(
    "customer_gini_by_region",
    oracle="""
    WITH bal AS (
      SELECT r.r_name AS region_name,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS x
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE c.c_acctbal > 0
    ), ranked AS (
      SELECT region_name, x,
             CAST(row_number() OVER (PARTITION BY region_name ORDER BY x)
                  AS BIGINT) AS i
      FROM bal
    )
    SELECT region_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(x) AS DOUBLE) AS total_balance,
           ROUND(2.0 * CAST(SUM(i * x) AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    GROUP BY region_name
    """,
)
def customer_gini_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of positive account balances per region —
    the canonical inequality measure, from the rank-weighted closed
    form G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n over ascending-sorted
    balances.

    Determinism: both the rank-weighted sum and the total run in
    DECIMAL (rank BIGINT x DECIMAL(18,2) balance), so accumulation
    order cannot move them; ties in balance leave sum(i*x) invariant
    (equal x across a tie block, and the block's rank-sum is fixed).
    The only floats are two final divides, then the 6-dp round.

    Scale: the sort is PARTITIONED (per region) — a window sort within
    each region's shuffle partition, never a global range exchange.
    Regions are few, so region skew is the bound; for a high-skew
    grouping key the same shape works off any finer partition column
    with a merge of per-bucket (n, sum, rank-sum) triples.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("x"),
        )
    )
    w = W.partitionBy("region_name").orderBy("x")
    ranked = bal.select(
        "region_name",
        "x",
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    n = F.count(F.lit(1))
    sum_x = F.sum("x").cast("double")
    sum_ix = F.sum(F.col("i") * F.col("x")).cast("double")
    return ranked.groupBy("region_name").agg(
        n.cast("bigint").alias("n_customers"),
        sum_x.alias("total_balance"),
        F.round(
            F.lit(2.0) * sum_ix / (n * sum_x) - (n + F.lit(1.0)) / n, 6
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Grouped OLS: discount elasticity of quantity per brand.
# ---------------------------------------------------------------------------


@register(
    "brand_discount_elasticity",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(regr_slope(l.l_quantity, l.l_discount), 6) AS slope,
           ROUND(regr_intercept(l.l_quantity, l.l_discount), 6)
             AS intercept,
           ROUND(corr(l.l_quantity, l.l_discount), 6) AS pearson_r
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def brand_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of quantity on discount — the grouped-regression
    twin of token_zipf_fit's global fit: does a deeper discount move
    quantity, brand by brand?

    Scale: regr_slope/regr_intercept/corr are mergeable moment
    aggregates (sum, sum-of-squares, cross-product), so the plan is a
    broadcast part join followed by ONE map-side-combined hash
    aggregate on the 25-value brand key — the grouped-OLS idiom that
    replaces per-group model fitting with a single pass. Moment-sum
    ordering drift across engines is ~1e-12 relative, inside the 6-dp
    round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    joined = li.join(part, li.l_partkey == part.p_partkey)
    q, d = F.col("l_quantity"), F.col("l_discount")
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        F.round(F.regr_slope(q, d), 6).alias("slope"),
        F.round(F.regr_intercept(q, d), 6).alias("intercept"),
        F.round(F.corr(q, d), 6).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz-style runs audit over exact daily revenue.
# ---------------------------------------------------------------------------


@register(
    "daily_revenue_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY 1, 2
    ), diffs AS (
      SELECT yr, d, rev,
             rev - lag(rev) OVER (PARTITION BY yr ORDER BY d) AS diff
      FROM daily
    ), signs AS (
      SELECT yr, d,
             CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
      FROM diffs WHERE diff IS NOT NULL AND diff <> 0
    ), runs AS (
      SELECT yr, s,
             CASE WHEN lag(s) OVER (PARTITION BY yr ORDER BY d) IS NULL
                       OR lag(s) OVER (PARTITION BY yr ORDER BY d) <> s
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    )
    SELECT yr AS year,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down,
           CAST(SUM(new_run) AS BIGINT) AS n_runs,
           ROUND(1.0 + 2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                           * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                           / COUNT(*), 6) AS expected_runs
    FROM runs
    GROUP BY yr
    """,
)
def daily_revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz-style runs audit of the daily revenue series,
    per year: count maximal same-direction blocks among up/down moves
    and compare with the expected run count under randomness
    (1 + 2*n_up*n_down/n). Far fewer runs than expected means
    trending; far more means oscillation — a one-pass randomness
    smell test on a revenue series.

    Determinism: daily revenue is an exact DECIMAL sum, so move
    direction (the ONLY set-membership gate) is an exact comparison —
    no float boundary anywhere. Run starts come from a second lag over
    the same per-year order.

    Scale: the raw scan collapses to |days| rows in one aggregate;
    both windows are partitioned BY YEAR (bounded frames, no global
    sort) and collapse into two Window operators over a few hundred
    rows per partition regardless of order volume.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    wy = W.partitionBy("yr").orderBy("d")
    diffs = daily.select(
        "yr", "d", (F.col("rev") - F.lag("rev").over(wy)).alias("diff")
    )
    signs = diffs.filter(
        F.col("diff").isNotNull() & (F.col("diff") != 0)
    ).select(
        "yr", "d", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("s")
    )
    prev_s = F.lag("s").over(wy)
    runs = signs.select(
        "yr",
        "s",
        F.when(prev_s.isNull() | (prev_s != F.col("s")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    n_up = F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
    n_down = F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
    n = F.count(F.lit(1))
    return runs.groupBy(F.col("yr").alias("year")).agg(
        n.cast("bigint").alias("n_moves"),
        n_up.cast("bigint").alias("n_up"),
        n_down.cast("bigint").alias("n_down"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
        F.round(
            F.lit(1.0) + F.lit(2.0) * n_up * n_down / n, 6
        ).alias("expected_runs"),
    )


# ---------------------------------------------------------------------------
# Pareto 80/20 revenue concentration per nation.
# ---------------------------------------------------------------------------


@register(
    "nation_revenue_pareto",
    oracle="""
    WITH cust_rev AS (
      SELECT n.n_name AS nation_name, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT nation_name, rev,
             SUM(rev) OVER (PARTITION BY nation_name
                            ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER (PARTITION BY nation_name) AS tot,
             COUNT(*) OVER (PARTITION BY nation_name) AS n_cust
      FROM cust_rev
    )
    SELECT nation_name,
           CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           CAST(MAX(tot) AS DOUBLE) AS total_revenue,
           CAST(MIN(k) AS BIGINT) AS top_customers_for_80pct,
           ROUND(CAST(MIN(k) AS DOUBLE) / MAX(n_cust), 6)
             AS pareto_share
    FROM (
      SELECT nation_name, n_cust, tot,
             row_number() OVER (PARTITION BY nation_name
                                ORDER BY cum, rev DESC) AS k,
             cum
      FROM ranked
    )
    WHERE 5 * cum >= 4 * tot
    GROUP BY nation_name
    """,
)
def nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per nation: the smallest number of top
    customers whose combined revenue reaches 80% of the nation's
    total, and the share of the customer base they represent (the
    "does the 80/20 rule hold?" audit).

    Determinism: per-customer revenue and every cumulative/total sum
    stay in DECIMAL end-to-end, and the 80% boundary is cross-
    multiplied in DECIMAL (5*cum >= 4*tot) — exact on both engines.
    Revenue ties at the boundary are broken by custkey in the
    cumulative order, and the inner rank orders by the exact cum
    value, so k is unique.

    Scale: per-customer revenue is one map-side-combined aggregate;
    the window sorts |customers| rows PER NATION inside each hash
    partition — no global exchange. The boundary scan then reduces
    each nation to one row.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust_rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev")
        )
    )
    wcum = (
        W.partitionBy("nation_name")
        .orderBy(F.col("rev").desc(), "o_custkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("nation_name")
    ranked = cust_rev.select(
        "nation_name",
        "rev",
        F.sum("rev").over(wcum).alias("cum"),
        F.sum("rev").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n_cust"),
    )
    wk = W.partitionBy("nation_name").orderBy("cum", F.col("rev").desc())
    return (
        ranked.select(
            "nation_name",
            "n_cust",
            "tot",
            "cum",
            F.row_number().over(wk).alias("k"),
        )
        .filter(5 * F.col("cum") >= 4 * F.col("tot"))
        .groupBy("nation_name")
        .agg(
            F.max("n_cust").cast("bigint").alias("n_customers"),
            F.max("tot").cast("double").alias("total_revenue"),
            F.min("k").cast("bigint").alias("top_customers_for_80pct"),
            F.round(
                F.min("k").cast("double") / F.max("n_cust"), 6
            ).alias("pareto_share"),
        )
    )


# ---------------------------------------------------------------------------
# Lorenz deciles per market segment.
# ---------------------------------------------------------------------------


@register(
    "segment_lorenz_deciles",
    oracle="""
    WITH cust_rev AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), tiled AS (
      SELECT c_mktsegment, rev,
             ntile(10) OVER (PARTITION BY c_mktsegment
                             ORDER BY rev, o_custkey) AS decile
      FROM cust_rev
    )
    SELECT c_mktsegment, CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev) AS DOUBLE) AS decile_revenue,
           ROUND(CAST(SUM(rev) AS DOUBLE)
                 / CAST(SUM(SUM(rev)) OVER (PARTITION BY c_mktsegment)
                        AS DOUBLE), 6) AS revenue_share
    FROM tiled
    GROUP BY c_mktsegment, decile
    """,
)
def segment_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles per market segment: customers bucketed into
    revenue deciles (ascending), with each decile's share of segment
    revenue — the tabular Lorenz curve whose extremes quantify the
    Gini that customer_gini_by_region summarizes in one number.

    Determinism: ntile runs over a UNIQUE order (rev, custkey), so
    bucket assignment is fixed; decile revenues are exact DECIMAL
    sums; the share divides two exact decimals once. The share's
    window-over-aggregate (SUM of SUM) reuses the grouped rows — no
    second scan.

    Scale: per-customer revenue is one map-side-combined aggregate;
    ntile sorts within each segment's hash partition (5 segments = the
    skew bound, same contract as the Gini); the decile rollup then
    aggregates 50 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cust_rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev")
        )
    )
    wt = W.partitionBy("c_mktsegment").orderBy("rev", "o_custkey")
    tiled = cust_rev.select(
        "c_mktsegment", "rev", F.ntile(10).over(wt).alias("decile")
    )
    grouped = tiled.groupBy(
        "c_mktsegment", F.col("decile").cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").alias("rev_dec"),
    )
    wseg = W.partitionBy("c_mktsegment")
    return grouped.select(
        "c_mktsegment",
        "decile",
        "n_customers",
        F.col("rev_dec").cast("double").alias("decile_revenue"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wseg).cast("double"),
            6,
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# Type-token ratio / Herdan's C per source.
# ---------------------------------------------------------------------------


@register(
    "text_ttr_by_source",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,
           ROUND(COUNT(DISTINCT token) * 1.0 / COUNT(*), 6) AS ttr,
           ROUND(ln(COUNT(DISTINCT token)) / ln(COUNT(*)), 6) AS herdan_c
    FROM tok
    GROUP BY source
    """,
)
def text_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity audit per source: type-token ratio and
    Herdan's C (log V / log N — the length-robust variant). Templated
    or looping generations crater both; natural text sits on a stable
    Herdan line — a cheap generated-text detector per corpus slice.

    Determinism: both metrics are ratios of exact integer counts.

    Scale: COUNT(DISTINCT) plans as the standard two-phase expand
    (partial distinct on (source, token), then merge) — token-keyed
    shuffles of counts, never raw text.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    n = F.count(F.lit(1))
    v = F.countDistinct("token")
    return tok.groupBy("source").agg(
        n.cast("bigint").alias("n_tokens"),
        v.cast("bigint").alias("n_types"),
        F.round(v / n, 6).alias("ttr"),
        F.round(F.log(v) / F.log(n), 6).alias("herdan_c"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation per event type.
# ---------------------------------------------------------------------------


@register(
    "events_autocorr_lag1",
    oracle="""
    WITH lagged AS (
      SELECT event_type, value,
             lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS prev
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(corr(value, prev), 6) AS autocorr_lag1,
           ROUND(regr_slope(value, prev), 6) AS ar1_coef,
           ROUND(regr_intercept(value, prev), 6) AS ar1_intercept
    FROM lagged WHERE prev IS NOT NULL
    GROUP BY event_type
    """,
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation and the fitted AR(1) coefficient per
    event type — the first thing to check before modeling a series as
    i.i.d. (and the companion to events_ewma_fir: high autocorrelation
    is when smoothing pays).

    Determinism: (event_type, ts) is unique so the lag pairing is
    fixed; corr/regr_* are moment aggregates whose cross-engine
    summation drift is ~1e-12, inside the 6-dp round.

    Scale: one shuffle on event_type, one window sort per type, then a
    map-side-combined moment aggregate — the same single-pass grouped
    regression shape as brand_discount_elasticity.
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts")
    lagged = events.select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    val, prev = F.col("value"), F.col("prev")
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.corr(val, prev), 6).alias("autocorr_lag1"),
        F.round(F.regr_slope(val, prev), 6).alias("ar1_coef"),
        F.round(F.regr_intercept(val, prev), 6).alias("ar1_intercept"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F across part sizes.
# ---------------------------------------------------------------------------


@register(
    "part_size_price_anova",
    oracle="""
    WITH g AS (
      SELECT p_size,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS s,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(p_retailprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,4)) AS ss
      FROM part GROUP BY p_size
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
           CAST(SUM(n) AS BIGINT) AS n_total,
           ROUND((SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                  - CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
                    / SUM(n))
                 / (COUNT(*) - 1)
                 / ((CAST(SUM(ss) AS DOUBLE)
                     - SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n))
                    / (SUM(n) - COUNT(*))), 6) AS f_stat,
           ROUND((SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                  - CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
                    / SUM(n))
                 / (CAST(SUM(ss) AS DOUBLE)
                    - CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
                      / SUM(n)), 6) AS eta_squared
    FROM g
    """,
)
def part_size_price_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of retail price across the 50 part sizes: F
    statistic (between-group vs within-group variance) and eta-squared
    (variance explained) — does size drive price at all?

    The whole test reduces to per-group (n, sum, sum-of-squares) —
    mergeable DECIMAL-exact partials — so every between/within term is
    algebra over 50 exact rows; only the final division chain is
    float. Cross-engine determinism: the decimal partials are exact,
    and the closing arithmetic, while float, is the SAME expression
    over identical inputs on both engines.

    Scale: one map-side-combined aggregate over the scan, then a
    50-row reduction to a single result row (the allowlisted one-row
    final exchange).
    """
    part = load_table(spark, sf_dir, "part")
    p = F.col("p_retailprice").cast("decimal(18,2)")
    g = part.groupBy("p_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(p).cast("decimal(38,2)").alias("s"),
        F.sum(p * p).cast("decimal(38,4)").alias("ss"),
    )
    sd = F.col("s").cast("double")
    group_term = F.sum(sd * sd / F.col("n"))
    grand_s = F.sum("s").cast("double")
    n_tot = F.sum("n")
    k = F.count(F.lit(1))
    ssb = group_term - grand_s * grand_s / n_tot
    ssw = F.sum("ss").cast("double") - group_term
    sst = F.sum("ss").cast("double") - grand_s * grand_s / n_tot
    return g.agg(
        k.cast("bigint").alias("k_groups"),
        n_tot.cast("bigint").alias("n_total"),
        F.round((ssb / (k - 1)) / (ssw / (n_tot - k)), 6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov statistic per region.
# ---------------------------------------------------------------------------

KS_SEGMENT = "BUILDING"


@register(
    "customer_balance_ks_region",
    oracle=f"""
    WITH labeled AS (
      SELECT r.r_name AS region_name,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
             CASE WHEN c.c_mktsegment = '{KS_SEGMENT}' THEN 1 ELSE 0
               END AS in_a
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ), per_val AS (
      SELECT region_name, bal,
             CAST(SUM(in_a) AS BIGINT) AS a_here,
             CAST(SUM(1 - in_a) AS BIGINT) AS b_here
      FROM labeled GROUP BY 1, 2
    ), ecdf AS (
      SELECT region_name,
             SUM(a_here) OVER (PARTITION BY region_name ORDER BY bal
                               ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(b_here) OVER (PARTITION BY region_name ORDER BY bal
                               ROWS UNBOUNDED PRECEDING) AS cb,
             SUM(a_here) OVER (PARTITION BY region_name) AS na,
             SUM(b_here) OVER (PARTITION BY region_name) AS nb
      FROM per_val
    )
    SELECT region_name,
           CAST(MAX(na) AS BIGINT) AS n_segment,
           CAST(MAX(nb) AS BIGINT) AS n_rest,
           CAST(MAX(abs(ca * nb - cb * na)) AS BIGINT) AS ks_numerator,
           ROUND(CAST(MAX(abs(ca * nb - cb * na)) AS DOUBLE)
                 / (MAX(na) * MAX(nb)), 6) AS ks_stat
    FROM ecdf
    GROUP BY region_name
    """,
)
def customer_balance_ks_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per region:
    does the BUILDING segment's account-balance distribution differ from
    the rest of the region? D = max |ECDF_a - ECDF_b|, evaluated the
    EXACT way — per DISTINCT balance (so ties contribute their full
    step before comparison), with the max taken over the integer
    numerator |ca*nb - cb*na| and divided once at the end. No float
    enters until the final ratio: the statistic is exact on both
    engines by construction.

    Scale: the same pre-aggregate-then-cumulate shape as the weighted
    median — per-(region, value) counts first (map-side combine), the
    window then walks distinct values only. KS over a 100 TB column
    never sorts raw rows.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    labeled = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
            F.when(F.col("c_mktsegment") == KS_SEGMENT, 1)
            .otherwise(0)
            .alias("in_a"),
        )
    )
    per_val = labeled.groupBy("region_name", "bal").agg(
        F.sum("in_a").cast("bigint").alias("a_here"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("b_here"),
    )
    wcum = (
        W.partitionBy("region_name")
        .orderBy("bal")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("region_name")
    ecdf = per_val.select(
        "region_name",
        F.sum("a_here").over(wcum).alias("ca"),
        F.sum("b_here").over(wcum).alias("cb"),
        F.sum("a_here").over(wall).alias("na"),
        F.sum("b_here").over(wall).alias("nb"),
    )
    num = F.max(
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    )
    return ecdf.groupBy("region_name").agg(
        F.max("na").cast("bigint").alias("n_segment"),
        F.max("nb").cast("bigint").alias("n_rest"),
        num.cast("bigint").alias("ks_numerator"),
        F.round(
            num.cast("double") / (F.max("na") * F.max("nb")), 6
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Median / MAD robust outliers per region.
# ---------------------------------------------------------------------------

MAD_K = 3


@register(
    "customer_balance_mad_outliers",
    oracle=f"""
    WITH bal AS (
      SELECT r.r_name AS region_name,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ), med AS (
      SELECT region_name, MIN(bal) AS median_bal
      FROM (
        SELECT region_name, bal,
               SUM(cnt) OVER (PARTITION BY region_name ORDER BY bal
                              ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY region_name) AS tot
        FROM (SELECT region_name, bal, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM bal GROUP BY 1, 2)
      ) WHERE 2 * cum >= tot
      GROUP BY region_name
    ), dev AS (
      SELECT b.region_name, b.bal,
             abs(b.bal - m.median_bal) AS adev, m.median_bal
      FROM bal b JOIN med m USING (region_name)
    ), mad AS (
      SELECT region_name, MIN(adev) AS mad_val
      FROM (
        SELECT region_name, adev,
               SUM(cnt) OVER (PARTITION BY region_name ORDER BY adev
                              ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY region_name) AS tot
        FROM (SELECT region_name, adev, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM dev GROUP BY 1, 2)
      ) WHERE 2 * cum >= tot
      GROUP BY region_name
    )
    SELECT d.region_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MAX(d.median_bal) AS DOUBLE) AS median_bal,
           CAST(MAX(a.mad_val) AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.adev > {MAD_K} * a.mad_val THEN 1 ELSE 0
                    END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (region_name)
    GROUP BY d.region_name
    """,
)
def customer_balance_mad_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust outlier census per region: lower-median balance, median
    absolute deviation (MAD), and the count of customers beyond
    3xMAD — the estimator that survives the very outliers a
    mean/stddev gate is wrecked by.

    Determinism: both medians come from the distinct-value cumulative-
    count construction with the integer cross-multiplied boundary
    (2*cum >= tot); deviations, the MAD, and the 3xMAD outlier gate
    all stay in exact DECIMAL — there is no float anywhere in set
    membership, only in the two display casts.

    Scale: two rounds of the pre-aggregate-then-cumulate median (each
    windows over DISTINCT values per region), one broadcast-size
    median table joined back, one counting aggregate. Raw rows are
    scanned, never sorted.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    bal = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        counts = df.groupBy("region_name", col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        wcum = (
            W.partitionBy("region_name")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        wall = W.partitionBy("region_name")
        cum = counts.select(
            "region_name",
            col,
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(wall).alias("tot"),
        )
        return (
            cum.filter(2 * F.col("cum") >= F.col("tot"))
            .groupBy("region_name")
            .agg(F.min(col).alias(out))
        )

    med = lower_median(bal, "bal", "median_bal")
    dev = bal.join(F.broadcast(med), "region_name").select(
        "region_name",
        "bal",
        "median_bal",
        F.abs(F.col("bal") - F.col("median_bal")).alias("adev"),
    )
    mad = lower_median(dev, "adev", "mad_val")
    return (
        dev.join(F.broadcast(mad), "region_name")
        .groupBy("region_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.max("median_bal").cast("double").alias("median_bal"),
            F.max("mad_val").cast("double").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > MAD_K * F.col("mad_val"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining: PMI of part-name word pairs.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5


@register(
    "part_name_bigram_pmi",
    oracle=f"""
    WITH pairs AS (
      SELECT regexp_extract_all(lower(p_name), '[a-z0-9]+')[1] AS w1,
             regexp_extract_all(lower(p_name), '[a-z0-9]+')[2] AS w2
      FROM part
      WHERE len(regexp_extract_all(lower(p_name), '[a-z0-9]+')) >= 2
    ), joint AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM pairs GROUP BY w1, w2
    ), left_m AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_x FROM pairs GROUP BY w1
    ), right_m AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS c_y FROM pairs GROUP BY w2
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs)
    SELECT j.w1, j.w2, j.c_xy,
           ROUND(ln(CAST(j.c_xy AS DOUBLE) * n / (l.c_x * r.c_y)), 6)
             AS pmi,
           ROUND(ln(CAST(j.c_xy AS DOUBLE) * n / (l.c_x * r.c_y))
                 / (-ln(CAST(j.c_xy AS DOUBLE) / n)), 6) AS npmi
    FROM joint j
    JOIN left_m l USING (w1) JOIN right_m r USING (w2) CROSS JOIN tot
    WHERE j.c_xy >= {PMI_MIN_COUNT}
    """,
)
def part_name_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over part names: pointwise mutual
    information (and its [-1,1]-normalized variant NPMI) of each
    (first-word, second-word) pair — which adjective-noun pairings are
    genuinely associated vs incidental. The same operator mines
    collocations for tokenizer merge seeding on a text corpus.

    Determinism: all four inputs to the PMI log are exact integer
    counts; membership gates on an integer count floor; the log
    expression is identical on both engines, then rounded.

    Scale: three map-side-combined counting aggregates off one pair
    extraction, two hash joins keyed on the marginal words (each
    marginal table is vocabulary-sized — Catalyst picks broadcast when
    small, shuffle-hash when not; no forced hint, per the TF-IDF
    lesson), one broadcast scalar total.
    """
    part = load_table(spark, sf_dir, "part")
    toks = tokens(F.col("p_name"))
    pairs = part.filter(F.size(toks) >= 2).select(
        F.element_at(toks, 1).alias("w1"),
        F.element_at(toks, 2).alias("w2"),
    )
    joint = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    left_m = pairs.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_x")
    )
    right_m = pairs.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_y")
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pmi = F.log(
        F.col("c_xy").cast("double") * F.col("n") / (F.col("c_x") * F.col("c_y"))
    )
    denom = -F.log(F.col("c_xy").cast("double") / F.col("n"))
    return (
        joint.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(left_m, "w1")
        .join(right_m, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(pmi, 6).alias("pmi"),
            F.round(pmi / denom, 6).alias("npmi"),
        )
    )


# ---------------------------------------------------------------------------
# Exact Mann-Whitney U per region (tie-corrected, integer-exact).
# ---------------------------------------------------------------------------


_MANNWHITNEY_ORACLE = f"""
    WITH labeled AS (
      SELECT r.r_name AS region_name,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
             CASE WHEN c.c_mktsegment = '{KS_SEGMENT}' THEN 1 ELSE 0
               END AS in_a
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ), per_val AS (
      SELECT region_name, bal,
             CAST(SUM(in_a) AS BIGINT) AS a_here,
             CAST(COUNT(*) AS BIGINT) AS c_here
      FROM labeled GROUP BY 1, 2
    ), ranked AS (
      SELECT region_name, a_here, c_here,
             SUM(c_here) OVER (PARTITION BY region_name ORDER BY bal
                               ROWS UNBOUNDED PRECEDING) - c_here
               AS cum_before,
             SUM(a_here) OVER (PARTITION BY region_name) AS na,
             SUM(c_here) OVER (PARTITION BY region_name) AS n_all
      FROM per_val
    )
    SELECT region_name,
           CAST(MAX(na) AS BIGINT) AS n_segment,
           CAST(MAX(n_all - na) AS BIGINT) AS n_rest,
           CAST(SUM(a_here * (2 * cum_before + c_here + 1))
                - MAX(na) * (MAX(na) + 1) AS BIGINT) AS u2,
           ROUND((CAST(SUM(a_here * (2 * cum_before + c_here + 1))
                       - MAX(na) * (MAX(na) + 1) AS DOUBLE)
                  / (MAX(na) * MAX(n_all - na))) - 1.0, 6)
             AS rank_biserial
    FROM ranked
    GROUP BY region_name
    """


@register("customer_balance_mannwhitney", oracle=_MANNWHITNEY_ORACLE)
def customer_balance_mannwhitney(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Mann-Whitney U per region for the same BUILDING-vs-rest
    split as the KS test, with midrank tie handling — the rank-sum
    complement to KS's max-gap view. Reported as u2 = 2*U (doubling
    keeps tie midranks integral, so the statistic is EXACT end-to-end)
    plus the rank-biserial effect size r = 2U/(na*nb) - 1 = u2/(na*nb)
    - 1.

    Determinism: tie blocks contribute a_here*(2*cum_before+cnt+1) —
    pure integers; the only float is the final effect-size division.

    Scale: identical shape to the KS query — per-(region, value)
    counts, a cumulative window over DISTINCT values, one closing
    aggregate. Rank statistics over 100 TB without ranking raw rows.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    labeled = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
            F.when(F.col("c_mktsegment") == KS_SEGMENT, 1)
            .otherwise(0)
            .alias("in_a"),
        )
    )
    per_val = labeled.groupBy("region_name", "bal").agg(
        F.sum("in_a").cast("bigint").alias("a_here"),
        F.count(F.lit(1)).cast("bigint").alias("c_here"),
    )
    wcum = (
        W.partitionBy("region_name")
        .orderBy("bal")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("region_name")
    ranked = per_val.select(
        "region_name",
        "a_here",
        "c_here",
        (F.sum("c_here").over(wcum) - F.col("c_here")).alias("cum_before"),
        F.sum("a_here").over(wall).alias("na"),
        F.sum("c_here").over(wall).alias("n_all"),
    )
    two_r = F.sum(
        F.col("a_here") * (2 * F.col("cum_before") + F.col("c_here") + 1)
    )
    na, nb = F.max("na"), F.max(F.col("n_all") - F.col("na"))
    u2 = two_r - na * (na + 1)
    return ranked.groupBy("region_name").agg(
        na.cast("bigint").alias("n_segment"),
        nb.cast("bigint").alias("n_rest"),
        u2.cast("bigint").alias("u2"),
        F.round(u2.cast("double") / (na * nb) - 1.0, 6).alias(
            "rank_biserial"
        ),
    )


# Escape hatch for low-cardinality window keys (round-3 verdict item 10):
# the cumulative pass above parallelizes only per region (5 tasks at any
# scale). The bucketed variant range-partitions the VALUE DOMAIN into
# DIST_CUM_BUCKETS cells, computes intra-bucket prefix sums in a window
# partitioned by (region, bucket) — regions x buckets tasks — and
# re-bases each bucket with per-bucket totals rolled up in a second,
# bucket-count-sized window. Same result, bounded by distinct values,
# no rangepartitioning; pinned equal to the plain kernel by
# tests/test_distribution.py::test_mannwhitney_bucketed_equals_plain.
DIST_CUM_BUCKETS = 32
DIST_CUM_BUCKET_WIDTH = 400  # c_acctbal in [-999.99, 9999.99] -> ~28 cells


def _bucketed_cumsum(
    per_val: DataFrame,
    part_col: str,
    value_col: str,
    sum_col: str,
    width: int,
) -> DataFrame:
    """Add ``cum`` = prefix sum of ``sum_col`` over ``value_col`` order
    within ``part_col``, via range-bucketed two-phase prefix sums."""
    bucket = F.floor(F.col(value_col) / width).alias("_bucket")
    pv = per_val.withColumn("_bucket", bucket)
    w_intra = (
        W.partitionBy(part_col, "_bucket")
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    intra = pv.withColumn("_intra", F.sum(sum_col).over(w_intra))
    totals = pv.groupBy(part_col, "_bucket").agg(
        F.sum(sum_col).alias("_btot")
    )
    w_buckets = (
        W.partitionBy(part_col)
        .orderBy("_bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = totals.select(
        part_col,
        "_bucket",
        (F.sum("_btot").over(w_buckets) - F.col("_btot")).alias("_boff"),
    )
    return (
        intra.join(F.broadcast(offsets), [part_col, "_bucket"])
        .withColumn("cum", F.col("_intra") + F.col("_boff"))
        .drop("_bucket", "_intra", "_boff")
    )


@register("customer_balance_mannwhitney_bucketed", oracle=_MANNWHITNEY_ORACLE)
def customer_balance_mannwhitney_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Mann-Whitney kernel re-run through the bucketed prefix-sum
    escape hatch (see _bucketed_cumsum): identical statistic, identical
    oracle, but the heavy cumulative window is partitioned by
    (region, value-bucket) — parallelism scales with the value domain
    instead of pinning to the 5 region keys. The per-bucket re-basing
    pass runs over |regions| x |buckets| rows (~140), broadcast back.

    Scale: this is the shape to reach for when the group key is
    low-cardinality OR skewed — the same two-phase decomposition the
    SemDedup rank fanout uses (similarity.py), specialized to ordered
    prefix sums. Kept alongside the plain kernel (the right default
    for 5-region TPC-H, where a second pass buys nothing).
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    labeled = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
            F.when(F.col("c_mktsegment") == KS_SEGMENT, 1)
            .otherwise(0)
            .alias("in_a"),
        )
    )
    per_val = labeled.groupBy("region_name", "bal").agg(
        F.sum("in_a").cast("bigint").alias("a_here"),
        F.count(F.lit(1)).cast("bigint").alias("c_here"),
    )
    cum = _bucketed_cumsum(
        per_val, "region_name", "bal", "c_here", DIST_CUM_BUCKET_WIDTH
    )
    # per-region totals as an aggregate + broadcast join, not a
    # region-partitioned window — keeps every operator off the 5-key
    # parallelism ceiling the escape hatch exists to avoid.
    totals = F.broadcast(
        per_val.groupBy("region_name").agg(
            F.sum("a_here").alias("na"), F.sum("c_here").alias("n_all")
        )
    )
    ranked = cum.join(totals, "region_name").select(
        "region_name",
        "a_here",
        "c_here",
        (F.col("cum") - F.col("c_here")).alias("cum_before"),
        "na",
        "n_all",
    )
    two_r = F.sum(
        F.col("a_here") * (2 * F.col("cum_before") + F.col("c_here") + 1)
    )
    na, nb = F.max("na"), F.max(F.col("n_all") - F.col("na"))
    u2 = two_r - na * (na + 1)
    return ranked.groupBy("region_name").agg(
        na.cast("bigint").alias("n_segment"),
        nb.cast("bigint").alias("n_rest"),
        u2.cast("bigint").alias("u2"),
        F.round(u2.cast("double") / (na * nb) - 1.0, 6).alias(
            "rank_biserial"
        ),
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness per event type.
# ---------------------------------------------------------------------------


@register(
    "event_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY event_type ORDER BY ts)) / 1e6 AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(AVG(gap_s), 6) AS mean_gap_s,
           ROUND(stddev_pop(gap_s), 6) AS sd_gap_s,
           ROUND(stddev_pop(gap_s) / AVG(gap_s), 6) AS cv,
           ROUND((stddev_pop(gap_s) - AVG(gap_s))
                 / (stddev_pop(gap_s) + AVG(gap_s)), 6) AS burstiness
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def event_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-arrival burstiness per event type: coefficient of
    variation of the gap series and the Goh-Barabasi burstiness index
    B = (sigma-mu)/(sigma+mu) — B near -1 is a metronome, 0 is
    Poisson, +1 is maximally bursty. The triage metric before
    choosing sessionization windows or stream watermarks.

    Determinism: gaps are exact integer microsecond differences
    divided by a constant (the same IEEE operation per row on both
    engines); the moment aggregates then drift ~1e-12 across
    summation orders, inside the 6-dp round.

    Scale (r11 rewrite, guide §2.5): PARTITION BY event_type over ~5
    types ran 5 single-threaded whole-type sorts (3.5/32 cores /
    63.3 s at sf100); the gaps are now computed by parallel
    per-(type, minute-bucket) windows, with each bucket-BOUNDARY gap
    (first ts of a bucket minus last ts of the previous non-empty
    bucket) contributed by a window over the tiny per-bucket min/max
    summary. Exact because per type the sorted-ts successive
    differences split precisely into within-bucket differences plus
    boundary differences when buckets are value ranges of ts; each
    gap stays the SAME integer-micros difference divided by the same
    constant, so the per-type gap multiset is bit-identical to the
    global-window form (ties in ts only ever produce zero gaps, and
    successive differences of a sorted multiset do not depend on tie
    order — pinned by test_bucketed_gaps_equal_global_window).
    """
    events = load_table(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = _bucketed_gap_values(events.select("event_type", micros.alias("m")))
    mu = F.avg("gap_s")
    sd = F.stddev_pop("gap_s")
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sd, 6).alias("sd_gap_s"),
        F.round(sd / mu, 6).alias("cv"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Monthly seasonality index of order revenue.
# ---------------------------------------------------------------------------


@register(
    "month_seasonality_index",
    oracle="""
    WITH monthly AS (
      SELECT CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS total_rev,
             CAST(COUNT(*) AS BIGINT) AS n_months
      FROM monthly
    )
    SELECT month, n_orders,
           CAST(rev AS DOUBLE) AS month_revenue,
           ROUND(CAST(rev AS DOUBLE) * n_months
                 / CAST(total_rev AS DOUBLE), 6) AS seasonal_index
    FROM monthly CROSS JOIN tot
    """,
)
def month_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal index by calendar month:
    month revenue relative to the mean month (index 1.0 = an average
    month). The companion to events_seasonal_naive_mape on the orders
    ledger, and the input a deseasonalized forecast divides by.

    Determinism: revenues are exact DECIMAL sums; the index divides
    two exact decimals (scaled by an integer month count) once.

    Scale: a 12-key map-side-combined aggregate, a one-row total
    broadcast back — the scan is touched once.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.month("o_orderdate").cast("int").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev"),
    )
    tot = monthly.agg(
        F.sum("rev").cast("decimal(38,2)").alias("total_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    return monthly.crossJoin(F.broadcast(tot)).select(
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("month_revenue"),
        F.round(
            F.col("rev").cast("double")
            * F.col("n_months")
            / F.col("total_rev").cast("double"),
            6,
        ).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language.
# ---------------------------------------------------------------------------


@register(
    "lang_token_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT lang, n_chars,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_tok), 6) AS chars_per_token,
           ROUND(SUM(n_tok) * 1.0 / COUNT(*), 6) AS tokens_per_doc
    FROM per_doc
    GROUP BY lang
    """,
)
def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per language: characters consumed per
    token and tokens per document. Fertility disparities across
    languages are the standard signal that a tokenizer (or here, the
    whitespace proxy) under-serves a script — the per-language twin of
    text_bpe_pretoken_stats.

    Determinism: ratios of exact integer sums, divided once.

    Scale: token counting never leaves the row (an array length, no
    explode); one map-side-combined aggregate on a 5-value key.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    per_doc = docs.select(
        "lang", "n_chars", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    chars, toks, n = F.sum("n_chars"), F.sum("n_tok"), F.count(F.lit(1))
    return per_doc.groupBy("lang").agg(
        n.cast("bigint").alias("n_docs"),
        chars.cast("bigint").alias("total_chars"),
        toks.cast("bigint").alias("total_tokens"),
        F.round(chars / toks, 6).alias("chars_per_token"),
        F.round(toks / n, 6).alias("tokens_per_doc"),
    )


# ---------------------------------------------------------------------------
# Exact length quartiles per source (distinct-value cumulative kernel).
# ---------------------------------------------------------------------------


@register(
    "doc_length_quartiles_by_source",
    oracle="""
    WITH counts AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ), cum AS (
      SELECT source, n_chars,
             SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY source) AS tot
      FROM counts
    )
    SELECT source,
           CAST(MAX(tot) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN 4 * c >= tot THEN n_chars END) AS BIGINT)
             AS p25,
           CAST(MIN(CASE WHEN 2 * c >= tot THEN n_chars END) AS BIGINT)
             AS p50,
           CAST(MIN(CASE WHEN 4 * c >= 3 * tot THEN n_chars END) AS BIGINT)
             AS p75,
           CAST(MIN(CASE WHEN 4 * c >= 3 * tot THEN n_chars END)
                - MIN(CASE WHEN 4 * c >= tot THEN n_chars END) AS BIGINT)
             AS iqr
    FROM cum
    GROUP BY source
    """,
)
def doc_length_quartiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT length quartiles (lower-quantile convention) and IQR per
    source — the length-profile audit behind curation length cuts,
    computed without any approximation and without sorting raw rows:
    all three quartiles fall out of ONE distinct-value cumulative
    window with integer cross-multiplied boundaries (4c>=t, 2c>=t,
    4c>=3t) read off as conditional MINs in a single aggregate.

    Contrast: approx_percentile_prices shows the sketch path;
    percentiles_lineitem_price the global-exact path; this is the
    grouped-exact path — the third corner of the percentile
    trade-off triangle, and the only one that is both exact and
    shuffle-bounded by distinct values.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        W.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("source")
    cum = counts.select(
        "source",
        "n_chars",
        F.sum("cnt").over(wcum).alias("c"),
        F.sum("cnt").over(wall).alias("tot"),
    )
    q = lambda cond: F.min(F.when(cond, F.col("n_chars")))  # noqa: E731
    p25 = q(4 * F.col("c") >= F.col("tot"))
    p50 = q(2 * F.col("c") >= F.col("tot"))
    p75 = q(4 * F.col("c") >= 3 * F.col("tot"))
    return cum.groupBy("source").agg(
        F.max("tot").cast("bigint").alias("n_docs"),
        p25.cast("bigint").alias("p25"),
        p50.cast("bigint").alias("p50"),
        p75.cast("bigint").alias("p75"),
        (p75 - p25).cast("bigint").alias("iqr"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source sampling weights.
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.7


@register(
    "source_sampling_temperature",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                  AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n FROM tok),
    scaled AS (
      SELECT source, n_tok,
             pow(n_tok * 1.0 / n, {MIX_ALPHA}) AS pw
      FROM tok CROSS JOIN tot
    )
    SELECT source, n_tok,
           ROUND(pw / SUM(pw) OVER (), 6) AS sample_weight,
           ROUND(pw / SUM(pw) OVER ()
                 / (n_tok * 1.0 / (SELECT n FROM tot)), 6) AS upweight
    FROM scaled
    """,
)
def source_sampling_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponential-smoothed sampling weights per source (alpha=0.7,
    the mBERT/mC4 multilingual recipe): raise each source's token
    share to alpha < 1 and renormalize, flattening the mixture so
    low-resource sources are seen more often. ``upweight`` is the
    resulting boost over proportional sampling — the number a
    data-mixing plan reports.

    Determinism: token shares are exact integer ratios; pow and the
    final normalization are identical IEEE expressions on both
    engines, rounded to 6 dp (pow ULP differences sit ~1e-16
    relative).

    Scale: per-source token totals are one map-side-combined
    aggregate (array length per row, no explode); the normalization
    window runs over |sources| rows — the allowlisted final-exchange
    pattern would apply, but with 20 rows the plan's single partition
    IS the result shape (listed under ALLOW).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("n_tok")
    )
    tot = tok.agg(F.sum("n_tok").cast("bigint").alias("n"))
    scaled = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        F.pow(F.col("n_tok") * F.lit(1.0) / F.col("n"), MIX_ALPHA).alias(
            "pw"
        ),
        (F.col("n_tok") * F.lit(1.0) / F.col("n")).alias("p_prop"),
    )
    wall = W.partitionBy()
    return scaled.select(
        "source",
        "n_tok",
        F.round(F.col("pw") / F.sum("pw").over(wall), 6).alias(
            "sample_weight"
        ),
        F.round(
            F.col("pw") / F.sum("pw").over(wall) / F.col("p_prop"), 6
        ).alias("upweight"),
    )


# ---------------------------------------------------------------------------
# Shannon entropy of the event-type mix per hour of day.
# ---------------------------------------------------------------------------


@register(
    "events_hourly_entropy",
    oracle="""
    WITH mix AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
             event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT hour_of_day, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM mix GROUP BY 1
    )
    SELECT m.hour_of_day,
           CAST(MAX(t.n) AS BIGINT) AS n_events,
           CAST(MAX(t.k) AS BIGINT) AS n_types,
           ROUND(-SUM((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS entropy_nats,
           ROUND(-SUM((c * 1.0 / n) * ln(c * 1.0 / n)) / ln(MAX(t.k)), 6)
             AS evenness
    FROM mix m JOIN tot t USING (hour_of_day)
    GROUP BY m.hour_of_day
    """,
)
def events_hourly_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and Pielou evenness, entropy / ln k) of the
    event-type mix per hour of day — does the traffic composition
    shift by hour, or only its volume? The weekday-by-hour profile
    gives volume; this gives mix.

    Determinism: shares are exact integer ratios; the entropy sums 5
    O(1) log terms — drift far inside the 6-dp round.

    Scale: a 24x5-key count, a 24-key total joined back (Catalyst
    broadcasts the 24-row side), one closing aggregate per hour.
    """
    events = load_table(spark, sf_dir, "events")
    mix = events.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = mix.groupBy("hour_of_day").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    p = F.col("c") * F.lit(1.0) / F.col("n")
    ent = -F.sum(p * F.log(p))
    return (
        mix.join(F.broadcast(tot), "hour_of_day")
        .groupBy("hour_of_day")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("k").cast("bigint").alias("n_types"),
            F.round(ent, 6).alias("entropy_nats"),
            F.round(ent / F.log(F.max("k")), 6).alias("evenness"),
        )
    )


# ---------------------------------------------------------------------------
# Inverse-Simpson diversity of customer nations per segment.
# ---------------------------------------------------------------------------


@register(
    "segment_nation_simpson",
    oracle="""
    WITH mix AS (
      SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(SUM(c) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           ROUND(CAST(SUM(c) AS DOUBLE) * SUM(c) / SUM(c * c), 6)
             AS inverse_simpson,
           ROUND(CAST(SUM(c) AS DOUBLE) * SUM(c) / SUM(c * c) / COUNT(*), 6)
             AS simpson_evenness
    FROM mix
    GROUP BY c_mktsegment
    """,
)
def segment_nation_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-Simpson diversity of each market segment's nation mix —
    the "effective number of nations" a segment draws customers from
    (N^2 / sum(c_i^2)), with evenness = that / the actual nation
    count. The diversity number ecology and data-mixing reports both
    use; unlike entropy it is a ratio of EXACT integers, float only in
    the final division.

    Scale: a (segment, nation)-key count with map-side combine, then a
    5-key closing aggregate — two shuffles of count rows.
    """
    customer = load_table(spark, sf_dir, "customer")
    mix = customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = F.sum("c")
    inv_simpson = n.cast("double") * n / F.sum(F.col("c") * F.col("c"))
    return mix.groupBy("c_mktsegment").agg(
        n.cast("bigint").alias("n_customers"),
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.round(inv_simpson, 6).alias("inverse_simpson"),
        F.round(inv_simpson / F.count(F.lit(1)), 6).alias(
            "simpson_evenness"
        ),
    )


# ---------------------------------------------------------------------------
# Cramér's V association between part type and brand.
# ---------------------------------------------------------------------------


@register(
    "part_type_brand_cramers_v",
    oracle="""
    WITH obs AS (
      SELECT p_type, p_brand, CAST(COUNT(*) AS BIGINT) AS o
      FROM part GROUP BY 1, 2
    ), rm AS (
      SELECT p_type, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1
    ), cm AS (
      SELECT p_brand, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1
    ), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT rm.p_type, cm.p_brand, rm.rt, cm.ct, tot.n,
             COALESCE(obs.o, 0) AS o
      FROM rm CROSS JOIN cm CROSS JOIN tot
      LEFT JOIN obs ON obs.p_type = rm.p_type AND obs.p_brand = cm.p_brand
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
           ROUND(SUM(pow(o - CAST(rt AS DOUBLE) * ct / n, 2)
                     / (CAST(rt AS DOUBLE) * ct / n)), 6) AS chi2,
           ROUND(sqrt(SUM(pow(o - CAST(rt AS DOUBLE) * ct / n, 2)
                          / (CAST(rt AS DOUBLE) * ct / n))
                      / (MAX(n) * (LEAST(COUNT(DISTINCT p_type),
                                         COUNT(DISTINCT p_brand)) - 1))),
                 6) AS cramers_v
    FROM grid
    """,
)
def part_type_brand_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between part type and brand — the
    normalized chi-squared that answers "are these two categorical
    columns redundant?" on a 0 (independent) to 1 (determined) scale.
    The categorical twin of the source_length_chi2 audit, built on the
    same dense-grid discipline: zero-observed cells still contribute
    their expected counts (the r2 review-pass lesson).

    Determinism: observed counts and both margins are exact integers;
    each cell's chi2 term is the same float expression on both
    engines, summed over a fixed small grid and rounded.

    Scale: margins and cells are map-side-combined counts; the dense
    grid is margins-cross-margins (category-cardinality rows, NOT data
    rows) left-joined to observed cells — data is scanned once.
    """
    part = load_table(spark, sf_dir, "part")
    obs = part.groupBy("p_type", "p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rm = obs.groupBy("p_type").agg(F.sum("o").cast("bigint").alias("rt"))
    cm = obs.groupBy("p_brand").agg(F.sum("o").cast("bigint").alias("ct"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        rm.crossJoin(cm)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["p_type", "p_brand"], "left")
        .select(
            "p_type",
            "p_brand",
            "rt",
            "ct",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    chi2 = F.sum(F.pow(F.col("o") - exp, 2) / exp)
    r = F.countDistinct("p_type")
    c = F.countDistinct("p_brand")
    return grid.agg(
        F.max("n").cast("bigint").alias("n_parts"),
        r.cast("bigint").alias("n_types"),
        c.cast("bigint").alias("n_brands"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.max("n") * (F.least(r, c) - 1))), 6
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Weekday effect on order value.
# ---------------------------------------------------------------------------


@register(
    "orders_weekday_effect",
    oracle="""
    WITH wk AS (
      SELECT CAST(isodow(o_orderdate) AS INTEGER) AS iso_weekday,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS trev,
             CAST(SUM(n_orders) AS BIGINT) AS tn
      FROM wk
    )
    SELECT iso_weekday, n_orders,
           ROUND(CAST(rev AS DOUBLE) / n_orders, 6) AS avg_order_value,
           ROUND((CAST(rev AS DOUBLE) / n_orders)
                 / (CAST(trev AS DOUBLE) / tn) - 1.0, 6)
             AS vs_overall_avg
    FROM wk CROSS JOIN tot
    """,
)
def orders_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week effect on average order value (ISO weekday 1-7),
    reported as the relative deviation from the overall mean order —
    the weekly companion to month_seasonality_index.

    Determinism: both numerators are exact DECIMAL revenue sums and
    both denominators exact counts; each reported number is one float
    division (or a ratio of two), then rounded.

    Scale: a 7-key map-side-combined aggregate plus a one-row total
    broadcast back.
    """
    orders = load_table(spark, sf_dir, "orders")
    wk = orders.groupBy(
        F.dayofweek("o_orderdate").alias("dow_sun1")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev"),
    )
    # Spark dayofweek is 1=Sunday; ISO wants 1=Monday..7=Sunday.
    wk = wk.select(
        ((F.col("dow_sun1") + 5) % 7 + 1).cast("int").alias("iso_weekday"),
        "n_orders",
        "rev",
    )
    tot = wk.agg(
        F.sum("rev").cast("decimal(38,2)").alias("trev"),
        F.sum("n_orders").cast("bigint").alias("tn"),
    )
    avg = F.col("rev").cast("double") / F.col("n_orders")
    overall = F.col("trev").cast("double") / F.col("tn")
    return wk.crossJoin(F.broadcast(tot)).select(
        "iso_weekday",
        "n_orders",
        F.round(avg, 6).alias("avg_order_value"),
        F.round(avg / overall - 1.0, 6).alias("vs_overall_avg"),
    )


# ---------------------------------------------------------------------------
# Hapax legomena rate per source.
# ---------------------------------------------------------------------------


@register(
    "doc_hapax_by_source",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ), counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS hapax_type_rate,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / SUM(c), 6)
             AS hapax_token_rate
    FROM counts
    GROUP BY source
    """,
)
def doc_hapax_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source: the share of vocabulary types
    (and of token mass) that occur exactly once. Natural text keeps a
    large hapax tail (Zipf's other half); templated or looping
    generations collapse it — the third lexical-diversity angle after
    TTR/Herdan and the Zipf slope.

    Determinism: every reported number is a ratio of exact integer
    counts with an integer equality gate (c = 1).

    Scale: one (source, token)-keyed count with map-side combine, one
    per-source closing aggregate — counts move, text does not.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    counts = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    types = F.count(F.lit(1))
    toks = F.sum("c")
    return counts.groupBy("source").agg(
        types.cast("bigint").alias("n_types"),
        toks.cast("bigint").alias("n_tokens"),
        hapax.cast("bigint").alias("n_hapax"),
        F.round(hapax / types, 6).alias("hapax_type_rate"),
        F.round(hapax / toks, 6).alias("hapax_token_rate"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation per region (exact midranks, no raw sort).
# ---------------------------------------------------------------------------


@register(
    "customer_spearman_balance_revenue",
    oracle="""
    WITH cust AS (
      SELECT r.r_name AS region_name, c.c_custkey,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
             CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                  AS DECIMAL(38,2)) AS rev
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ), bal_rank AS (
      SELECT region_name, bal,
             2 * (SUM(cnt) OVER (PARTITION BY region_name ORDER BY bal
                                 ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS r2x
      FROM (SELECT region_name, bal, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cust GROUP BY 1, 2)
    ), rev_rank AS (
      SELECT region_name, rev,
             2 * (SUM(cnt) OVER (PARTITION BY region_name ORDER BY rev
                                 ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS r2y
      FROM (SELECT region_name, rev, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cust GROUP BY 1, 2)
    )
    SELECT c.region_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(corr(CAST(b.r2x AS DOUBLE), CAST(v.r2y AS DOUBLE)), 6)
             AS spearman_rho
    FROM cust c
    JOIN bal_rank b ON b.region_name = c.region_name AND b.bal = c.bal
    JOIN rev_rank v ON v.region_name = c.region_name AND v.rev = c.rev
    GROUP BY c.region_name
    """,
)
def customer_spearman_balance_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation per region between a customer's
    account balance and their lifetime order revenue — the monotone-
    association answer to "do rich accounts actually buy more?",
    robust to the heavy revenue tail a Pearson correlation would be
    dominated by.

    Built by COMPOSING the distinct-value midrank kernel used by the
    Mann-Whitney query: doubled midranks (2*cum_before + cnt + 1) are
    exact integers per DISTINCT value, joined back to customers on
    (region, value), then Pearson-correlated. Ties get the standard
    midrank treatment for free. No raw-row ranking sort anywhere —
    both rank tables window over distinct values only.

    Determinism: ranks are exact integers; the closing corr drifts
    ~1e-12 across engines, inside the 6-dp round.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    orders = load_table(spark, sf_dir, "orders")
    cust = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy(
            F.col("r_name").alias("region_name"),
            "c_custkey",
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0),
            )
            .cast("decimal(38,2)")
            .alias("rev")
        )
    )

    def midranks(df: DataFrame, col: str, out: str) -> DataFrame:
        counts = df.groupBy("region_name", col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        wcum = (
            W.partitionBy("region_name")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return counts.select(
            "region_name",
            col,
            (
                2 * (F.sum("cnt").over(wcum) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    bal_rank = midranks(cust, "bal", "r2x")
    rev_rank = midranks(cust, "rev", "r2y")
    return (
        cust.join(bal_rank, ["region_name", "bal"])
        .join(rev_rank, ["region_name", "rev"])
        .groupBy("region_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.corr(
                    F.col("r2x").cast("double"), F.col("r2y").cast("double")
                ),
                6,
            ).alias("spearman_rho"),
        )
    )


# ---------------------------------------------------------------------------
# Theil inequality index per region.
# ---------------------------------------------------------------------------


@register(
    "customer_theil_by_region",
    oracle="""
    WITH bal AS (
      SELECT r.r_name AS region_name,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS x
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE c.c_acctbal > 0
    ), tot AS (
      SELECT region_name, CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM bal GROUP BY 1
    )
    SELECT b.region_name,
           CAST(MAX(t.n) AS BIGINT) AS n_customers,
           ROUND(SUM((CAST(b.x AS DOUBLE) / CAST(t.sx AS DOUBLE))
                     * ln(t.n * CAST(b.x AS DOUBLE)
                          / CAST(t.sx AS DOUBLE))), 6) AS theil_t,
           ROUND(1.0 - exp(-SUM((CAST(b.x AS DOUBLE)
                                 / CAST(t.sx AS DOUBLE))
                                * ln(t.n * CAST(b.x AS DOUBLE)
                                     / CAST(t.sx AS DOUBLE)))), 6)
             AS atkinson_equiv
    FROM bal b JOIN tot t USING (region_name)
    GROUP BY b.region_name
    """,
)
def customer_theil_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive balances per region —
    the entropy-based inequality measure (0 = perfect equality,
    ln n = one customer holds everything), with its Atkinson-style
    welfare transform 1 - exp(-T). Unlike the Gini it is additively
    DECOMPOSABLE into within/between-group terms, which is why
    data-mixing audits prefer it; here the region grouping is the
    decomposition's within term.

    Determinism: shares x/X divide an exact DECIMAL by an exact
    DECIMAL once per row (identical IEEE result on both engines); the
    log-weighted sum drifts ~1e-12 across accumulation orders, inside
    the 6-dp round. No set membership depends on a float.

    Scale: the per-region totals are one aggregate broadcast back;
    the index is then a single map-side-combined sum per region —
    same two-pass shape as source_mixture_weights, no window at all
    (contrast with the Gini, which needs ranks).
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("x"),
        )
    )
    tot = bal.groupBy("region_name").agg(
        F.sum("x").cast("decimal(38,2)").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    share = F.col("x").cast("double") / F.col("sx").cast("double")
    term = share * F.log(
        F.col("n") * F.col("x").cast("double") / F.col("sx").cast("double")
    )
    theil = F.sum(term)
    return (
        bal.join(F.broadcast(tot), "region_name")
        .groupBy("region_name")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.round(theil, 6).alias("theil_t"),
            F.round(1.0 - F.exp(-theil), 6).alias("atkinson_equiv"),
        )
    )


# ---------------------------------------------------------------------------
# Exact trimmed mean per region (integer overlap on the distinct-value
# cumulative kernel).
# ---------------------------------------------------------------------------

TRIM_TENTHS = 1  # trim floor(n/10) rows from each tail


@register(
    "customer_balance_trimmed_mean",
    oracle="""
    WITH bal AS (
      SELECT r.r_name AS region_name,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS x
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ), cum AS (
      SELECT region_name, x, cnt,
             SUM(cnt) OVER (PARTITION BY region_name ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY region_name) AS n
      FROM (SELECT region_name, x, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bal GROUP BY 1, 2)
    ), kept AS (
      SELECT region_name, x, n,
             GREATEST(0, LEAST(c, n - n // 10)
                         - GREATEST(c - cnt, n // 10)) AS k
      FROM cum
    )
    SELECT region_name,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(k) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CAST(x AS DECIMAL(38,2)) * k) AS DOUBLE)
                 / SUM(k), 6) AS trimmed_mean,
           ROUND(CAST(SUM(CAST(x AS DECIMAL(38,2)) * k) AS DOUBLE)
                 / SUM(k)
                 - (SELECT CAST(SUM(CAST(b2.x AS DECIMAL(38,2)))
                                AS DOUBLE) / COUNT(*)
                    FROM bal b2 WHERE b2.region_name = kept.region_name),
                 6) AS vs_plain_mean
    FROM kept
    GROUP BY region_name
    """,
)
def customer_balance_trimmed_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT 10%-trimmed mean of account balances per region (drop
    floor(n/10) rows from each tail), plus its gap to the plain mean —
    the robust location estimate that, unlike the median, still uses
    80% of the data.

    The trim is computed WITHOUT sorting raw rows: on the
    distinct-value cumulative kernel, each distinct value keeps
    k = max(0, min(cum, hi) - max(cum_before, lo)) of its copies —
    pure integer interval overlap against the [lo, hi] kept-rank
    window — and the trimmed mean is a DECIMAL-weighted sum over
    distinct values. Every quantity before the final division is an
    exact integer or DECIMAL on both engines, including tie blocks
    that straddle a trim boundary (the overlap arithmetic keeps
    exactly the in-window copies).

    Scale: same shape as the quartile/median family — per-(region,
    value) counts, one window over distinct values, one closing
    aggregate.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    bal = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("x"),
        )
    )
    counts = bal.groupBy("region_name", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        W.partitionBy("region_name")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("region_name")
    cum = counts.select(
        "region_name",
        "x",
        "cnt",
        F.sum("cnt").over(wcum).alias("c"),
        F.sum("cnt").over(wall).alias("n"),
    )
    lo = F.floor(F.col("n") / 10)
    hi = F.col("n") - lo
    k = F.greatest(
        F.lit(0),
        F.least(F.col("c"), hi) - F.greatest(F.col("c") - F.col("cnt"), lo),
    )
    kept = cum.select("region_name", "x", "n", k.alias("k"))
    plain = bal.groupBy("region_name").agg(
        (
            F.sum(F.col("x").cast("decimal(38,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("plain_mean")
    )
    tmean = (
        F.sum(F.col("x").cast("decimal(38,2)") * F.col("k")).cast("double")
        / F.sum("k")
    )
    return (
        kept.groupBy("region_name")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.sum("k").cast("bigint").alias("n_kept"),
            F.round(tmean, 6).alias("trimmed_mean"),
            tmean.alias("_tm"),
        )
        .join(F.broadcast(plain), "region_name")
        .select(
            "region_name",
            "n_customers",
            "n_kept",
            "trimmed_mean",
            F.round(F.col("_tm") - F.col("plain_mean"), 6).alias(
                "vs_plain_mean"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Multivariate outliers: Mahalanobis distance on (balance, revenue)
# ---------------------------------------------------------------------------


@register(
    "customer_mahalanobis_outliers",
    oracle="""
    WITH pts AS (
      SELECT c.c_custkey,
             CAST(c.c_acctbal AS DOUBLE) AS x,
             CAST(COALESCE(o.rev, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM customer c
      LEFT JOIN (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY o_custkey
      ) o ON o.o_custkey = c.c_custkey
    ), m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,14))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM pts
    ), cov AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             sxx / n - (sx / n) * (sx / n) AS vx,
             syy / n - (sy / n) * (sy / n) AS vy,
             sxy / n - (sx / n) * (sy / n) AS cxy
      FROM m
    )
    SELECT p.c_custkey, p.x AS acctbal, p.y AS revenue,
           ROUND(
             ((p.x - c.mx) * (p.x - c.mx) * c.vy
              - 2 * (p.x - c.mx) * (p.y - c.my) * c.cxy
              + (p.y - c.my) * (p.y - c.my) * c.vx)
             / (c.vx * c.vy - c.cxy * c.cxy), 6) AS d2
    FROM pts p CROSS JOIN cov c
    WHERE ((p.x - c.mx) * (p.x - c.mx) * c.vy
           - 2 * (p.x - c.mx) * (p.y - c.my) * c.cxy
           + (p.y - c.my) * (p.y - c.my) * c.vx)
          / (c.vx * c.vy - c.cxy * c.cxy) > 9
    """,
)
def customer_mahalanobis_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTIVARIATE outliers: customers outside the 3-sigma Mahalanobis
    ellipse of the (account balance, lifetime revenue) distribution —
    the joint-distribution complement of the univariate MAD/z-score
    detectors (customer_balance_mad_outliers, events_anomaly_zscore): a
    point can be unremarkable on each axis yet far off the correlation
    ridge, which is exactly what d^2 = (p-mu)' Sigma^-1 (p-mu) > 9
    flags.

    Determinism chain: the five moments are order-independent DECIMAL
    sums (x, y in DECIMAL(28,14); the squares/cross terms in
    DECIMAL(38,12) — x*x is computed in DOUBLE first, one rounding,
    identical in both engines, then cast); means/variances/covariance
    derive from those identical doubles, and the closed-form 2x2
    inverse keeps the whole pipeline in arithmetic both engines execute
    bit-identically. The d^2 > 9 threshold compares identical doubles,
    so the kept set cannot differ.

    Scale: one pass for the per-customer revenue rollup (shuffle on
    custkey), one pass for the moment aggregate (map-side partials to a
    ONE-ROW result, broadcast back via crossJoin — the audited one-row
    scalar pattern), one map-side distance filter. Nothing holds state
    beyond six scalars.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    pts = (
        cust.join(rev, cust["c_custkey"] == rev["o_custkey"], "left")
        .select(
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("x"),
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(28,14)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,14)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    cov = m.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        (F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))).alias("vx"),
        (F.col("syy") / F.col("n") - (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n"))).alias("vy"),
        (F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))).alias("cxy"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    det = F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy")
    d2 = (
        dx * dx * F.col("vy") - F.lit(2) * dx * dy * F.col("cxy") + dy * dy * F.col("vx")
    ) / det
    return (
        pts.crossJoin(F.broadcast(cov))
        .filter(d2 > 9)
        .select(
            "c_custkey",
            F.col("x").alias("acctbal"),
            F.col("y").alias("revenue"),
            F.round(d2, 6).alias("d2"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped OLS: price-vs-quantity line per brand.
# ---------------------------------------------------------------------------


@register(
    "regression_brand_slopes",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(l.l_extendedprice, l.l_quantity), 6) AS slope,
           ROUND(regr_intercept(l.l_extendedprice, l.l_quantity), 6)
             AS intercept,
           ROUND(regr_r2(l.l_extendedprice, l.l_quantity), 6) AS r2
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def regression_brand_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ordinary-least-squares line of extended price over
    quantity (slope ~ the brand's effective unit price, r2 ~ how
    linear its pricing is) — the grouped-regression shape of a
    many-models feature pipeline, computed entirely from the built-in
    regr_* moment aggregates: one scan, map-side partial moments, one
    shuffle on brand. Moment-sum drift across engines sits far inside
    the 6-dp round (token_zipf_fit precedent).

    Scale: the part join is broadcast (dimension table); brands are
    low-cardinality but each group's state is five scalars, so skew is
    irrelevant.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y = F.col("l_extendedprice")
    x = F.col("l_quantity").cast("double")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope(y, x), 6).alias("slope"),
            F.round(F.regr_intercept(y, x), 6).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
    )


# ---------------------------------------------------------------------------
# PCA leading component by fixed-step power iteration.
# ---------------------------------------------------------------------------

PCA_DIM = 64  # embeddings are FLOAT[64]; 1/sqrt(64) = 0.125 is exact
PCA_ITERS = 3


def _pca_power_oracle() -> str:
    steps = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        steps.append(
            f"""
    u{k} AS (
      SELECT c.di AS dim, SUM(c.c * p.v) AS u
      FROM cov c JOIN {prev} p ON p.dim = c.dj
      GROUP BY c.di
    ),
    n{k} AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u{k}),
    v{k} AS (SELECT dim, u / (SELECT nrm FROM n{k}) AS v FROM u{k})"""
        )
        prev = f"v{k}"
    chain = ",".join(steps)
    return f"""
    WITH dims AS (SELECT i FROM generate_series(1, {PCA_DIM}) t(i)),
    pairs AS (SELECT a.i AS di, b.i AS dj FROM dims a, dims b),
    cov AS MATERIALIZED (
      SELECT di, dj,
             covar_pop(CAST(embedding[di] AS DOUBLE),
                       CAST(embedding[dj] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN pairs
      GROUP BY di, dj
    ),
    v0 AS (SELECT i AS dim, 0.125 AS v FROM dims),{chain},
    rayleigh AS (
      SELECT SUM(c.c * a.v * b.v) AS lam
      FROM cov c
      JOIN v{PCA_ITERS} a ON a.dim = c.di
      JOIN v{PCA_ITERS} b ON b.dim = c.dj
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           ROUND(v, 6) AS loading,
           ROUND((SELECT lam FROM rayleigh), 6) AS eigval
    FROM v{PCA_ITERS}
    """


@register("embedding_pca_power3", oracle=_pca_power_oracle())
def embedding_pca_power3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding covariance by a
    FIXED 3-step power iteration from the exact uniform start
    v0 = 1/sqrt(64) = 0.125 — the whitening/compression primer of an
    embedding pipeline, and the eigen-sibling of the k-means
    (embedding_kmeans_lloyd2) and Bellman-Ford (copurchase_sssp)
    fixed-iteration operators. Output: the 64 loadings after step 3
    plus the Rayleigh-quotient eigenvalue estimate.

    Determinism: the iteration count and start vector are pinned, so
    both engines run the SAME affine recurrence; float drift from
    summation order (~1e-10) sits inside the 6-dp round. sqrt is
    IEEE-correctly-rounded in both engines (unlike ln/exp, which the
    engine-wide oracle rules avoid).

    Scale: the covariance is ONE distributed scan (d^2 = 4096
    map-side-combined aggregates via a broadcast literal pair table);
    the driver handles only the d x d matrix (32 kB) and O(d^2) flops
    per step — corpus size never touches the driver. At larger d,
    swap the materialized covariance for X^T(Xv) matvec passes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = [
        (i, j)
        for i in range(1, PCA_DIM + 1)
        for j in range(1, PCA_DIM + 1)
    ]
    pair_df = F.broadcast(
        emb.sparkSession.createDataFrame(pairs, "di int, dj int")
    )
    x = F.element_at("embedding", F.col("di")).cast("double")
    y = F.element_at("embedding", F.col("dj")).cast("double")
    cov_rows = (
        emb.crossJoin(pair_df)
        .groupBy("di", "dj")
        .agg(F.covar_pop(x, y).alias("c"))
        .collect()
    )
    import numpy as np

    C = np.zeros((PCA_DIM, PCA_DIM))
    for r in cov_rows:
        C[r.di - 1, r.dj - 1] = r.c
    v = np.full(PCA_DIM, 0.125)
    for _ in range(PCA_ITERS):
        u = C @ v
        v = u / float(np.sqrt(u @ u))
    lam = float(v @ C @ v)
    out = [(i + 1, round(float(v[i]), 6), round(lam, 6)) for i in range(PCA_DIM)]
    return spark.createDataFrame(out, "dim int, loading double, eigval double")




# ---------------------------------------------------------------------------
# Deterministic mixture resampling: budget water-filling.
# ---------------------------------------------------------------------------

MIX_BUDGET_FRAC = 0.4


@register(
    "dataset_mix_resample",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_docs) AS BIGINT) AS n,
             CAST(FLOOR(SUM(n_docs) * {MIX_BUDGET_FRAC}) AS BIGINT) AS b
      FROM counts
    ), ord AS (
      SELECT n_docs,
             ROW_NUMBER() OVER (ORDER BY n_docs, source) AS i,
             CAST(SUM(n_docs) OVER (ORDER BY n_docs, source) AS BIGINT) AS p
      FROM counts
    ), base AS (
      SELECT COALESCE(MAX(i), 0) AS bi,
             COALESCE(arg_max(p, i), 0) AS pbi
      FROM ord, tot
      WHERE p + (k - i) * n_docs <= b
    ), lvl AS (
      SELECT CASE WHEN base.bi >= tot.k
                  THEN (SELECT MAX(n_docs) FROM counts)
                  ELSE (tot.b - base.pbi) // (tot.k - base.bi)
             END AS l
      FROM base, tot
    ), marked AS (
      SELECT d.source, d.n_chars, c.n_docs,
             LEAST(c.n_docs, lvl.l) AS quota,
             (c.n_docs <= lvl.l
              OR CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                           1, 8)) AS BIGINT) AS HUGEINT)
                 * c.n_docs
                 < CAST(LEAST(c.n_docs, lvl.l) AS HUGEINT) * 4294967296)
               AS kept
      FROM documents d JOIN counts c USING (source) CROSS JOIN lvl
    )
    SELECT source,
           MIN(n_docs) AS n_docs,
           MIN(quota) AS quota,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN kept THEN n_chars END), 0)
                AS BIGINT) AS kept_chars,
           ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / MIN(n_docs),
                 6) AS keep_ratio
    FROM marked GROUP BY source
    """,
)
def dataset_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a data-mixing plan by WATER-FILLING a document
    budget: keep floor({MIX_BUDGET_FRAC} * N) documents total,
    allocated as uniformly as possible across sources — every source
    gets the same level L except those with fewer than L documents,
    which keep everything (the classic uniform-mixing-under-a-budget
    allocator; level found on the sorted per-source prefix sums). A
    document survives iff its source fits its quota outright, or its
    32-bit md5 bucket falls under quota/n_docs — REPRODUCIBLE across
    engines, repartitionings, and re-runs, with no RNG; shrinking the
    budget keeps a strict subset (hash thresholds nest).

    Every selection comparison is EXACT integer arithmetic
    (h * n_docs < quota * 2^32 in 128-bit/decimal space — no float
    sums, no pow), which is what makes the per-row keep decision
    bit-identical on both engines and therefore fully hash-gateable —
    unlike a temperature mixture whose float normalization could flip
    boundary documents (source_sampling_temperature reports its
    weights as ROUNDED OUTPUT for exactly that reason).

    Scale: one count aggregate (map-side combinable), a |sources|-row
    rank/prefix-sum window to find the level (broadcast back, listed
    under plan-audit ALLOW), then a pure per-row expression — no
    corpus-wide shuffle at all; the output is one row per source.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_docs").cast("bigint").alias("n"),
        F.floor(F.sum("n_docs") * F.lit(MIX_BUDGET_FRAC))
        .cast("bigint")
        .alias("b"),
    )
    byn = W.partitionBy().orderBy("n_docs", "source")
    ord_ = counts.select(
        "n_docs",
        F.row_number().over(byn).cast("bigint").alias("i"),
        F.sum("n_docs").over(byn).alias("p"),
    )
    base = (
        ord_.crossJoin(F.broadcast(tot))
        .filter(
            F.col("p") + (F.col("k") - F.col("i")) * F.col("n_docs")
            <= F.col("b")
        )
        .agg(
            F.coalesce(F.max("i"), F.lit(0)).alias("bi"),
            F.coalesce(F.max_by("p", "i"), F.lit(0)).alias("pbi"),
        )
    )
    maxn = counts.agg(F.max("n_docs").alias("mx"))
    lvl = (
        base.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(maxn))
        .select(
            F.when(F.col("bi") >= F.col("k"), F.col("mx"))
            .otherwise(
                F.expr("(b - pbi) DIV (k - bi)")
            )
            .alias("l")
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("decimal(19,0)")
    quota = F.least(F.col("n_docs"), F.col("l"))
    kept = (F.col("n_docs") <= F.col("l")) | (
        h * F.col("n_docs").cast("decimal(19,0)")
        < quota.cast("decimal(19,0)")
        * F.lit(4294967296).cast("decimal(19,0)")
    )
    marked = (
        docs.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(lvl))
        .select(
            "source",
            "n_chars",
            "n_docs",
            quota.alias("quota"),
            kept.alias("kept"),
        )
    )
    return marked.groupBy("source").agg(
        F.min("n_docs").alias("n_docs"),
        F.min("quota").alias("quota"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("n_chars"))), F.lit(0)
        ).cast("bigint").alias("kept_chars"),
        F.round(
            F.sum(F.col("kept").cast("int")) * F.lit(1.0) / F.min("n_docs"),
            6,
        ).alias("keep_ratio"),
    )
