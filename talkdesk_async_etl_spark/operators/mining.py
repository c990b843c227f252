"""Pattern-mining and model-scoring operators (SURVEY.md §2.10 D9/D10).

Two shapes a training-data curation pipeline runs beyond the
dedup/similarity families already covered:

- **co-occurrence mining** (market-basket over user event journeys) —
  the support-counting core of FP-growth/apriori, reduced to its
  Spark-native form: collapse to the (user, item) grain, bound
  per-user state by the item DOMAIN (not event volume), emit pairs
  from the sorted per-user item set, count supports in one map-side
  combinable aggregate.
- **in-scan model scoring** (logistic quality classifier) — the
  "score every document with a small model" pass (CCNet/Gopher-style
  quality filtering). With literal weights the entire model is a
  codegen'd expression: no UDF, no shuffle, scan-speed inference.
"""

from __future__ import annotations

import math as _math
from itertools import accumulate as _accumulate

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.sources.io import read_table as t

_MIN_SUPPORT = 5

_COOC_ORACLE = f"""
    WITH grain AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS et_a,
           b.event_type AS et_b,
           CAST(count(*) AS BIGINT) AS n_users
    FROM grain a
    JOIN grain b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    HAVING count(*) >= {_MIN_SUPPORT}
"""


@query("agg_cooccurrence_pairs", oracle=_COOC_ORACLE, tags=("mining", "agg"))
def agg_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: frequent item-PAIR mining over user event journeys (the
    support-counting pass of market-basket analysis). Scale shape:
    the event stream collapses to the distinct (user, item) grain
    FIRST (one exchange, map-side combinable), then per-user item sets
    are bounded by the ITEM DOMAIN (5 event types here; never event
    volume), and pairs explode from the sorted set in-scan —
    |domain|² per user worst-case, each pair 2 small strings. The
    oracle is the self-join formulation the set form replaces; the
    self-join duplicates the grain relation and shuffles it twice,
    the set form shuffles once. For catalog-sized domains (retail
    SKUs) the same code holds because real baskets are small; a
    hot-key cap on set size would be the 100 TB guard."""
    # No pre-distinct: collect_set IS the dedup, and it partial-
    # aggregates map-side — one exchange on user_id total (a separate
    # distinct would add a second exchange on the full grain).
    sets = (
        t(spark, sf_dir, "events", spread=True)
        .select("user_id", "event_type")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ets"))
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ets, (a, i) ->"
                " transform(slice(ets, i + 2, size(ets)), b ->"
                " struct(a AS et_a, b AS et_b))))"
            )
        ).alias("p")
    ).select("p.et_a", "p.et_b")
    return (
        pairs.groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= _MIN_SUPPORT)
    )


# Literal model weights: z = w0 + w_chars·n_chars + w_spaces·n_spaces.
# Calibrated so scores straddle 0.5 on the fixture (~47/53 split) —
# a vacuously one-sided classifier would attest nothing.
_W0, _W_CHARS, _W_SPACES = -1.8, 0.004, 0.01

_LOGREG_ORACLE = f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) AS f_chars,
               CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                   AS f_spaces
        FROM documents
    )
    SELECT doc_id,
           CAST(floor(1 / (1 + exp(-({_W0} + f_chars * {_W_CHARS}
                                     + f_spaces * {_W_SPACES}))) * 1000000 + 0.5)
                AS BIGINT) AS p_micro,
           CAST(({_W0} + f_chars * {_W_CHARS} + f_spaces * {_W_SPACES}) >= 0
                AS INTEGER) AS is_quality
    FROM feat
"""


@query("ml_logreg_score", oracle=_LOGREG_ORACLE, tags=("mining", "text", "ml"))
def ml_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: logistic-regression document scoring as a pure codegen'd
    expression — the "small quality classifier over every document"
    pass. The model (literal weights over cheap text features) lives
    entirely inside the scan projection: no UDF, no shuffle, no
    model-server round-trip; at 100 TB this runs at scan speed and the
    only cost above reading is a handful of FLOPs per row. The
    quality FLAG is decided on the raw margin (z ≥ 0 ⇔ p ≥ 0.5 —
    exact, no float-boundary risk); the probability is quantized to
    integer micro-units with the identical IEEE expression order on
    both engines. Swapping in real trained weights (or widening to a
    hashed n-gram weight vector, cf. text_feature_hashing) changes
    literals, not the plan."""
    d = t(spark, sf_dir, "documents", spread=True)
    f_chars = F.col("n_chars").cast("double")
    f_spaces = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    ).cast("double")
    z = F.lit(_W0) + f_chars * _W_CHARS + f_spaces * _W_SPACES
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return d.select(
        "doc_id",
        F.floor(p * 1_000_000 + F.lit(0.5)).cast("bigint").alias("p_micro"),
        (z >= 0).cast("int").alias("is_quality"),
    )


# Candidate split grid for the decision stump: 4 feature dims x 7
# thresholds (micro units) spanning the embedding domain (~±0.37).
_STUMP_DIMS = (0, 1, 2, 3)
_STUMP_THRESHOLDS = tuple(range(-300_000, 300_001, 100_000))


def _stump_oracle() -> str:
    splits = ", ".join(
        f"({d}, {thr})" for d in _STUMP_DIMS for thr in _STUMP_THRESHOLDS
    )
    return f"""
    WITH feat AS (
        SELECT CAST(label % 2 AS BIGINT) AS y,
               embedding
        FROM embeddings
    ),
    splits(dim, thr) AS (VALUES {splits}),
    sums AS (
        SELECT s.dim, s.thr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(f.y) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN CAST(floor(f.embedding[s.dim + 1] * 1000000
                                            + 0.5) AS BIGINT) <= s.thr
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
               CAST(sum(CASE WHEN CAST(floor(f.embedding[s.dim + 1] * 1000000
                                            + 0.5) AS BIGINT) <= s.thr
                             THEN f.y ELSE 0 END) AS BIGINT) AS pos_l
        FROM feat f, splits s
        GROUP BY s.dim, s.thr
    ),
    scored AS (
        SELECT dim, thr AS threshold_micro, n_l,
               pos_l, n - n_l AS n_r, pos - pos_l AS pos_r,
               CASE WHEN n_l = 0 OR n = n_l THEN 1000000
                    ELSE CAST(
                        (((n - n_l) * (n_l * n_l - pos_l * pos_l
                                       - (n_l - pos_l) * (n_l - pos_l))
                          + n_l * ((n - n_l) * (n - n_l)
                                   - (pos - pos_l) * (pos - pos_l)
                                   - ((n - n_l) - (pos - pos_l))
                                     * ((n - n_l) - (pos - pos_l))))::HUGEINT
                         * 1000000)
                        // (CAST(n AS HUGEINT) * n_l * (n - n_l))
                    AS BIGINT) END AS impurity_micro
        FROM sums
    )
    SELECT dim, threshold_micro, n_l AS n_left, pos_l AS pos_left,
           n_r AS n_right, pos_r AS pos_right, impurity_micro,
           CAST(row_number() OVER (ORDER BY impurity_micro, dim,
                                   threshold_micro) AS INTEGER) AS rank
    FROM scored
    """


@query("ml_decision_stump", oracle=_stump_oracle(), tags=("mining", "ml"))
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 depth: TRAIN a depth-1 decision tree (stump) distributed —
    the exact weighted-Gini split search every tree ensemble
    (XGBoost/LightGBM histogram mode, random forests) runs at its
    core, and the standard weak learner for label-quality triage over
    curation features. The target is the parity bit of the embedding
    label; candidates are a fixed 4-dim × 7-threshold grid over the
    micro-quantized feature (data-independent literals, so the grid
    is reproducible across engines and batches).

    Exactness contract: the split RANKING is by micro-quantized
    weighted Gini — impurity_micro = floor(1e6 · [n_R·(n_L²−pos_L²−
    neg_L²) + n_L·(n_R²−pos_R²−neg_R²)] / (n·n_L·n_R)) — computed in
    HUGEINT/DECIMAL(38,0) (the numerator is O(n³), past int64 by
    sf1), with (dim, threshold) tie-break; degenerate one-sided
    splits pin to the 1e6 sentinel. Every count is a BIGINT
    conditional sum, so both engines emit identical rows and ranks.

    Plan: the candidate grid rides as an in-scan posexplode of a
    28-element literal array — each corpus row emits its 28
    (split, went_left, y) contributions inside the scan task and the
    groupBy partial-aggregates them map-side, so the one exchange
    carries 28×partitions rows regardless of corpus size. No join,
    no UDF, no second pass: at 100 TB stump training is one scan —
    which is why histogram-based boosting scales the same way."""
    emb = t(spark, sf_dir, "embeddings", spread=True)
    split_lits = ", ".join(
        f"named_struct('dim', {d}, 'thr', CAST({thr} AS BIGINT))"
        for d in _STUMP_DIMS
        for thr in _STUMP_THRESHOLDS
    )
    contrib = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        "embedding",
        F.explode(F.expr(f"array({split_lits})")).alias("s"),
    ).select(
        F.col("s.dim").alias("dim"),
        F.col("s.thr").alias("thr"),
        "y",
        F.expr(
            "CASE WHEN CAST(floor(embedding[s.dim] * 1000000 + 0.5) AS BIGINT)"
            " <= s.thr THEN 1 ELSE 0 END"
        ).alias("went_left"),
    )
    sums = contrib.groupBy("dim", "thr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.sum("went_left").cast("long").alias("n_l"),
        F.sum(F.col("went_left") * F.col("y")).cast("long").alias("pos_l"),
    )
    # The O(n^3) numerator and its 1e6 scale-up run in DECIMAL(38,0);
    # floor-division is spelled (a - a % b) / b, the gini idiom.
    sums = sums.withColumn(
        "nm",
        F.expr(
            "((CAST(n AS DECIMAL(38,0)) - n_l)"
            " * (CAST(n_l AS DECIMAL(38,0)) * n_l - CAST(pos_l AS DECIMAL(38,0)) * pos_l"
            "    - (CAST(n_l AS DECIMAL(38,0)) - pos_l) * (CAST(n_l AS DECIMAL(38,0)) - pos_l))"
            " + CAST(n_l AS DECIMAL(38,0))"
            " * ((CAST(n AS DECIMAL(38,0)) - n_l) * (CAST(n AS DECIMAL(38,0)) - n_l)"
            "    - (CAST(pos AS DECIMAL(38,0)) - pos_l) * (CAST(pos AS DECIMAL(38,0)) - pos_l)"
            "    - ((CAST(n AS DECIMAL(38,0)) - n_l) - (CAST(pos AS DECIMAL(38,0)) - pos_l))"
            "      * ((CAST(n AS DECIMAL(38,0)) - n_l) - (CAST(pos AS DECIMAL(38,0)) - pos_l))))"
            " * 1000000"
        ),
    ).withColumn(
        "dn",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * CAST(n_l AS DECIMAL(38,0))"
            " * (CAST(n AS DECIMAL(38,0)) - n_l)"
        ),
    )
    scored = sums.select(
        "dim",
        F.col("thr").alias("threshold_micro"),
        F.col("n_l").alias("n_left"),
        F.col("pos_l").alias("pos_left"),
        (F.col("n") - F.col("n_l")).alias("n_right"),
        (F.col("pos") - F.col("pos_l")).alias("pos_right"),
        F.expr(
            "CASE WHEN n_l = 0 OR n = n_l THEN CAST(1000000 AS BIGINT) ELSE "
            "CAST((nm - (nm % dn)) / dn AS BIGINT) END"
        ).alias("impurity_micro"),
    )
    w = Window.orderBy("impurity_micro", "dim", "threshold_micro")
    return scored.withColumn("rank", F.row_number().over(w).cast("int"))


# PR-curve threshold grid: 21 frozen micro-cuts spanning the whole
# probability domain (data-independent literals, the agg_ab /
# decision-stump grid pattern — reproducible across engines, batches
# and corpus sizes).
_PR_THR_STEP = 50_000
_PR_THRESHOLDS = tuple(range(0, 1_000_001, _PR_THR_STEP))

# Shared eval input: every classifier-evaluation operator scores the
# corpus with the SAME in-scan logreg expression ml_logreg_score ships
# (identical IEEE expression order, identical micro-quantization) and
# joins ground truth (embeddings.label parity — the stump's target)
# on the doc key. Factored once so the eval family can never drift
# from the scorer or from each other.
_SCORED_CTE = f"""
    feat AS (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) AS f_chars,
               CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                   AS f_spaces
        FROM documents
    ),
    scored AS (
        SELECT CAST(floor(1 / (1 + exp(-({_W0} + f_chars * {_W_CHARS}
                                        + f_spaces * {_W_SPACES})))
                          * 1000000 + 0.5) AS BIGINT) AS p_micro,
               CAST(e.label % 2 AS BIGINT) AS y
        FROM feat f JOIN embeddings e ON e.vec_id = f.doc_id
    )"""


def _scored_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_micro, y) over every labeled document — the Spark twin of
    ``_SCORED_CTE``: one documents scan projecting the logreg score,
    one equi-join to the label parity bit."""
    d = t(spark, sf_dir, "documents", spread=True)
    e = t(spark, sf_dir, "embeddings", spread=True).select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") % 2).cast("long").alias("y"),
    )
    f_chars = F.col("n_chars").cast("double")
    f_spaces = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    ).cast("double")
    z = F.lit(_W0) + f_chars * _W_CHARS + f_spaces * _W_SPACES
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return d.select(
        "doc_id",
        F.floor(p * 1_000_000 + F.lit(0.5)).cast("bigint").alias("p_micro"),
    ).join(e, "doc_id")


def _pr_oracle() -> str:
    thr_values = ", ".join(f"({v})" for v in _PR_THRESHOLDS)
    return f"""
    WITH {_SCORED_CTE},
    thr(thr_micro) AS (VALUES {thr_values}),
    conf AS (
        SELECT t.thr_micro,
               CAST(sum(CASE WHEN s.p_micro >= t.thr_micro AND s.y = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN s.p_micro >= t.thr_micro AND s.y = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(s.y) AS BIGINT) AS pos,
               CAST(sum(1 - s.y) AS BIGINT) AS neg
        FROM scored s CROSS JOIN thr t
        GROUP BY t.thr_micro
    ),
    m AS (
        SELECT thr_micro, tp, fp, pos - tp AS fn, neg - fp AS tn,
               CASE WHEN tp + fp = 0 THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fp)
                              AS BIGINT)
               END AS precision_micro,
               CASE WHEN pos = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // pos AS BIGINT)
               END AS recall_micro,
               CASE WHEN tp + fp + pos = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(tp AS HUGEINT) * 2000000
                              // (tp + fp + pos) AS BIGINT)
               END AS f1_micro
        FROM conf
    ),
    auc AS (
        SELECT CAST(sum((a.recall_micro - b.recall_micro)
                        * (a.precision_micro + b.precision_micro))
                    // 2000000 AS BIGINT) AS pr_auc_micro
        FROM m a JOIN m b ON b.thr_micro = a.thr_micro + {_PR_THR_STEP}
    )
    SELECT CAST(m.thr_micro AS BIGINT) AS thr_micro,
           m.tp, m.fp, m.fn, m.tn,
           m.precision_micro, m.recall_micro, m.f1_micro,
           auc.pr_auc_micro
    FROM m CROSS JOIN auc
    """


@query("ml_eval_pr_curve", oracle=_pr_oracle(), tags=("mining", "ml", "eval"))
def ml_eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 evaluation (VERDICT r14 task 5): threshold-sweep
    precision/recall/F1 + PR-AUC for the in-scan quality classifier —
    the eval half the ML shelf lacked: ml_decision_stump trains,
    ml_logreg_score scores, THIS op says how good the scores are
    against ground truth (embeddings.label parity, the stump's
    target), per cut and overall. Running the sweep over a frozen
    21-point micro-threshold grid is the real workflow: the curve
    picks the deployment threshold, PR-AUC compares classifier
    versions.

    Exactness contract: confusion counts are exact BIGINTs from ONE
    conditional aggregate (tp/fp per cut; fn/tn derived from the
    constant pos/neg totals, so the four always sum to n);
    precision/recall/F1 are micro-quantized truncating integer
    divisions over DECIMAL(38,0)/HUGEINT products (tp·1e6 is past
    int64 by ~1e13 rows; zero-prediction cuts pin precision to the
    conventional 1e6, an empty positive class pins recall/F1 to 0 —
    spelled identically on both engines); PR-AUC is the trapezoid
    over the micro-quantized polyline, Σ(Δrecall·Σprecision) in exact
    BIGINTs (≤4e13 — quantization bounds it at ANY corpus size) with
    one truncating division at the end. Recall is non-increasing in
    the threshold, so every term is nonnegative and truncation ≡
    floor ≡ DuckDB ``//``.

    Plan: one documents scan + one equi-join to labels, collapsed by
    a single map-side-combinable conditional aggregate (44 sums, one
    exchange) into ONE row; stack() fans the row to the 21-row grid;
    the trapezoid is a 21x20 broadcast equi-join on the shifted cut
    key and the final PR-AUC is the allowlisted 1-row scalar
    broadcast. Corpus-size-independent after the first exchange —
    the grid, not the data, sizes everything downstream."""
    scored = _scored_labels(spark, sf_dir)
    aggs = [
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
    ]
    for thr in _PR_THRESHOLDS:
        hit = F.col("p_micro") >= thr
        aggs.append(
            F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("long")
            .alias(f"tp_{thr}")
        )
        aggs.append(
            F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("long")
            .alias(f"fp_{thr}")
        )
    one = scored.agg(*aggs)
    stack = "stack({n}, {args}) AS (thr_micro, tp, fp)".format(
        n=len(_PR_THRESHOLDS),
        args=", ".join(
            f"CAST({thr} AS BIGINT), tp_{thr}, fp_{thr}" for thr in _PR_THRESHOLDS
        ),
    )
    from talkdesk_async_etl_spark.plans.cache import scoped_persist

    m = scoped_persist(
        one.select("pos", "neg", F.expr(stack)).select(
            "thr_micro",
            "tp",
            "fp",
            (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
            (F.col("neg") - F.col("fp")).cast("long").alias("tn"),
            F.expr(
                "CASE WHEN tp + fp = 0 THEN CAST(1000000 AS BIGINT)"
                " ELSE CAST((CAST(tp AS DECIMAL(38,0)) * 1000000"
                "            - (CAST(tp AS DECIMAL(38,0)) * 1000000) % (tp + fp))"
                "           / (tp + fp) AS BIGINT) END"
            ).alias("precision_micro"),
            F.expr(
                "CASE WHEN pos = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST((CAST(tp AS DECIMAL(38,0)) * 1000000"
                "            - (CAST(tp AS DECIMAL(38,0)) * 1000000) % pos)"
                "           / pos AS BIGINT) END"
            ).alias("recall_micro"),
            F.expr(
                "CASE WHEN tp + fp + pos = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST((CAST(tp AS DECIMAL(38,0)) * 2000000"
                "            - (CAST(tp AS DECIMAL(38,0)) * 2000000)"
                "              % (tp + fp + pos))"
                "           / (tp + fp + pos) AS BIGINT) END"
            ).alias("f1_micro"),
        )
    )
    nxt = m.select(
        (F.col("thr_micro") - _PR_THR_STEP).alias("thr_micro"),
        F.col("precision_micro").alias("prec_next"),
        F.col("recall_micro").alias("rec_next"),
    )
    auc = (
        m.join(nxt, "thr_micro")
        .agg(
            F.sum(
                (F.col("recall_micro") - F.col("rec_next"))
                * (F.col("precision_micro") + F.col("prec_next"))
            ).alias("s")
        )
        .select(F.expr("CAST(s DIV 2000000 AS BIGINT)").alias("pr_auc_micro"))
    )
    return m.crossJoin(F.broadcast(auc))


_ROC_ORACLE = f"""
    WITH {_SCORED_CTE},
    hist AS (
        SELECT p_micro,
               CAST(sum(y) AS HUGEINT) AS pos_b,
               CAST(sum(1 - y) AS HUGEINT) AS neg_b
        FROM scored GROUP BY p_micro
    ),
    cum AS (
        SELECT pos_b, neg_b,
               COALESCE(sum(neg_b) OVER (ORDER BY p_micro
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS neg_below
        FROM hist
    ),
    tot AS (
        SELECT CAST(sum(pos_b) AS HUGEINT) AS p,
               CAST(sum(neg_b) AS HUGEINT) AS n,
               CAST(sum(2 * pos_b * neg_below + pos_b * neg_b) AS HUGEINT)
                   AS num2
        FROM cum
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           CASE WHEN p = 0 OR n = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(num2 * 1000000 // (2 * p * n) AS BIGINT)
           END AS auc_micro,
           CASE WHEN p = 0 OR n = 0 THEN CAST(-1000000 AS BIGINT)
                ELSE CAST(2 * (num2 * 1000000 // (2 * p * n)) - 1000000
                          AS BIGINT)
           END AS gini_micro
    FROM tot
"""


@query("ml_eval_roc_auc", oracle=_ROC_ORACLE, tags=("mining", "ml", "eval"))
def ml_eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 evaluation depth: EXACT ROC-AUC for the in-scan quality
    classifier — the threshold-free companion to ml_eval_pr_curve's
    21-cut sweep, via the pair-counting identity AUC = P(score_pos >
    score_neg) + ½·P(tie). No grid, no approximation: every one of
    the P·N positive-negative pairs is counted exactly through the
    score histogram (Σ_b pos_b·neg_below_b concordant + pos_b·neg_b
    tied at b, doubled so the tie half-credit stays integer), and
    AUC quantizes once at the end — num2·1e6 div (2·P·N), truncating
    ≡ floor on both engines since every term is nonnegative.
    Gini/Somers' D = 2·AUC − 1 derives from the quantized AUC so the
    two can never disagree. P·N is ~1e26 at 1e13 rows — accumulation
    runs in DECIMAL(38,0)/HUGEINT throughout.

    Plan: the corpus collapses to the per-score histogram in one
    map-side-combinable aggregate; micro-quantization bounds that
    relation at ≤1e6+1 rows AT ANY CORPUS SIZE, so the cumulative
    window and final 1-row rollup run over a domain-bounded relation
    (the ml_decision_stump bounded-window precedent), never the
    data."""
    hist = (
        _scored_labels(spark, sf_dir)
        .groupBy("p_micro")
        .agg(
            F.sum("y").cast("decimal(38,0)").alias("pos_b"),
            F.sum(F.lit(1) - F.col("y")).cast("decimal(38,0)").alias("neg_b"),
        )
    )
    w = (
        Window.orderBy("p_micro")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "pos_b",
        "neg_b",
        F.coalesce(F.sum("neg_b").over(w), F.lit(0).cast("decimal(38,0)")).alias(
            "neg_below"
        ),
    )
    tot = cum.agg(
        F.sum("pos_b").alias("p"),
        F.sum("neg_b").alias("n"),
        F.sum(
            2 * F.col("pos_b") * F.col("neg_below") + F.col("pos_b") * F.col("neg_b")
        ).alias("num2"),
    )
    return tot.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        F.expr(
            "CASE WHEN p = 0 OR n = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((num2 * 1000000 - (num2 * 1000000) % (2 * p * n))"
            "           / (2 * p * n) AS BIGINT) END"
        ).alias("auc_micro"),
        F.expr(
            "CASE WHEN p = 0 OR n = 0 THEN CAST(-1000000 AS BIGINT)"
            " ELSE CAST(2 * CAST((num2 * 1000000 - (num2 * 1000000)"
            "                     % (2 * p * n)) / (2 * p * n) AS BIGINT)"
            "           - 1000000 AS BIGINT) END"
        ).alias("gini_micro"),
    )


# Calibration: 10 fixed decile bins over the predicted probability.
_CAL_BIN_MICRO = 100_000

_CAL_ORACLE = f"""
    WITH {_SCORED_CTE},
    binned AS (
        SELECT least(p_micro // {_CAL_BIN_MICRO}, 9) AS bin, p_micro, y
        FROM scored
    ),
    bins AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos,
               CAST(sum(CAST(p_micro AS HUGEINT)) AS HUGEINT) AS sum_p
        FROM binned GROUP BY bin
    ),
    m AS (
        SELECT bin, n, pos,
               CAST(sum_p // n AS BIGINT) AS mean_pred_micro,
               CAST(CAST(pos AS HUGEINT) * 1000000 // n AS BIGINT)
                   AS obs_rate_micro
        FROM bins
    ),
    e AS (
        SELECT CAST(sum(CAST(n AS HUGEINT)
                        * abs(mean_pred_micro - obs_rate_micro))
                    // sum(CAST(n AS HUGEINT)) AS BIGINT) AS ece_micro
        FROM m
    )
    SELECT CAST(m.bin AS BIGINT) AS bin,
           CAST(m.bin * {_CAL_BIN_MICRO} AS BIGINT) AS bin_lo_micro,
           m.n, m.pos, m.mean_pred_micro, m.obs_rate_micro,
           CAST(abs(m.mean_pred_micro - m.obs_rate_micro) AS BIGINT)
               AS gap_micro,
           e.ece_micro
    FROM m CROSS JOIN e
"""


@query("ml_calibration_bins", oracle=_CAL_ORACLE, tags=("mining", "ml", "eval"))
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 evaluation: RELIABILITY DIAGRAM + expected calibration
    error for the in-scan quality classifier — ranking quality
    (PR/ROC) says whether scores ORDER documents correctly;
    calibration says whether 0.8 MEANS 80%, which is what a curation
    pipeline needs before using scores as sampling weights or
    mixture temperatures. Ten fixed decile bins over the predicted
    probability (bin = min(p_micro div 1e5, 9) — exact integer
    bucketing, the top bin closed so p=1.0 cannot escape the grid);
    per bin the mean predicted probability (Σp_micro div n — exact,
    no float mean) vs the observed positive rate (pos·1e6 div n),
    their absolute gap, and the n-weighted ECE = Σ n_b·gap_b div N
    as one exact integer — every division truncating ≡ floor ≡
    DuckDB ``//`` on nonnegative integers, Σp_micro in
    HUGEINT/DECIMAL(38,0) (1e6 · 1e13 rows is past int64).

    Plan: the corpus collapses in one map-side-combinable ≤10-group
    aggregate (bin derives in-scan); the ECE rollup and its 1-row
    broadcast back onto the bin rows are the allowlisted scalar
    shape over a ≤10-row relation. Empty bins are absent, which is
    exact: they contribute 0 to ECE."""
    from talkdesk_async_etl_spark.plans.cache import scoped_persist

    bins = scoped_persist(
        _scored_labels(spark, sf_dir)
        .select(
            F.least(F.col("p_micro") / F.lit(_CAL_BIN_MICRO), F.lit(9))
            .cast("long")
            .alias("bin"),
            "p_micro",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
            F.sum(F.col("p_micro").cast("decimal(38,0)")).alias("sum_p"),
        )
        .select(
            "bin",
            "n",
            "pos",
            F.expr(
                "CAST((sum_p - sum_p % n) / n AS BIGINT)"
            ).alias("mean_pred_micro"),
            F.expr(
                "CAST((CAST(pos AS DECIMAL(38,0)) * 1000000"
                "      - (CAST(pos AS DECIMAL(38,0)) * 1000000) % n) / n"
                "     AS BIGINT)"
            ).alias("obs_rate_micro"),
        )
    )
    ece = bins.agg(
        F.sum(
            F.col("n").cast("decimal(38,0)")
            * F.abs(F.col("mean_pred_micro") - F.col("obs_rate_micro"))
        ).alias("g"),
        F.sum(F.col("n").cast("decimal(38,0)")).alias("tot"),
    ).select(
        F.expr("CAST((g - g % tot) / tot AS BIGINT)").alias("ece_micro")
    )
    return bins.select(
        "bin",
        (F.col("bin") * _CAL_BIN_MICRO).cast("long").alias("bin_lo_micro"),
        "n",
        "pos",
        "mean_pred_micro",
        "obs_rate_micro",
        F.abs(F.col("mean_pred_micro") - F.col("obs_rate_micro"))
        .cast("long")
        .alias("gap_micro"),
    ).crossJoin(F.broadcast(ece))


_RULES_ORACLE = f"""
    WITH grain AS (SELECT DISTINCT user_id, event_type FROM events),
    supports AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS s
        FROM grain GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM grain
    ),
    pairs AS (
        SELECT a.event_type AS x, b.event_type AS y,
               CAST(count(*) AS BIGINT) AS s_xy
        FROM grain a
        JOIN grain b ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
        GROUP BY 1, 2
        HAVING count(*) >= {_MIN_SUPPORT}
    ),
    directed AS (
        SELECT x AS antecedent, y AS consequent, s_xy FROM pairs
        UNION ALL
        SELECT y AS antecedent, x AS consequent, s_xy FROM pairs
    )
    SELECT d.antecedent, d.consequent,
           d.s_xy AS n_both, sa.s AS n_antecedent, sc.s AS n_consequent,
           CAST(CAST(d.s_xy AS HUGEINT) * 1000000 // sa.s AS BIGINT)
               AS confidence_micro,
           CAST(CAST(d.s_xy AS HUGEINT) * t.n_users * 1000000
                // (CAST(sa.s AS HUGEINT) * sc.s) AS BIGINT) AS lift_micro
    FROM directed d
    JOIN supports sa ON sa.event_type = d.antecedent
    JOIN supports sc ON sc.event_type = d.consequent
    CROSS JOIN tot t
"""


@query("agg_assoc_rules", oracle=_RULES_ORACLE, tags=("mining", "agg"))
def agg_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 depth: ASSOCIATION RULES from the co-occurrence supports —
    the scoring pass market-basket mining runs after
    agg_cooccurrence_pairs counts supports: per directed rule A→B,
    confidence = s(A,B)/s(A) (how often A-users also do B) and
    lift = s(A,B)·N / (s(A)·s(B)) (how far above independence) — the
    two numbers that turn raw pair counts into "users who X also Y"
    recommendations and feature-cross candidates. Both publish as
    exact micro-units via truncating HUGEINT/DECIMAL(38,0) division
    (s·N·1e6 is past int64 at ~1e9 users; all terms nonnegative so
    truncation ≡ floor ≡ DuckDB ``//``); antecedent support can
    never be 0 (every surviving pair's items have support ≥ pair
    support ≥ {_MIN_SUPPORT}).

    Plan: ONE corpus exchange total — no pre-distinct (collect_set IS
    the dedup, the agg_cooccurrence_pairs trick) and no second
    corpus-sized pass for the denominators: the persisted user-sized
    SETS relation (at 100 TB a staged table) feeds item supports (one
    domain-bounded explode + count), the distinct-user total (a plain
    row count — each user is one row by construction, so no
    countDistinct Expand), and the pair explode; the final scoring
    join touches |domain|²-bounded rules against a |domain|-row
    broadcast + the allowlisted 1-row total. (The first cut of this
    operator pre-distinct'd the grain and countDistinct'd users —
    three corpus-sized exchanges; measured 3.2 s -> this shape at
    sf0.1.)"""
    from talkdesk_async_etl_spark.plans.cache import scoped_persist

    sets = scoped_persist(
        t(spark, sf_dir, "events", spread=True)
        .select("user_id", "event_type")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ets"))
    )
    supports = (
        sets.select(F.explode("ets").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
    )
    tot = sets.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ets, (a, i) ->"
                    " transform(slice(ets, i + 2, size(ets)), b ->"
                    " struct(a AS x, b AS y))))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("s_xy"))
        .filter(F.col("s_xy") >= _MIN_SUPPORT)
    )
    directed = pairs.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "s_xy"
    ).unionByName(
        pairs.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "s_xy"
        )
    )
    sa = supports.select(
        F.col("event_type").alias("antecedent"), F.col("s").alias("n_antecedent")
    )
    sc = supports.select(
        F.col("event_type").alias("consequent"), F.col("s").alias("n_consequent")
    )
    return (
        directed.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            F.col("s_xy").alias("n_both"),
            "n_antecedent",
            "n_consequent",
            F.expr(
                "CAST((CAST(s_xy AS DECIMAL(38,0)) * 1000000"
                "      - (CAST(s_xy AS DECIMAL(38,0)) * 1000000) % n_antecedent)"
                "     / n_antecedent AS BIGINT)"
            ).alias("confidence_micro"),
            F.expr(
                "CAST((CAST(s_xy AS DECIMAL(38,0)) * n_users * 1000000"
                "      - (CAST(s_xy AS DECIMAL(38,0)) * n_users * 1000000)"
                "        % (CAST(n_antecedent AS DECIMAL(38,0)) * n_consequent))"
                "     / (CAST(n_antecedent AS DECIMAL(38,0)) * n_consequent)"
                "     AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


# --- round-15 wave D: multiclass + ranking evaluation ----------------

_CONFUSION_ORACLE = """
    WITH cnt AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    prior AS (
        SELECT source, lang AS pred_lang FROM (
            SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n DESC, lang ASC) AS rk
            FROM cnt
        ) WHERE rk = 1
    ),
    cm AS (
        SELECT c.lang AS actual, p.pred_lang AS predicted,
               CAST(sum(c.n) AS BIGINT) AS n
        FROM cnt c JOIN prior p ON c.source = p.source
        GROUP BY 1, 2
    ),
    am AS (SELECT actual AS cls, CAST(sum(n) AS BIGINT) AS n_actual
           FROM cm GROUP BY 1),
    pm AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS n_predicted
           FROM cm GROUP BY 1),
    tpt AS (SELECT actual AS cls, CAST(sum(n) AS BIGINT) AS tp
            FROM cm WHERE actual = predicted GROUP BY 1),
    cls AS (SELECT cls FROM am UNION SELECT cls FROM pm)
    SELECT c.cls AS class,
           coalesce(a.n_actual, 0) AS n_actual,
           coalesce(p.n_predicted, 0) AS n_predicted,
           coalesce(t.tp, 0) AS tp,
           coalesce(p.n_predicted, 0) - coalesce(t.tp, 0) AS fp,
           coalesce(a.n_actual, 0) - coalesce(t.tp, 0) AS fn,
           CASE WHEN coalesce(p.n_predicted, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(coalesce(t.tp, 0) * 1000000 // p.n_predicted
                          AS BIGINT) END AS prec_micro,
           CASE WHEN coalesce(a.n_actual, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(coalesce(t.tp, 0) * 1000000 // a.n_actual
                          AS BIGINT) END AS rec_micro,
           CAST(2 * coalesce(t.tp, 0) * 1000000
                // (coalesce(a.n_actual, 0) + coalesce(p.n_predicted, 0))
                AS BIGINT) AS f1_micro
    FROM cls c
    LEFT JOIN am a ON a.cls = c.cls
    LEFT JOIN pm p ON p.cls = c.cls
    LEFT JOIN tpt t ON t.cls = c.cls
"""


@query(
    "ml_eval_confusion_multiclass",
    oracle=_CONFUSION_ORACLE,
    tags=("mining", "ml", "eval"),
)
def ml_eval_confusion_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 eval depth: MULTICLASS confusion-matrix evaluation — train
    a per-source majority-class language prior (the standard
    baseline every real classifier must beat), score the corpus, and
    publish per-class tp/fp/fn with precision/recall/F1. Extends the
    binary eval shelf (pr_curve/roc_auc/calibration) to the
    multiclass regime — macro-F1 is one trivial reduction over this
    output, and swapping a real model for the prior changes the
    ``predicted`` column's provenance, not the eval.

    The entire train+score+eval runs on ONE sufficient statistic:
    the (source, lang, count) contingency relation. The prior is an
    argmax over it (count desc, lang asc tie-break), and the
    confusion matrix is cnt ⋈ prior re-aggregated — so after the one
    corpus exchange that builds cnt, every later relation is bounded
    by |sources| × |langs|, and NO per-document scoring pass exists
    at all. At 100 TB that's the difference between an eval that
    rescans the corpus and one that reads 100 rows.

    INTEGER-EXACT: counts are exact BIGINTs; precision/recall/F1
    publish as truncating micro divisions (F1 = 2·tp/(n_actual +
    n_predicted) — the harmonic identity over integer counts, no
    intermediate float P/R). Zero-support guards pin to 0 (a class
    in the matrix has n_actual + n_predicted > 0, so the F1
    denominator never vanishes)."""
    from talkdesk_async_etl_spark.plans.cache import scoped_persist

    cnt = scoped_persist(
        t(spark, sf_dir, "documents", spread=True)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    prior = (
        cnt.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
            ),
        )
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("pred_lang"))
    )
    cm = scoped_persist(
        cnt.join(F.broadcast(prior), "source")
        .groupBy(F.col("lang").alias("actual"), F.col("pred_lang").alias("predicted"))
        .agg(F.sum("n").cast("long").alias("n"))
    )
    am = cm.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_actual")
    )
    pm = cm.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_predicted")
    )
    tpt = (
        cm.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("n").cast("long").alias("tp"))
    )
    cls = am.select("cls").union(pm.select("cls")).distinct()
    out = (
        cls.join(F.broadcast(am), "cls", "left")
        .join(F.broadcast(pm), "cls", "left")
        .join(F.broadcast(tpt), "cls", "left")
        .select(
            F.col("cls").alias("class"),
            F.coalesce("n_actual", F.lit(0)).cast("long").alias("n_actual"),
            F.coalesce("n_predicted", F.lit(0)).cast("long").alias("n_predicted"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    return out.select(
        "class",
        "n_actual",
        "n_predicted",
        "tp",
        (F.col("n_predicted") - F.col("tp")).cast("long").alias("fp"),
        (F.col("n_actual") - F.col("tp")).cast("long").alias("fn"),
        F.expr(
            "CASE WHEN n_predicted = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((tp * 1000000 - (tp * 1000000) % n_predicted)"
            "           / n_predicted AS BIGINT) END"
        ).alias("prec_micro"),
        F.expr(
            "CASE WHEN n_actual = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((tp * 1000000 - (tp * 1000000) % n_actual)"
            "           / n_actual AS BIGINT) END"
        ).alias("rec_micro"),
        F.expr(
            "CAST((2 * tp * 1000000 - (2 * tp * 1000000)"
            "      % (n_actual + n_predicted))"
            "     / (n_actual + n_predicted) AS BIGINT)"
        ).alias("f1_micro"),
    )


# NDCG@10: log2 rank discounts are frozen ONCE in the driver as exact
# integer literals — D[r] = floor(1e9 / log2(r+1)) — and both engines
# consume the SAME table, so the transcendental never runs per row or
# per engine (the adamic-adar / EWMA quantization device).
_NDCG_K = 10
_NDCG_D = tuple(int(10**9 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1))
_NDCG_P = tuple(_accumulate(_NDCG_D))
_N_NDCG_QUERIES = 5  # the sim_topk_cosine query set: vec_id < 5

_NDCG_ORACLE = f"""
    WITH ranked AS (
        SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS n_label,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                                CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) DESC,
                            c.vec_id ASC) AS INTEGER) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_NDCG_QUERIES}
    ),
    dcg AS (
        SELECT q_id, q_label,
               CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rel_topk,
               CAST(sum(CASE WHEN n_label = q_label
                             THEN list_extract(
                                 [{", ".join(str(d) for d in _NDCG_D)}], rank)
                             ELSE 0 END) AS BIGINT) AS dcg_nano
        FROM ranked WHERE rank <= {_NDCG_K}
        GROUP BY 1, 2
    ),
    lc AS (
        SELECT label, CAST(count(*) AS BIGINT) AS c
        FROM embeddings GROUP BY 1
    ),
    scored AS (
        SELECT d.q_id, d.q_label, d.n_rel_topk,
               lc.c - 1 AS n_rel_corpus, d.dcg_nano,
               CASE WHEN lc.c - 1 < 1 THEN CAST(0 AS BIGINT)
                    ELSE CAST(list_extract(
                        [{", ".join(str(p) for p in _NDCG_P)}],
                        CAST(least(lc.c - 1, {_NDCG_K}) AS INTEGER))
                        AS BIGINT) END AS idcg_nano
        FROM dcg d JOIN lc ON lc.label = d.q_label
    )
    SELECT q_id, q_label, n_rel_topk, n_rel_corpus, dcg_nano, idcg_nano,
           CASE WHEN idcg_nano = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(dcg_nano * 1000000 // idcg_nano AS BIGINT)
           END AS ndcg_micro
    FROM scored
"""


@query("ml_eval_ndcg", oracle=_NDCG_ORACLE, tags=("mining", "ml", "eval", "similarity"))
def ml_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10/D3 eval depth: NDCG@10 for the exact cosine retriever —
    the standard graded-ranking metric for similarity search, scored
    against same-label relevance (a neighbor is relevant iff it
    shares the query's cluster label). Completes the retrieval eval
    story: sim_ivf_recall measures overlap with the exact top-k;
    THIS measures whether the exact top-k itself ranks genuinely
    related items first, with position-weighted credit.

    INTEGER-EXACT given the attested ranking: rank discounts are
    frozen driver-side integer literals (floor(1e9/log2(r+1)) — the
    adamic-adar device, so neither engine evaluates a transcendental),
    DCG is an exact BIGINT sum of table lookups, ideal DCG is a
    prefix-sum lookup at min(n_relevant, 10), and NDCG publishes as
    one truncating micro division. The cosine RANKING itself is the
    sim_topk_cosine contract (double scores, vec_id tie-break) —
    hash-attested there and reused verbatim here.

    Plan: the exact_topk_neighbors core (query side broadcast into
    one corpus scan by the exact-cosine kernel), then label joins
    AGAINST THE 50-ROW topk relation (corpus side column-pruned to
    (vec_id, label)), a ≤|labels|-row count rollup for the ideal, and
    domain-bounded final arithmetic. One corpus-sized exchange total
    (the label rollup); everything after is ≤ 50 rows."""
    from talkdesk_async_etl_spark.operators.similarity import (
        _as_double,
        exact_topk_neighbors,
    )

    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
    labels = emb.select("vec_id", F.col("label").alias("lab"))
    topk = exact_topk_neighbors(vecs)
    dlit = F.array(*[F.lit(d).cast("long") for d in _NDCG_D])
    plit = F.array(*[F.lit(p).cast("long") for p in _NDCG_P])
    j = (
        topk.join(
            labels.select(F.col("vec_id").alias("q_id"), F.col("lab").alias("q_label")),
            "q_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("lab").alias("n_label")
            ),
            "neighbor_id",
        )
    )
    rel = F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
    dcg = j.groupBy("q_id", "q_label").agg(
        F.sum(rel).cast("long").alias("n_rel_topk"),
        F.sum(
            F.when(
                F.col("n_label") == F.col("q_label"),
                F.element_at(dlit, F.col("rank")),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("dcg_nano"),
    )
    lc = labels.groupBy(F.col("lab").alias("q_label")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    scored = dcg.join(lc, "q_label").select(
        "q_id",
        "q_label",
        "n_rel_topk",
        (F.col("c") - 1).cast("long").alias("n_rel_corpus"),
        "dcg_nano",
        F.when(F.col("c") - 1 < 1, F.lit(0).cast("long"))
        .otherwise(
            F.element_at(plit, F.least(F.col("c") - 1, F.lit(_NDCG_K)).cast("int"))
        )
        .cast("long")
        .alias("idcg_nano"),
    )
    return scored.select(
        "q_id",
        "q_label",
        "n_rel_topk",
        "n_rel_corpus",
        "dcg_nano",
        "idcg_nano",
        F.expr(
            "CASE WHEN idcg_nano = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((dcg_nano * 1000000 - (dcg_nano * 1000000) % idcg_nano)"
            "           / idcg_nano AS BIGINT) END"
        ).alias("ndcg_micro"),
    )


# --- round-15 wave E: probabilistic + retrieval eval ------------------

_BRIER_ORACLE = f"""
    WITH {_SCORED_CTE}
    SELECT y,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(p_micro) // count(*) AS BIGINT) AS mean_p_micro,
           CAST(sum((p_micro - y * 1000000) * (p_micro - y * 1000000))
                // count(*) AS BIGINT) AS brier_micro2
    FROM scored GROUP BY y
"""


@query("ml_eval_brier", oracle=_BRIER_ORACLE, tags=("mining", "ml", "eval"))
def ml_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 eval depth: per-class BRIER SCORE for the logreg scorer —
    the mean squared error of the published probability against the
    outcome, the strictly proper scoring rule that rewards
    calibration AND sharpness together (ml_calibration_bins shows
    WHERE probabilities drift; the Brier score is the single number
    that gets worse when they do). Split by outcome class, the pair
    of rows separates over-confidence on negatives from
    under-confidence on positives (the two halves of the Murphy
    decomposition's reliability term).

    INTEGER-EXACT over the same (p_micro, y) relation as the
    PR/ROC/calibration shelf: p is the micro-quantized score, so
    (p − y·1e6)² is an exact BIGINT ≤ 1e12 per row, accumulated in
    HUGEINT/DECIMAL(38,0), and the published per-class mean is one
    truncating division (micro² units). Mean predicted per class
    rides along — Brier − calibration in one glance.

    Plan: the _scored_labels tree (documents scan projecting the
    codegen'd score, one equi-join to the label parity bit) + one
    2-group map-side-combinable aggregate. No extra exchange beyond
    the score join at any corpus size."""
    s = _scored_labels(spark, sf_dir)
    dev = (F.col("p_micro") - F.col("y") * 1_000_000).cast("decimal(38,0)")
    return (
        s.groupBy("y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("p_micro").cast("decimal(38,0)")).alias("sp"),
            F.sum(dev * dev).alias("sd2"),
        )
        .select(
            "y",
            "n",
            F.expr("CAST((sp - sp % n) / n AS BIGINT)").alias("mean_p_micro"),
            F.expr("CAST((sd2 - sd2 % n) / n AS BIGINT)").alias("brier_micro2"),
        )
    )


_MRR_ORACLE = f"""
    WITH ranked AS (
        SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS n_label,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                                CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) DESC,
                            c.vec_id ASC) AS INTEGER) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_NDCG_QUERIES}
    )
    SELECT q_id, q_label,
           CAST(coalesce(min(CASE WHEN n_label = q_label THEN rank END), 0)
                AS BIGINT) AS first_rel_rank,
           CAST(CASE WHEN min(CASE WHEN n_label = q_label THEN rank END)
                          IS NULL THEN 0
                     ELSE 1000000 // min(CASE WHEN n_label = q_label
                                              THEN rank END) END
                AS BIGINT) AS rr_micro
    FROM ranked WHERE rank <= {_NDCG_K}
    GROUP BY q_id, q_label
"""


@query("ml_eval_mrr", oracle=_MRR_ORACLE, tags=("mining", "ml", "eval", "similarity"))
def ml_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10/D3 eval depth: RECIPROCAL RANK of the first same-label
    neighbor within the exact cosine top-10 — the metric for "the
    user takes the FIRST relevant result" retrieval (known-item
    search, dedup candidate lookup), complementing NDCG's graded
    position credit. Mean reciprocal rank is one trivial average
    over this per-query output.

    INTEGER-EXACT with no quantization at all: the reciprocal of an
    integer rank publishes as 1e6 div rank — an exact truncating
    division — and queries with NO relevant neighbor in the top-k pin
    both the rank and the reciprocal to 0 (distinguishable from a
    rank-1e6 hit by the published first_rel_rank). The ranking is
    the hash-attested sim_topk_cosine contract reused verbatim.

    Plan: the exact_topk_neighbors core (one kernel corpus scan) +
    label joins against the 50-row topk relation + a ≤|queries|-group
    aggregate — one corpus-sized pass, everything after ≤ 50 rows."""
    from talkdesk_async_etl_spark.operators.similarity import (
        _as_double,
        exact_topk_neighbors,
    )

    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
    labels = emb.select("vec_id", F.col("label").alias("lab"))
    topk = exact_topk_neighbors(vecs)
    j = (
        topk.join(
            labels.select(F.col("vec_id").alias("q_id"), F.col("lab").alias("q_label")),
            "q_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("lab").alias("n_label")
            ),
            "neighbor_id",
        )
    )
    first = j.groupBy("q_id", "q_label").agg(
        F.min(
            F.when(F.col("n_label") == F.col("q_label"), F.col("rank"))
        ).alias("fr")
    )
    return first.select(
        "q_id",
        "q_label",
        F.coalesce("fr", F.lit(0)).cast("long").alias("first_rel_rank"),
        F.expr(
            "CAST(CASE WHEN fr IS NULL THEN 0"
            " ELSE (1000000 - 1000000 % fr) / fr END AS BIGINT)"
        ).alias("rr_micro"),
    )


_LIFT_ORACLE = f"""
    WITH {_SCORED_CTE},
    keyed AS (
        SELECT f.doc_id, s2.p_micro, s2.y FROM feat f
        JOIN (SELECT CAST(floor(1 / (1 + exp(-({_W0} + f2.f_chars * {_W_CHARS}
                                              + f2.f_spaces * {_W_SPACES})))
                            * 1000000 + 0.5) AS BIGINT) AS p_micro,
                     CAST(e.label % 2 AS BIGINT) AS y, e.vec_id
              FROM feat f2 JOIN embeddings e ON e.vec_id = f2.doc_id) s2
          ON s2.vec_id = f.doc_id
    ),
    tiled AS (
        SELECT p_micro, y,
               CAST(ntile(10) OVER (ORDER BY p_micro DESC, doc_id)
                    AS INTEGER) AS decile
        FROM keyed
    ),
    per AS (
        SELECT decile, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(y) AS HUGEINT) AS pos
        FROM tiled GROUP BY 1
    ),
    cum AS (
        SELECT a.decile, CAST(a.n AS BIGINT) AS n, CAST(a.pos AS BIGINT) AS n_pos,
               CAST(sum(b.n) AS HUGEINT) AS cum_n,
               CAST(sum(b.pos) AS HUGEINT) AS cum_pos
        FROM per a JOIN per b ON b.decile <= a.decile
        GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT CAST(sum(n) AS HUGEINT) AS big_n,
               CAST(sum(pos) AS HUGEINT) AS big_p
        FROM per
    )
    SELECT c.decile, c.n, c.n_pos,
           CAST(c.cum_n AS BIGINT) AS cum_n,
           CAST(c.cum_pos AS BIGINT) AS cum_pos,
           CAST(c.cum_pos * 1000000 // t.big_p AS BIGINT) AS gain_micro,
           CAST(c.cum_pos * t.big_n * 1000000
                // (c.cum_n * t.big_p) AS BIGINT) AS lift_micro
    FROM cum c CROSS JOIN tot t
"""


@query("ml_eval_lift_table", oracle=_LIFT_ORACLE, tags=("mining", "ml", "eval"))
def ml_eval_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 eval depth: DECILE LIFT / CUMULATIVE-GAINS table for the
    logreg scorer — rank the population by score, cut into ten
    equal-count deciles, and report how concentrated the positives
    are in the top cuts. The triage-budget eval: "reviewing the top
    20% of documents catches X% of the bad ones at Y× random" is
    THE question a human-review or compute-budgeted curation queue
    asks, and neither ROC (threshold-free pairs) nor calibration
    (probability meaning) answers it.

    INTEGER-EXACT: the decile cut is two_pass_ntile over
    (p_micro DESC, doc_id) — hash-identical to ntile by the r14
    equivalence proof, range-partitioned, NO single-partition
    window; per-decile counts are BIGINTs; cumulatives come from the
    10-row broadcast theta-join (the agg_decile_shares Lorenz
    device, not a window); gain and lift publish as truncating
    divisions over HUGEINT/DECIMAL(38,0) cross products
    (cum_pos·N·1e6 is ~1e32 at 1e13 docs).

    Plan: the scored-labels tree, ONE range exchange for the exact
    global cut (the price of rank-based bucketing), then everything
    is 10-row relations plus the allowlisted 1-row totals broadcast."""
    from talkdesk_async_etl_spark.operators.stats import two_pass_ntile

    s = _scored_labels(spark, sf_dir)
    # size_hint: doc grain, bounded by the documents metadata count.
    tiled = two_pass_ntile(
        s,
        [F.col("p_micro").desc(), F.col("doc_id")],
        10,
        "decile",
        size_hint=t(spark, sf_dir, "documents").count(),
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("pos"),
    )
    a, b = per.alias("a"), per.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(
            F.col("a.decile").alias("decile"),
            F.col("a.n").alias("n_d"),
            F.col("a.pos").alias("pos_d"),
        )
        .agg(
            F.sum("b.n").alias("cum_n"),
            F.sum("b.pos").alias("cum_pos"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("big_n"), F.sum("pos").alias("big_p")
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_d").cast("long").alias("n"),
        F.col("pos_d").cast("long").alias("n_pos"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.expr(
            "CAST((cum_pos * 1000000 - (cum_pos * 1000000) % big_p) / big_p"
            " AS BIGINT)"
        ).alias("gain_micro"),
        F.expr(
            "CAST((cum_pos * big_n * 1000000"
            "      - (cum_pos * big_n * 1000000) % (cum_n * big_p))"
            "     / (cum_n * big_p) AS BIGINT)"
        ).alias("lift_micro"),
    )
