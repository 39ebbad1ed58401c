"""Model-evaluation extras: classifier confusion matrix, split-conformal
interval coverage, and the chi-square independence statistic — three
standard evaluation/statistics ops, each exact-integer and FULL-oracle.

- `lang_id_confusion`: the existing n-gram language-ID heuristic
  (llm_queries.text_lang_id) evaluated against the corpus's true `lang`
  labels as a confusion matrix (actual, predicted, n). The fixture's
  `zh` docs have NO heuristic class — the matrix shows where they land,
  exactly the out-of-vocabulary failure a confusion matrix exists to
  expose. One extra join/agg over the already-oracle-checked predictor.

- `conformal_interval_coverage`: split conformal prediction (Vovk;
  Angelopoulos & Bates 2023 tutorial form) around the naive one-step
  forecast of daily purchase counts: calibration days (Jan <= 16) give
  the residual order statistic at rank ceil((n_cal+1)*0.9); evaluation
  days count how often the true value falls within +-q. The distribution-
  free coverage guarantee (>= 90% in expectation) is measured, not
  assumed — coverage_micro rides in the row. All integer order-statistic
  arithmetic.

- `stats_chi2_contingency`: Pearson chi-square for independence of
  customer market segment x region, EXACT in micro units: per cell
  (O*N - R*C)^2 * 1e6 div (N*R*C), summed over the FULL segment x region
  spine (absent cells contribute their expected mass — dropping them is
  the classic chi-square bug, pinned here by construction).

Scale: confusion is one agg over the predictor; conformal runs on the
daily grain (windows over n_days rows); chi2 is two tiny aggs + a
25-row spine join. Nothing here grows faster than the grain it reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_data_transformer_spark.operators.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("actual_lang"))
        .join(pred, "doc_id")
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


SQL_LANG_ID_CONFUSION = r"""
WITH toks AS (
    SELECT doc_id, lang,
           string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
s AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(t, w -> w IN ('der','die','und','das','ein'))) AS BIGINT) AS score_de,
           CAST(len(list_filter(t, w -> w IN ('the','and','of','to','a'))) AS BIGINT) AS score_en,
           CAST(len(list_filter(t, w -> w IN ('el','la','que','de','un'))) AS BIGINT) AS score_es,
           CAST(len(list_filter(t, w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr
    FROM toks
),
pred AS (
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM s
)
SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
"""


_CAL_CUT = "2024-01-17"


def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter("event_type = 'purchase'")
    daily = ev.groupBy(ev.ts.cast("date").alias("day")).count()
    resid = daily.selectExpr(
        "day",
        "count AS actual",
        "lag(count, 1) OVER (ORDER BY day) AS fc",
    ).filter("fc IS NOT NULL").selectExpr(
        "day", "abs(actual - fc) AS abs_resid"
    )
    cal = resid.filter(f"day < DATE'{_CAL_CUT}'")
    q_hat = cal.selectExpr(
        "abs_resid",
        "row_number() OVER (ORDER BY abs_resid, day) AS rn",
        "count(*) OVER () AS n_cal",
    ).filter("rn = least((n_cal + 1) * 9 div 10 + CASE WHEN (n_cal + 1) * 9 % 10 = 0 THEN 0 ELSE 1 END, n_cal)").selectExpr(
        "abs_resid AS q_abs", "n_cal"
    )
    ev_days = resid.filter(f"day >= DATE'{_CAL_CUT}'")
    return (
        ev_days.crossJoin(F.broadcast(q_hat))
        .selectExpr(
            "n_cal", "q_abs",
            "CASE WHEN abs_resid <= q_abs THEN 1 ELSE 0 END AS covered",
        )
        .groupBy("n_cal", "q_abs")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.sum("covered").cast("long").alias("n_covered"),
            F.expr(
                "CAST(sum(covered) * 1000000 div count(*) AS BIGINT)"
            ).alias("coverage_micro"),
        )
        .selectExpr(
            "CAST(n_cal AS BIGINT) AS n_cal", "CAST(q_abs AS BIGINT) AS q_abs",
            "n_eval", "n_covered", "coverage_micro",
        )
    )


SQL_CONFORMAL_INTERVAL_COVERAGE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS actual
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
resid AS (
    SELECT day, abs(actual - fc) AS abs_resid
    FROM (SELECT day, actual, lag(actual, 1) OVER (ORDER BY day) AS fc
          FROM daily)
    WHERE fc IS NOT NULL
),
qh AS (
    SELECT abs_resid AS q_abs, n_cal
    FROM (SELECT abs_resid, day,
                 row_number() OVER (ORDER BY abs_resid, day) AS rn,
                 count(*) OVER () AS n_cal
          FROM resid WHERE day < DATE '{_CAL_CUT}')
    WHERE rn = least((n_cal + 1) * 9 // 10
                     + CASE WHEN (n_cal + 1) * 9 % 10 = 0 THEN 0 ELSE 1 END,
                     n_cal)
)
SELECT CAST(n_cal AS BIGINT) AS n_cal,
       CAST(q_abs AS BIGINT) AS q_abs,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN abs_resid <= q_abs THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
       CAST(sum(CASE WHEN abs_resid <= q_abs THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS coverage_micro
FROM resid, qh
WHERE day >= DATE '{_CAL_CUT}'
GROUP BY n_cal, q_abs
"""


def q_stats_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey", "n_regionkey"
    )
    obs = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment", "n_regionkey")
        .agg(F.count("*").alias("o"))
    )
    rows = obs.groupBy("c_mktsegment").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("n_regionkey").agg(F.sum("o").alias("c"))
    spine = rows.crossJoin(F.broadcast(cols))
    cells = spine.join(obs, ["c_mktsegment", "n_regionkey"], "left").selectExpr(
        "r", "c", "coalesce(o, 0) AS o"
    )
    tot = cells.selectExpr("CAST(sum(o) AS BIGINT) AS _n")
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.expr("CAST(max(_n) AS BIGINT)").alias("n"),
            F.count("*").cast("long").alias("n_cells"),
            F.expr(
                "CAST(sum((o * _n - r * c) * (o * _n - r * c) * 1000000"
                " div (_n * r * c)) AS BIGINT)"
            ).alias("chi2_micro"),
        )
    )


SQL_STATS_CHI2_CONTINGENCY = """
WITH obs AS (
    SELECT c_mktsegment, n_regionkey, count(*) AS o
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
),
r AS (SELECT c_mktsegment, sum(o) AS r FROM obs GROUP BY 1),
c AS (SELECT n_regionkey, sum(o) AS c FROM obs GROUP BY 1),
cells AS (
    SELECT r.r, c.c, coalesce(obs.o, 0) AS o
    FROM r CROSS JOIN c
    LEFT JOIN obs ON obs.c_mktsegment = r.c_mktsegment
                 AND obs.n_regionkey = c.n_regionkey
),
tot AS (SELECT sum(o) AS n FROM cells)
SELECT CAST(tot.n AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum((o * tot.n - r * c) * (o * tot.n - r * c) * 1000000
                // (tot.n * r * c)) AS BIGINT) AS chi2_micro
FROM cells, tot
GROUP BY tot.n
"""


def q_classifier_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall components and F1 for the language-ID
    heuristic, exact micro units — the multi-class eval summary that
    completes the repo's metric family (AUC, calibration, kappa,
    confusion live elsewhere). Per class c over the confusion matrix:
    tp/fp/fn counts and f1 = 2tp / (2tp + fp + fn) as truncating micro
    division. Classes are the ACTUAL label space (zh has tp=0 — its row
    reports the undetectable class honestly rather than dropping it).

    Scale: one agg over the predictor output + a classes-sized
    reshape; the metric table is |classes| rows."""
    from movie_data_transformer_spark.operators.sizing import widen_for_compute
    from movie_data_transformer_spark.operators.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    # widen the 4-profile marker scan off the narrow test-scale scan
    # (r13 sweep: 3.8s single-task); only (doc_id, text) shuffles
    pred = language_id(
        widen_for_compute(docs.select("doc_id", "text"))
    ).select("doc_id", "pred_lang")
    conf = (
        docs.select("doc_id", F.col("lang").alias("actual_lang"))
        .join(pred, "doc_id")
        .selectExpr(
            "actual_lang",
            "pred_lang",
            "CAST(actual_lang = pred_lang AS INT) AS hit",
        )
    )
    tp_fn = conf.groupBy(F.col("actual_lang").alias("class")).agg(
        F.sum("hit").cast("long").alias("tp"),
        F.expr("CAST(sum(1 - hit) AS BIGINT)").alias("fn"),
    )
    fp = (
        conf.filter("hit = 0")
        .groupBy(F.col("pred_lang").alias("class"))
        .agg(F.count("*").cast("long").alias("fp"))
    )
    return (
        tp_fn.join(fp, "class", "left")
        .selectExpr(
            "class",
            "tp",
            "coalesce(fp, CAST(0 AS BIGINT)) AS fp",
            "fn",
        )
        .selectExpr(
            "class",
            "tp",
            "fp",
            "fn",
            "CAST(coalesce(2 * tp * 1000000 div nullif(2 * tp + fp + fn, 0), 0)"
            " AS BIGINT) AS f1_micro",
        )
    )


SQL_CLASSIFIER_MACRO_F1 = r"""
WITH toks AS (
    SELECT doc_id, lang,
           string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
s AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(t, w -> w IN ('der','die','und','das','ein'))) AS BIGINT) AS score_de,
           CAST(len(list_filter(t, w -> w IN ('the','and','of','to','a'))) AS BIGINT) AS score_en,
           CAST(len(list_filter(t, w -> w IN ('el','la','que','de','un'))) AS BIGINT) AS score_es,
           CAST(len(list_filter(t, w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr
    FROM toks
),
pred AS (
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM s
),
tp_fn AS (
    SELECT actual_lang AS class,
           CAST(sum(CASE WHEN actual_lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN actual_lang = pred_lang THEN 0 ELSE 1 END) AS BIGINT) AS fn
    FROM pred GROUP BY 1
),
fp AS (
    SELECT pred_lang AS class, CAST(count(*) AS BIGINT) AS fp
    FROM pred WHERE actual_lang != pred_lang GROUP BY 1
)
SELECT t.class, t.tp, coalesce(fp.fp, 0) AS fp, t.fn,
       CAST(coalesce(2 * t.tp * 1000000
                     // nullif(2 * t.tp + coalesce(fp.fp, 0) + t.fn, 0), 0)
            AS BIGINT) AS f1_micro
FROM tp_fn t LEFT JOIN fp USING (class)
"""


QUERIES = {
    "lang_id_confusion": (q_lang_id_confusion, SQL_LANG_ID_CONFUSION),
    "classifier_macro_f1": (q_classifier_macro_f1, SQL_CLASSIFIER_MACRO_F1),
    "conformal_interval_coverage": (
        q_conformal_interval_coverage,
        SQL_CONFORMAL_INTERVAL_COVERAGE,
    ),
    "stats_chi2_contingency": (q_stats_chi2_contingency, SQL_STATS_CHI2_CONTINGENCY),
}
