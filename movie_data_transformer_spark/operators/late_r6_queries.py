"""Catch-all module for entries added AFTER the r10/r11 driver-window
plans were committed (NOTES.md): registered last in _MODULES, queued for
r12, so the frozen window sums stay exact. Same rules as everywhere
else — full DuckDB oracles, exact integer math, validated at 3 SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from movie_data_transformer_spark.operators.multimodal import (
    bmp_decode_pixels,
    map_media_rows,
    synthesize_bmp_media,
)
from movie_data_transformer_spark.sources.tables import load_table

HISTEQ_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_px", LongType()),
        StructField("levels_before", LongType()),
        StructField("levels_after", LongType()),
        StructField("eq_sum", LongType()),
        StructField("eq_min", LongType()),
        StructField("eq_max", LongType()),
    ]
)


def q_mm_histogram_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third real pixel transform: classic histogram equalization of the
    red channel over decoded 24-bit BMPs — he(v) = (cdf(v) - cdf_min)
    * 255 DIV (n_px - cdf_min), the exact-integer contrast stretch
    every imaging pipeline ships. Reported per image: pixel count,
    distinct gray levels before/after, and the equalized sum/min/max —
    a wrong cdf convention (strict vs <=), a wrong cdf_min, or a
    round-instead-of-floor each flips the hash. The generative pixel
    formula guarantees >= 2 levels (x=0 vs x=1 differ by 13 mod 256),
    so the denominator never hits 0. One mapInPandas projection, no
    shuffle; the oracle recomputes the mapping from the pixel formula
    with a per-level cumulative window."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_bmp_media(docs)

    def eq(row) -> list[tuple]:
        import numpy as np

        img = bmp_decode_pixels(bytes(row.content)).astype(np.int64)
        r = img[:, :, 0].ravel()
        n = r.size
        levels, counts = np.unique(r, return_counts=True)
        cdf = np.cumsum(counts)
        cdf_min = int(cdf[0])
        mapped = (cdf - cdf_min) * 255 // (n - cdf_min)
        lut = dict(zip(levels.tolist(), mapped.tolist()))
        eqv = np.array([lut[v] for v in r.tolist()], dtype=np.int64)
        return [
            (
                int(row.doc_id),
                int(n),
                int(levels.size),
                int(np.unique(eqv).size),
                int(eqv.sum()),
                int(eqv.min()),
                int(eqv.max()),
            )
        ]

    return map_media_rows(media, eq, HISTEQ_SCHEMA)


SQL_MM_HISTOGRAM_EQUALIZE = """
WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 9 AS h
           FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
cell AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w * h AS n_px,
              (doc_id * 7 + x * 13 + y * 31) % 256 AS r
       FROM cell),
hist AS (
    SELECT doc_id, n_px, r, count(*) AS c
    FROM px GROUP BY 1, 2, 3
),
cdf AS (
    SELECT doc_id, n_px, r, c,
           sum(c) OVER (PARTITION BY doc_id ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           min(r) OVER (PARTITION BY doc_id) AS r_min
    FROM hist
),
mapped AS (
    SELECT c1.doc_id, c1.n_px, c1.r, c1.c,
           (c1.cum - cm.cum) * 255 // (c1.n_px - cm.cum) AS he
    FROM cdf c1
    JOIN cdf cm ON cm.doc_id = c1.doc_id AND cm.r = c1.r_min
)
SELECT doc_id,
       CAST(n_px AS BIGINT) AS n_px,
       CAST(count(*) AS BIGINT) AS levels_before,
       CAST(count(DISTINCT he) AS BIGINT) AS levels_after,
       CAST(sum(he * c) AS BIGINT) AS eq_sum,
       CAST(min(he) AS BIGINT) AS eq_min,
       CAST(max(he) AS BIGINT) AS eq_max
FROM mapped
GROUP BY doc_id, n_px
"""


QUERIES = {
    "mm_histogram_equalize": (q_mm_histogram_equalize, SQL_MM_HISTOGRAM_EQUALIZE),
}


def q_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'what did dedup buy us' accounting — one report tying the
    three dedup tiers together over the planted-dup corpus:

      exact          - full-text digest groups: removable copies and
                       the token mass they free (copies share the
                       keeper's token count exactly)
      near_candidates- docs touched by >= 1 MinHash pair (theta=0.3):
                       the UPPER BOUND on near-dedup removal, with
                       their total token mass (the cluster-canonical
                       policy decides the final cut — dedup_apply_filter)
      cdc_chunks     - chunk-level storage savings: (refs-1) x token
                       mass over shared content-defined chunks (what a
                       chunk store would NOT write twice)

    Composes the PRODUCTION operators (exact digest convention, the
    real minhash pair generator, the real CDC histogram); the oracle
    composes the same published CTE fragments, so a drift in any tier's
    semantics breaks this hash too. Output: (method, n_units,
    tokens_saved) — three rows, exact bigints."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.dedup import (
        augmented_corpus,
        minhash_dedup_pairs,
        normalize_text,
    )
    from movie_data_transformer_spark.operators.dedup_extras_queries import (
        q_dedup_cdc_chunks,
    )

    corpus = augmented_corpus(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalize_text(F.col("text")).alias("text"), "lang", "n_chars"
    ).persist()  # three consumers: digest groups, the near-doc token
    # join, and the minhash pair generator; the CDC tier deliberately
    # rebuilds via q_dedup_cdc_chunks (its own fixture path)
    exact = (
        corpus.groupBy(F.md5("text").alias("dig"))
        .agg(
            F.count("*").alias("c"),
            F.min(F.size(F.split("text", " "))).cast("bigint").alias("toks"),
        )
        .filter(F.col("c") >= 2)
        .agg(
            F.sum(F.col("c") - 1).cast("bigint").alias("n_units"),
            F.sum((F.col("c") - 1) * F.col("toks")).cast("bigint").alias("tokens_saved"),
        )
        .selectExpr("'exact' AS method", "n_units", "tokens_saved")
    )
    pairs = minhash_dedup_pairs(corpus, max_bucket_size=10_000)
    near_docs = (
        pairs.selectExpr("doc_a AS doc_id")
        .unionAll(pairs.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    near = (
        near_docs.join(corpus, "doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_units"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens_saved"),
        )
        .selectExpr("'near_candidates' AS method", "n_units", "tokens_saved")
    )
    cdc = (
        q_dedup_cdc_chunks(spark, sf_dir)
        .filter(F.col("refs") >= 2)
        .agg(
            F.sum("n_chunks").cast("bigint").alias("n_units"),
            F.sum((F.col("refs") - 1) * F.col("chunk_tokens")).cast("bigint").alias("tokens_saved"),
        )
        .selectExpr("'cdc_chunks' AS method", "n_units", "tokens_saved")
    )
    return exact.unionAll(near).unionAll(cdc)


def _impact_sql() -> str:
    from movie_data_transformer_spark.operators.dedup_extras_queries import (
        _cdc_sql,
    )
    from movie_data_transformer_spark.operators.llm_queries import _minhash_ctes

    return f"""
WITH {_minhash_ctes()},
exact_g AS (
    SELECT md5(text) AS dig, count(*) AS c,
           min(len(string_split(text, ' '))) AS toks
    FROM corpus GROUP BY 1
),
near_docs AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
    )
),
cdc_hist AS (SELECT * FROM ({_cdc_sql()}) h)
SELECT 'exact' AS method,
       CAST(sum(c - 1) AS BIGINT) AS n_units,
       CAST(sum((c - 1) * toks) AS BIGINT) AS tokens_saved
FROM exact_g WHERE c >= 2
UNION ALL
SELECT 'near_candidates',
       CAST(count(*) AS BIGINT),
       CAST(sum(len(string_split(c2.text, ' '))) AS BIGINT)
FROM near_docs JOIN corpus c2 USING (doc_id)
UNION ALL
SELECT 'cdc_chunks',
       CAST(sum(n_chunks) AS BIGINT),
       CAST(sum((refs - 1) * chunk_tokens) AS BIGINT)
FROM cdc_hist WHERE refs >= 2
"""


QUERIES["dedup_impact_report"] = (q_dedup_impact_report, _impact_sql())


def q_revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent roll-up over the region -> nation hierarchy:
    per nation, exact-cents revenue with its floor-micro share of the
    parent region AND the region's share of the grand total — the
    drill-down report every BI layer renders. Shares are window-over-
    parent on the small nation-grain aggregate (the q11/q15 small-
    aggregate pattern); the one corpus-sized shuffle is the customer-
    keyed revenue roll-up, with region/nation dims broadcast."""
    from pyspark.sql import functions as F  # noqa: F401 (selectExpr below)

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_rs_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_rs_customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_rs_nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("_rs_region")
    return spark.sql(
        """
        WITH rev AS (
            SELECT r.r_name, n.n_name,
                   CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS rev_cents
            FROM _rs_orders o
            JOIN _rs_customer c ON c.c_custkey = o.o_custkey
            JOIN _rs_nation n ON n.n_nationkey = c.c_nationkey
            JOIN _rs_region r ON r.r_regionkey = n.n_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT r_name, n_name, rev_cents,
               CAST(CAST((nm - (nm % rd)) / rd AS BIGINT) AS DOUBLE)
                   / 1000000 AS share_of_region,
               CAST(CAST((rm - (rm % td)) / td AS BIGINT) AS DOUBLE)
                   / 1000000 AS region_share_of_total
        FROM (
            -- DECIMAL(38,0) lift: rev sums * 1e6 clear int64 around
            -- TPC-H SF1-2 (the ABC/bootstrap overflow class)
            SELECT r_name, n_name, rev_cents,
                   CAST(rev_cents AS DECIMAL(38,0)) * 1000000 AS nm,
                   CAST(sum(rev_cents) OVER (PARTITION BY r_name)
                       AS DECIMAL(38,0)) AS rd,
                   CAST(sum(rev_cents) OVER (PARTITION BY r_name)
                       AS DECIMAL(38,0)) * 1000000 AS rm,
                   CAST(sum(rev_cents) OVER () AS DECIMAL(38,0)) AS td
            FROM rev
        )
        """
    )


SQL_REVENUE_SHARE_HIERARCHY = """
WITH rev AS (
    SELECT r.r_name, n.n_name,
           CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, rev_cents,
       CAST(CAST((nm - (nm % rd)) // rd AS BIGINT) AS DOUBLE) / 1000000
           AS share_of_region,
       CAST(CAST((rm - (rm % td)) // td AS BIGINT) AS DOUBLE) / 1000000
           AS region_share_of_total
FROM (
    SELECT r_name, n_name, rev_cents,
           CAST(rev_cents AS HUGEINT) * 1000000 AS nm,
           CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS HUGEINT) AS rd,
           CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS HUGEINT)
               * 1000000 AS rm,
           CAST(sum(rev_cents) OVER () AS HUGEINT) AS td
    FROM rev
)
"""


QUERIES["revenue_share_hierarchy"] = (
    q_revenue_share_hierarchy,
    SQL_REVENUE_SHARE_HIERARCHY,
)


def q_customer_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix: spend terciles (low/mid/high,
    ntile over the total order (spend, custkey)) computed independently
    for the first and second half of the order history (split at the
    median order date via the midpoint of min/max epoch-days), then the
    transition counts between the two classifications — churned-in /
    churned-out customers appear against the 'absent' segment. The
    'who moved down' report behind every retention program.

    Scale: two customer-grain aggs (one per half, same shuffle key),
    tercile windows on the customer table, full-outer join on custkey."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_mig_orders")
    return spark.sql(
        """
        WITH bounds AS (
            SELECT (min(unix_timestamp(CAST(o_orderdate AS TIMESTAMP)))
                    DIV 86400
                    + max(unix_timestamp(CAST(o_orderdate AS TIMESTAMP)))
                    DIV 86400) DIV 2 AS mid
            FROM _mig_orders
        ),
        halves AS (
            SELECT o_custkey,
                   CASE WHEN unix_timestamp(CAST(o_orderdate AS TIMESTAMP))
                        DIV 86400 <= mid THEN 1 ELSE 2 END AS half,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
            FROM _mig_orders CROSS JOIN bounds
        ),
        spend AS (
            SELECT o_custkey, half, CAST(sum(cents) AS BIGINT) AS spend
            FROM halves GROUP BY 1, 2
        ),
        terciled AS (
            SELECT o_custkey, half,
                   ntile(3) OVER (PARTITION BY half
                       ORDER BY spend ASC, o_custkey ASC) AS t
            FROM spend
        ),
        h1 AS (SELECT o_custkey, t FROM terciled WHERE half = 1),
        h2 AS (SELECT o_custkey, t FROM terciled WHERE half = 2)
        SELECT coalesce(CAST(h1.t AS STRING), 'absent') AS seg_h1,
               coalesce(CAST(h2.t AS STRING), 'absent') AS seg_h2,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM h1 FULL OUTER JOIN h2 ON h2.o_custkey = h1.o_custkey
        GROUP BY 1, 2
        """
    )


SQL_CUSTOMER_MIGRATION_MATRIX = """
WITH bounds AS (
    SELECT (CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
            // 86400) AS d FROM orders
),
mid_t AS (SELECT (min(d) + max(d)) // 2 AS mid FROM bounds),
halves AS (
    SELECT o_custkey,
           CASE WHEN CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
                AS BIGINT) // 86400 <= mid THEN 1 ELSE 2 END AS half,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders CROSS JOIN mid_t
),
spend AS (
    SELECT o_custkey, half, CAST(sum(cents) AS BIGINT) AS spend
    FROM halves GROUP BY 1, 2
),
terciled AS (
    SELECT o_custkey, half,
           ntile(3) OVER (PARTITION BY half
               ORDER BY spend ASC, o_custkey ASC) AS t
    FROM spend
),
h1 AS (SELECT o_custkey, t FROM terciled WHERE half = 1),
h2 AS (SELECT o_custkey, t FROM terciled WHERE half = 2)
SELECT coalesce(CAST(h1.t AS VARCHAR), 'absent') AS seg_h1,
       coalesce(CAST(h2.t AS VARCHAR), 'absent') AS seg_h2,
       CAST(count(*) AS BIGINT) AS n_customers
FROM h1 FULL OUTER JOIN h2 ON h2.o_custkey = h1.o_custkey
GROUP BY 1, 2
"""


QUERIES["customer_migration_matrix"] = (
    q_customer_migration_matrix,
    SQL_CUSTOMER_MIGRATION_MATRIX,
)


def q_stream_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-contract check as a CONTINUOUS gate: events stream
    through an availableNow foreachBatch run (map-only projection of
    the checked fields appended per micro-batch) and the expectations
    report — completeness(user_id, ts), compliance(value >= 0),
    uniqueness(event_id) — is evaluated in finalize over the
    accumulated log, the production shape where every landing
    micro-batch refreshes the contract dashboard before downstream
    consumers read it. Counts are associative, so the report is
    slicing-invariant and shares a batch-form FULL oracle (the
    dq_expectations_report sibling does the batch/orders side)."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.sources.tables import load_events_stream
    from movie_data_transformer_spark.streaming.harness import (
        run_availablenow_to_df,
    )

    stream = load_events_stream(spark, sf_dir, maxFilesPerTrigger="1")
    proj = stream.select("event_id", "user_id", "ts", "value")

    def finalize(em: DataFrame) -> DataFrame:
        em.createOrReplaceTempView("_sdq_log")
        return em.sparkSession.sql(
            """
            WITH base AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(count(user_id) AS BIGINT) AS nn_user,
                       CAST(count(ts) AS BIGINT) AS nn_ts,
                       CAST(count(CASE WHEN value >= 0 THEN 1 END) AS BIGINT)
                           AS nonneg
                FROM _sdq_log
            ),
            uniq AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                           AS unique_keys
                FROM (SELECT event_id, count(*) AS c
                      FROM _sdq_log GROUP BY event_id)
            ),
            report AS (
                SELECT 'completeness:user_id' AS expectation,
                       nn_user AS passed, n - nn_user AS failed, n FROM base
                UNION ALL
                SELECT 'completeness:ts', nn_ts, n - nn_ts, n FROM base
                UNION ALL
                SELECT 'compliance:value>=0', nonneg, n - nonneg, n FROM base
                UNION ALL
                SELECT 'uniqueness:event_id',
                       unique_keys, n_rows - unique_keys, n_rows FROM uniq
            )
            SELECT expectation, passed, failed,
                   CAST(passed * 1000000 DIV n AS DOUBLE) / 1000000
                       AS pass_rate,
                   CAST(CASE WHEN failed = 0 THEN 1 ELSE 0 END AS INT) AS ok
            FROM report
            """
        )

    return run_availablenow_to_df(proj, "append", "mdt_sdq_", finalize=finalize)


SQL_STREAM_DQ_EXPECTATIONS = """
WITH base AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(user_id) AS BIGINT) AS nn_user,
           CAST(count(ts) AS BIGINT) AS nn_ts,
           CAST(count(CASE WHEN value >= 0 THEN 1 END) AS BIGINT) AS nonneg
    FROM events
),
uniq AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS unique_keys
    FROM (SELECT event_id, count(*) AS c FROM events GROUP BY event_id)
),
report AS (
    SELECT 'completeness:user_id' AS expectation,
           nn_user AS passed, n - nn_user AS failed, n FROM base
    UNION ALL
    SELECT 'completeness:ts', nn_ts, n - nn_ts, n FROM base
    UNION ALL
    SELECT 'compliance:value>=0', nonneg, n - nonneg, n FROM base
    UNION ALL
    SELECT 'uniqueness:event_id', unique_keys, n_rows - unique_keys, n_rows
    FROM uniq
)
SELECT expectation, passed, failed,
       CAST(passed * 1000000 // n AS DOUBLE) / 1000000 AS pass_rate,
       CAST(CASE WHEN failed = 0 THEN 1 ELSE 0 END AS INT) AS ok
FROM report
"""


QUERIES["stream_dq_expectations"] = (
    q_stream_dq_expectations,
    SQL_STREAM_DQ_EXPECTATIONS,
)


def q_dedup_minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality, driver-visible: the MinHash pair generator's EXACT
    recall against the brute-force all-pairs ground truth at the same
    threshold (jaccard >= 0.3 on the same trigram shingle sets).
    minhash_dedup_pairs verifies every candidate with exact Jaccard, so
    found is a SUBSET of truth and precision is 1.0 by construction —
    the quantity that can degrade is recall (bands missed the pair),
    and this report turns the pytest-only recall gate into a binding
    CORRECTNESS row: n_true_pairs, n_found, n_missed, recall floor-micro.

    Scale note: the ground-truth side is the all-pairs inverted-list
    join — affordable here because trigram df is tiny, and at 100 TB
    this entry runs on an AUDIT SAMPLE (the standard way recall is
    monitored in production dedup), while the LSH side is the shipping
    path."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.dedup import (
        augmented_corpus,
        doc_shingles,
        minhash_dedup_pairs,
    )
    from movie_data_transformer_spark.operators.pairs import jaccard_pairs, pair_recall

    corpus = augmented_corpus(load_table(spark, sf_dir, "documents"))
    # doc_shingles is per-doc distinct by construction (array_distinct
    # inside word_shingles) — no extra corpus-wide shuffle needed;
    # persisted: the sizes and both self-join sides read it
    sh = doc_shingles(corpus, n=3).selectExpr("doc_id AS doc", "shingle").persist()
    truth = (
        jaccard_pairs(sh, "shingle", "doc")
        .filter(F.col("jaccard_micro") / 1_000_000 >= 0.3)
        .select("doc_a", "doc_b")
    )
    found = minhash_dedup_pairs(corpus, max_bucket_size=10_000)
    return pair_recall(truth, found)


def _minhash_recall_sql() -> str:
    from movie_data_transformer_spark.operators.llm_queries import _minhash_ctes

    return f"""
WITH {_minhash_ctes()},
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
tsizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
tinter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM dsh a JOIN dsh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT doc_a, doc_b
    FROM tinter
    JOIN tsizes na ON na.doc_id = doc_a
    JOIN tsizes nb ON nb.doc_id = doc_b
    WHERE CAST(n_inter * 1000000 // (na.n + nb.n - n_inter) AS DOUBLE)
              / 1000000 >= 0.3
),
counts AS (
    SELECT (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FROM pairs) AS n_found,
           (SELECT count(*) FROM truth t
            WHERE NOT EXISTS (SELECT 1 FROM pairs p
                WHERE p.doc_a = t.doc_a AND p.doc_b = t.doc_b)) AS n_missed
)
SELECT CAST(n_true AS BIGINT) AS n_true_pairs,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(n_missed AS BIGINT) AS n_missed,
       CASE WHEN n_true = 0 THEN 1.0
            ELSE CAST(n_found * 1000000 // n_true AS DOUBLE) / 1000000
       END AS recall
FROM counts
"""


QUERIES["dedup_minhash_recall_report"] = (
    q_dedup_minhash_recall_report,
    _minhash_recall_sql(),
)


OVL_GAP_S = 1800
OVL_BUCKET_S = 21600


def q_join_sessions_overlap_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join without the quadratic blowup — the TEMPORAL
    twin of join_points_in_boxes_grid: sessionized user intervals are
    exploded onto a 6h time grid, candidate pairs form only WITHIN a
    grid cell (distinct-deduped across cells), and the exact overlap
    predicate (s1 <= e2 AND s2 <= e1, second grain) verifies — the
    standard banding that turns interval self-joins into equi-joins.
    Output: per user pair, how many of their session pairs truly
    overlapped — the 'who is online together' affinity matrix.

    Scale: fanout bounded by duration/bucket; the candidate join is
    keyed on the grid cell (time-local skew only — a flash-crowd hour
    is exactly AQE-skew-split territory); verify is row-local."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.temporal import sessionize

    ev = load_table(spark, sf_dir, "events")
    sessions = (
        sessionize(ev, gap_seconds=OVL_GAP_S)
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts_s").alias("s"), F.max("ts_s").alias("e"))
    )
    sessions.createOrReplaceTempView("_ovl_sessions")
    return spark.sql(
        f"""
        WITH cells AS (
            SELECT user_id, session_idx, s, e,
                   explode(sequence(s DIV {OVL_BUCKET_S},
                                    e DIV {OVL_BUCKET_S})) AS cell
            FROM _ovl_sessions
        ),
        cand AS (
            SELECT DISTINCT
                   a.user_id AS user_a, a.session_idx AS sess_a,
                   a.s AS s_a, a.e AS e_a,
                   b.user_id AS user_b, b.session_idx AS sess_b,
                   b.s AS s_b, b.e AS e_b
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.user_id < b.user_id
        )
        SELECT user_a, user_b,
               CAST(count(*) AS BIGINT) AS n_overlapping_sessions
        FROM cand
        WHERE s_a <= e_b AND s_b <= e_a
        GROUP BY user_a, user_b
        """
    )


SQL_JOIN_SESSIONS_OVERLAP_GRID = f"""
WITH seq AS (
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
           CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                   > {OVL_GAP_S}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts))
        AS BIGINT) ASC, event_id ASC)
),
numbered AS (
    SELECT user_id, ts_s,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s ASC,
               event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
               ROW) AS session_idx
    FROM seq
),
sessions AS (
    SELECT user_id, session_idx, min(ts_s) AS s, max(ts_s) AS e
    FROM numbered GROUP BY 1, 2
),
cells AS (
    SELECT user_id, session_idx, s, e,
           unnest(range(s // {OVL_BUCKET_S}, e // {OVL_BUCKET_S} + 1)) AS cell
    FROM sessions
),
cand AS (
    SELECT DISTINCT
           a.user_id AS user_a, a.session_idx AS sess_a, a.s AS s_a, a.e AS e_a,
           b.user_id AS user_b, b.session_idx AS sess_b, b.s AS s_b, b.e AS e_b
    FROM cells a JOIN cells b
      ON a.cell = b.cell AND a.user_id < b.user_id
)
SELECT user_a, user_b, CAST(count(*) AS BIGINT) AS n_overlapping_sessions
FROM cand
WHERE s_a <= e_b AND s_b <= e_a
GROUP BY user_a, user_b
"""


QUERIES["join_sessions_overlap_grid"] = (
    q_join_sessions_overlap_grid,
    SQL_JOIN_SESSIONS_OVERLAP_GRID,
)


def q_udf_group_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST unexercised Python extension surface: GROUPED
    applyInArrow (Spark 4) — per-lang corpus stats computed from raw
    pyarrow tables (one RecordBatch group per lang, zero pandas
    conversion), held to the oracle of its pure-SQL expression twin
    like the rest of the udf_surface family. Completes the matrix:
    scalar arrow UDF, mapInArrow, pandas UDAF/cogroup/applyInPandas/
    UDTF, and now grouped Arrow. Hot paths still use none of these."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents").select("lang", "text", "n_chars")

    def stats(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        lang = table.column("lang")[0].as_py()
        texts = table.column("text")
        n_docs = table.num_rows
        # whitespace token count == size(split(trim(text), '\\s+'))
        # trim SPACES only (pc.utf8_trim(' ')) to match the oracle's
        # DuckDB trim(), which strips U+0020 — not all Unicode whitespace
        toks = pc.list_value_length(
            pc.split_pattern_regex(pc.utf8_trim(texts, " "), r"\s+")
        )
        total_tokens = pc.sum(toks).as_py()
        max_chars = pc.max(table.column("n_chars")).as_py()
        return pa.table(
            {
                "lang": pa.array([lang], pa.string()),
                "n_docs": pa.array([n_docs], pa.int64()),
                "total_tokens": pa.array([int(total_tokens)], pa.int64()),
                "max_chars": pa.array([int(max_chars)], pa.int64()),
            }
        )

    return docs.groupBy("lang").applyInArrow(
        stats, "lang string, n_docs long, total_tokens long, max_chars long"
    )


SQL_UDF_GROUP_APPLY_ARROW = r"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS total_tokens,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
"""


QUERIES["udf_group_apply_arrow"] = (
    q_udf_group_apply_arrow,
    SQL_UDF_GROUP_APPLY_ARROW,
)


# --- winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS fingerprint) ---
WIN_K = 4   # tokens per k-gram
WIN_W = 5   # window of consecutive k-gram hashes
# selection key packs (hash asc, pos desc) into one bigint so BOTH
# engines pick the RIGHTMOST minimal hash per window with a plain min():
# key = hash * 2^24 + (2^24 - 1 - pos); hash < 2^32 so key < 2^56, and
# the position field holds docs up to 16M tokens (declared domain —
# beyond that the pos term would borrow into the hash bits AND the
# negative key would trunc/floor-diverge between engines).
_POS_MOD = 1 << 24


def q_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints + cross-doc matching — the MOSS
    plagiarism-detection algorithm, a FOURTH fingerprint family beside
    MinHash (Jaccard), SimHash (cosine), and CDC (storage): hash every
    K-token gram, slide a window of W consecutive hashes, and select
    each window's RIGHTMOST MINIMAL hash. The guarantee (the reason
    winnowing is used for code/plagiarism matching): any shared token
    run of length >= W + K - 1 yields at least one shared fingerprint
    — pinned by the planted-run pytest. Pairs sharing >= 2 selected
    hashes are reported with their shared count (df-capped at 100 to
    drop boilerplate grams, the exact_substr convention).

    Shape: one posexplode + ONE ordered window pass per doc (k-gram via
    leads, window min over a ROWS frame on the packed key), distinct
    selected hashes, one df cap, one bucket self-join — every stage a
    keyed shuffle."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.dedup import (
        augmented_corpus,
        normalize_text,
    )
    from movie_data_transformer_spark.operators.pairs import shared_key_pairs

    docs = augmented_corpus(load_table(spark, sf_dir, "documents"))
    docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("t")
    ).createOrReplaceTempView("_win_toks")
    leads = ", ".join(f"lead(tok, {j}) OVER w AS t{j}" for j in range(1, WIN_K))
    gram = ", ".join(["tok"] + [f"t{j}" for j in range(1, WIN_K)])
    # the fingerprint table is persisted: both self-join sides read it,
    # and each uncached reference re-runs the posexplode + both per-doc
    # window passes — cached rows are two integers per selected
    # fingerprint
    fps = spark.sql(
        f"""
        WITH posed AS (
            SELECT doc_id, p.pos + 1 AS pos, p.tok
            FROM _win_toks LATERAL VIEW posexplode(t) p AS pos, tok
        ),
        led AS (
            SELECT doc_id, pos, tok, {leads},
                   count(*) OVER (PARTITION BY doc_id) AS n
            FROM posed WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        grams AS (
            SELECT doc_id, pos,
                   CAST(conv(substr(md5(concat_ws(' ', {gram})), 1, 8),
                       16, 10) AS BIGINT) AS h
            FROM led
            WHERE pos <= n - {WIN_K} + 1
        ),
        keyed AS (
            SELECT doc_id, pos,
                   h * {_POS_MOD} + ({_POS_MOD} - 1 - pos) AS key
            FROM grams
        ),
        winmin AS (
            SELECT doc_id,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW)
                       AS sel_key,
                   row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS wpos
            FROM keyed
        )
        SELECT DISTINCT doc_id, sel_key DIV {_POS_MOD} AS h
        FROM winmin WHERE wpos >= {WIN_W}
        """
    ).persist()
    return (
        shared_key_pairs(fps.selectExpr("doc_id AS doc", "h"), "h", "doc", max_per_key=100)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 2)
    )


def _winnowing_sql() -> str:
    from movie_data_transformer_spark.operators.dedup import CORPUS_ORACLE_CTE

    leads = ", ".join(f"lead(t[i], {j}) OVER w AS t{j}" for j in range(1, WIN_K))
    gram = ", ".join(["t[i]"] + [f"t{j}" for j in range(1, WIN_K)])
    return f"""
WITH {CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
posed AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM toks),
led AS (
    SELECT doc_id, i AS pos, t[i] AS tok0, {leads},
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM posed WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
grams AS (
    SELECT doc_id, pos,
           CAST('0x' || substr(md5(concat_ws(' ', tok0,
               {", ".join(f"t{j}" for j in range(1, WIN_K))})), 1, 8)
               AS BIGINT) AS h
    FROM led
    WHERE pos <= n - {WIN_K} + 1
),
keyed AS (
    SELECT doc_id, pos, h * {_POS_MOD} + ({_POS_MOD} - 1 - pos) AS key
    FROM grams
),
winmin AS (
    SELECT doc_id,
           min(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW) AS sel_key,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS wpos
    FROM keyed
),
fps AS (
    SELECT DISTINCT doc_id, sel_key // {_POS_MOD} AS h
    FROM winmin WHERE wpos >= {WIN_W}
),
rare AS (SELECT h FROM fps GROUP BY h HAVING count(*) <= 100),
kept AS (SELECT fps.* FROM fps JOIN rare USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_fps
FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


QUERIES["dedup_winnowing_pairs"] = (q_dedup_winnowing_pairs, _winnowing_sql())


BOT_WINDOW_S = 600
BOT_BURST_FLOOR = 5


def q_events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot/abuse screen — the two classic signals, exact:

      burst      - the user's MAX event count inside any trailing
                   10-minute RANGE window (super-human rate);
      regularity - inter-event gap variance, cross-multiplied to exact
                   integers (n*sum(g^2) - S^2 over scaled deviations) —
                   near-zero variance at volume means a metronome, not
                   a human.

    Output per user: n_events, max_burst_10min, mean_gap scaled-micro,
    the exact variance numerator/denominator pair (so the oracle binds
    the full rational, not a rounded quotient), and the burst flag.
    RANGE (not ROWS) windows make the burst metric calendar-correct.

    Scale: one user-keyed shuffle; both windows and the gap aggregate
    ride the same partitioning."""
    from pyspark.sql import functions as F  # noqa: F401

    load_table(spark, sf_dir, "events").createOrReplaceTempView("_bot_events")
    return spark.sql(
        f"""
        WITH e AS (
            SELECT user_id, event_id, unix_timestamp(ts) AS t
            FROM _bot_events
        ),
        burst AS (
            SELECT user_id,
                   count(*) OVER (PARTITION BY user_id ORDER BY t
                       RANGE BETWEEN {BOT_WINDOW_S} PRECEDING AND CURRENT
                       ROW) AS w_cnt
            FROM e
        ),
        burst_max AS (
            SELECT user_id, CAST(max(w_cnt) AS BIGINT) AS max_burst
            FROM burst GROUP BY user_id
        ),
        gaps AS (
            SELECT user_id, t - lag(t) OVER (PARTITION BY user_id
                ORDER BY t, event_id) AS g
            FROM e
        ),
        gap_stats AS (
            SELECT user_id,
                   CAST(count(g) AS BIGINT) AS n_gaps,
                   CAST(sum(g) AS BIGINT) AS sg,
                   CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS
                       DECIMAL(19,0))) AS DECIMAL(38,0)) AS sgg
            FROM gaps WHERE g IS NOT NULL
            GROUP BY user_id
        )
        SELECT b.user_id,
               CAST(coalesce(g.n_gaps + 1, 1) AS BIGINT) AS n_events,
               b.max_burst AS max_burst_10min,
               CAST(g.sg * 1000000 DIV g.n_gaps AS BIGINT)
                   AS mean_gap_micro_s,
               CAST(CAST(g.n_gaps * g.sgg - CAST(g.sg AS DECIMAL(19,0))
                   * g.sg AS DECIMAL(38,0)) AS STRING) AS var_numer,
               CAST(g.n_gaps AS BIGINT) * g.n_gaps AS var_denom_sq,
               CAST(CASE WHEN b.max_burst >= {BOT_BURST_FLOOR}
                    THEN 1 ELSE 0 END AS INT) AS burst_flag
        FROM burst_max b
        -- LEFT: a single-event user has no gaps but MUST stay in the
        -- screen (NULL gap stats, n_events = 1)
        LEFT JOIN gap_stats g ON g.user_id = b.user_id
        """
    )


SQL_EVENTS_BOT_SCORE = f"""
WITH e AS (
    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
    FROM events
),
burst AS (
    SELECT user_id,
           count(*) OVER (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN {BOT_WINDOW_S} PRECEDING AND CURRENT ROW)
               AS w_cnt
    FROM e
),
burst_max AS (
    SELECT user_id, CAST(max(w_cnt) AS BIGINT) AS max_burst
    FROM burst GROUP BY user_id
),
gaps AS (
    SELECT user_id, t - lag(t) OVER (PARTITION BY user_id
        ORDER BY t, event_id) AS g
    FROM e
),
gap_stats AS (
    SELECT user_id,
           CAST(count(g) AS BIGINT) AS n_gaps,
           CAST(sum(g) AS BIGINT) AS sg,
           CAST(sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS HUGEINT)
               AS sgg
    FROM gaps WHERE g IS NOT NULL
    GROUP BY user_id
)
SELECT b.user_id,
       CAST(coalesce(g.n_gaps + 1, 1) AS BIGINT) AS n_events,
       b.max_burst AS max_burst_10min,
       CAST(g.sg * 1000000 // g.n_gaps AS BIGINT) AS mean_gap_micro_s,
       CAST(g.n_gaps * g.sgg - CAST(g.sg AS HUGEINT) * g.sg AS VARCHAR)
           AS var_numer,
       CAST(g.n_gaps AS BIGINT) * g.n_gaps AS var_denom_sq,
       CAST(CASE WHEN b.max_burst >= {BOT_BURST_FLOOR} THEN 1 ELSE 0 END
           AS INT) AS burst_flag
FROM burst_max b
LEFT JOIN gap_stats g ON g.user_id = b.user_id
"""


QUERIES["events_bot_score"] = (q_events_bot_score, SQL_EVENTS_BOT_SCORE)


DUP_PAY_WINDOW_D = 3


def q_orders_duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen — the classic finance-ops control: pairs
    of orders by the SAME customer for the IDENTICAL cent amount within
    3 days of each other (double-submission / double-billing suspects).
    The join is keyed on (custkey, cents) — exact-match blocking, so
    the candidate space is each customer's per-amount order list, never
    a cross join — with the day-window predicate verified row-locally.
    Output: one row per suspect pair with the gap in days, plus a
    same-day flag (the highest-severity tier). Exact integers.

    Scale: one (custkey, cents)-keyed self-join; amount collisions per
    customer are tiny, and a pathological repeated-amount customer is
    exactly the AQE-skew-split case."""
    from pyspark.sql import functions as F  # noqa: F401

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_dp_orders")
    # the organic corpus has near-unique prices (zero collisions at any
    # SF), so the screen runs over an AUGMENTED feed with PLANTED
    # double-submissions (orderkey % 997 == 0 re-submitted next day as
    # orderkey + 10^8, same customer and amount — the augmented_corpus
    # discipline) so the oracle binds real detection work
    return spark.sql(
        f"""
        WITH aug AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            FROM _dp_orders
            UNION ALL
            SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
                   date_add(o_orderdate, 1)
            FROM _dp_orders WHERE o_orderkey % 997 = 0
        ),
        o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents,
                   CAST(datediff(o_orderdate, DATE '1990-01-01') AS BIGINT)
                       AS day_idx
            FROM aug
        )
        SELECT a.o_custkey AS custkey,
               a.o_orderkey AS order_a, b.o_orderkey AS order_b,
               a.cents,
               CAST(abs(b.day_idx - a.day_idx) AS BIGINT) AS gap_days,
               CAST(CASE WHEN a.day_idx = b.day_idx THEN 1 ELSE 0 END
                   AS INT) AS same_day
        FROM o a JOIN o b
          ON a.o_custkey = b.o_custkey AND a.cents = b.cents
         AND a.o_orderkey < b.o_orderkey
         AND abs(b.day_idx - a.day_idx) <= {DUP_PAY_WINDOW_D}
        """
    )


SQL_ORDERS_DUPLICATE_PAYMENT_SCREEN = f"""
WITH aug AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
           CAST(o_orderdate AS DATE) + INTERVAL 1 DAY
    FROM orders WHERE o_orderkey % 997 = 0
),
o AS (
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
           CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
               AS BIGINT) AS day_idx
    FROM aug
)
SELECT a.o_custkey AS custkey,
       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       a.cents,
       CAST(abs(b.day_idx - a.day_idx) AS BIGINT) AS gap_days,
       CAST(CASE WHEN a.day_idx = b.day_idx THEN 1 ELSE 0 END AS INT)
           AS same_day
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.cents = b.cents
 AND a.o_orderkey < b.o_orderkey
 AND abs(b.day_idx - a.day_idx) <= {DUP_PAY_WINDOW_D}
"""


QUERIES["orders_duplicate_payment_screen"] = (
    q_orders_duplicate_payment_screen,
    SQL_ORDERS_DUPLICATE_PAYMENT_SCREEN,
)


def q_supplier_reliability_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procurement scorecard: per supplier, exact floor-micro late-ship
    rate (shipped > 60 days after the order date — the corpus's adapted
    lateness rule, cf. tpch q12) and return rate (l_returnflag = 'R'),
    plus shipped-line volume and revenue cents, ranked by late rate
    (total order: rate desc, volume desc, suppkey). One fact-side
    shuffle to supplier grain; the orders date rides a broadcast-ready
    orderkey join."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.ordered_stats import (
        attach_order_stats,
    )

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_sr_li")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_sr_orders")
    s = spark.sql(
        """
        WITH j AS (
            SELECT l.l_suppkey,
                   CASE WHEN datediff(l.l_shipdate, o.o_orderdate) > 60
                        THEN 1 ELSE 0 END AS is_late,
                   CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_ret,
                   CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT) AS cents
            FROM _sr_li l JOIN _sr_orders o ON o.o_orderkey = l.l_orderkey
        )
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(is_late) AS BIGINT) AS n_late,
               CAST(sum(is_ret) AS BIGINT) AS n_returned,
               CAST(sum(cents) AS BIGINT) AS rev_cents,
               CAST(sum(is_late) AS BIGINT) * 1000000 DIV count(*)
                   AS late_micro
        FROM j GROUP BY l_suppkey
        """
    )
    # risk_rank via the two-pass global rank (ordered_stats) — no
    # single-partition window over the supplier grain
    ranked = attach_order_stats(
        s,
        [
            F.col("late_micro").desc(),
            F.col("n_lines").desc(),
            F.col("l_suppkey").asc(),
        ],
        "late_micro",
        True,
        row_number="_rk",
    )
    return ranked.selectExpr(
        "l_suppkey AS suppkey",
        "n_lines",
        "n_late",
        "n_returned",
        "rev_cents",
        "CAST(late_micro AS DOUBLE) / 1000000 AS late_rate",
        "CAST(n_returned * 1000000 DIV n_lines AS DOUBLE) / 1000000"
        " AS return_rate",
        "CAST(_rk AS INT) AS risk_rank",
    )


SQL_SUPPLIER_RELIABILITY_SCORECARD = """
WITH j AS (
    SELECT l.l_suppkey,
           CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 60
                THEN 1 ELSE 0 END AS is_late,
           CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_ret,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
s AS (
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(is_late) AS BIGINT) AS n_late,
           CAST(sum(is_ret) AS BIGINT) AS n_returned,
           CAST(sum(cents) AS BIGINT) AS rev_cents
    FROM j GROUP BY l_suppkey
)
SELECT l_suppkey AS suppkey, n_lines, n_late, n_returned, rev_cents,
       CAST(n_late * 1000000 // n_lines AS DOUBLE) / 1000000 AS late_rate,
       CAST(n_returned * 1000000 // n_lines AS DOUBLE) / 1000000
           AS return_rate,
       CAST(row_number() OVER (ORDER BY n_late * 1000000 // n_lines DESC,
           n_lines DESC, l_suppkey ASC) AS INT) AS risk_rank
FROM s
"""


QUERIES["supplier_reliability_scorecard"] = (
    q_supplier_reliability_scorecard,
    SQL_SUPPLIER_RELIABILITY_SCORECARD,
)


def q_dedup_jaccard_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning observability: the verified MinHash pairs
    histogrammed by Jaccard band (floor(j*10)/10 from 0.3 up) — the
    curve an operator reads before choosing the dedup cut ('how much
    mass sits between 0.3 and 0.5?'). Composes the production pair
    generator; bands are exact (the micro-floored jaccard is banded by
    integer division, no float boundary)."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.dedup import (
        augmented_corpus,
        minhash_dedup_pairs,
    )

    pairs = minhash_dedup_pairs(
        augmented_corpus(load_table(spark, sf_dir, "documents")),
        max_bucket_size=10_000,
    )
    return (
        pairs.selectExpr(
            "CAST(floor(jaccard * 10) AS INT) AS band10"
        )
        .groupBy("band10")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def _jband_sql() -> str:
    from movie_data_transformer_spark.operators.llm_queries import _minhash_ctes

    return f"""
WITH {_minhash_ctes()}
SELECT CAST(floor(jaccard * 10) AS INT) AS band10,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
"""


QUERIES["dedup_jaccard_band_histogram"] = (
    q_dedup_jaccard_band_histogram,
    _jband_sql(),
)
