"""Round-6 dedup extensions, registered behind the committed r07/r08
driver windows (NOTES.md ledger): containment-based near-dup detection —
the asymmetric score family the Jaccard/MinHash/SimHash battery lacked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.dedup import (
    CORPUS_ORACLE_CTE,
    MAX_SHINGLE_DF,
    augmented_corpus,
    containment_pairs,
    exact_substr_runs,
    ppjoin_prefix_pairs,
)
from movie_data_transformer_spark.sources.tables import load_table

THRESHOLD = 0.5
RUN_WINDOW = 15


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over the planted-dup corpus: the 's'-word-
    stripped near-copies are length-asymmetric by construction, exactly
    the shape containment exists for (see containment_pairs)."""
    return containment_pairs(
        augmented_corpus(load_table(spark, sf_dir, "documents")),
        threshold=THRESHOLD,
        max_shingle_df=MAX_SHINGLE_DF,
    )


# mirrors containment_pairs exactly: bigram shingles with the short-doc
# convention (concat_ws skips the NULL pad), per-lang df cap before the
# self-join, UNFILTERED set sizes in the denominator.
SQL_DEDUP_CONTAINMENT = f"""
WITH {CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM corpus),
idx AS (SELECT doc_id, lang, t,
               unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, lang,
              concat_ws(' ', t[i], t[i+1]) AS shingle FROM idx),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (
    SELECT lang, shingle FROM sh
    GROUP BY lang, shingle HAVING count(*) <= {MAX_SHINGLE_DF}
),
kept AS (SELECT sh.* FROM sh JOIN rare USING (lang, shingle)),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM kept a JOIN kept b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter * 1000000 // least(na.n_sh, nb.n_sh) AS DOUBLE)
           / 1000000 AS containment
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(n_inter * 1000000 // least(na.n_sh, nb.n_sh) AS DOUBLE)
          / 1000000 >= {THRESHOLD}
"""


def q_dedup_exact_substr_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared token run per linked pair over the planted-dup
    corpus (exact copies share their full length; near-copies share
    their longest untouched stretch). See dedup.exact_substr_runs."""
    return exact_substr_runs(
        augmented_corpus(load_table(spark, sf_dir, "documents")), window=RUN_WINDOW
    )


SQL_DEDUP_EXACT_SUBSTR_RUNS = f"""
WITH {CORPUS_ORACLE_CTE},
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
w0 AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks) - {RUN_WINDOW - 1})) AS pos
    FROM t WHERE len(toks) >= {RUN_WINDOW}
),
wins AS (
    SELECT doc_id, pos,
           md5(array_to_string(toks[pos:pos+{RUN_WINDOW - 1}], ' ')) AS wh
    FROM w0
),
rare AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) <= 100),
kept AS (SELECT wins.* FROM wins JOIN rare USING (wh)),
matches AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b
    FROM kept a JOIN kept b ON a.wh = b.wh AND a.doc_id < b.doc_id
),
streaks AS (
    SELECT doc_a, doc_b,
           count(*) AS streak
    FROM (
        SELECT doc_a, doc_b, pos_a - pos_b AS diag,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b,
                   pos_a - pos_b ORDER BY pos_a) AS island
        FROM matches
    )
    GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b,
       CAST({RUN_WINDOW} + max(streak) - 1 AS BIGINT) AS max_run_tokens
FROM streaks
GROUP BY doc_a, doc_b
"""


def q_dedup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph SHAPE observability: the degree histogram of the
    MinHash pair graph — (degree, n_docs) for every doc appearing in at
    least one pair. The operational pre-clustering question at 100 TB:
    a fat tail here means mega-clusters (route to exact dedup / raise
    the bucket cap guard) before paying for connected components.
    Composes the production pair generator; the oracle composes the
    same pair SQL, so the histogram binds the whole pair pipeline."""
    from movie_data_transformer_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(
        augmented_corpus(load_table(spark, sf_dir, "documents")),
        max_bucket_size=10_000,
    )
    deg = (
        pairs.selectExpr("doc_a AS doc_id")
        .unionAll(pairs.selectExpr("doc_b AS doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


def _degree_histogram_sql() -> str:
    from movie_data_transformer_spark.operators.llm_queries import _minhash_ctes

    return f"""
WITH {_minhash_ctes()},
deg AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b FROM pairs
    ) GROUP BY doc_id
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree
"""


def q_dedup_ppjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering (PPJoin) set-similarity join over the planted-dup
    corpus at Jaccard >= 0.5. The Spark side explodes ONLY each doc's
    df-ascending prefix into the candidate join; the oracle is the
    un-filtered all-pairs inverted-list join — equality IS the proof the
    prefix filter is lossless (see dedup.ppjoin_prefix_pairs)."""
    return ppjoin_prefix_pairs(augmented_corpus(load_table(spark, sf_dir, "documents")))


# The oracle deliberately does NOT prefix-filter: it joins the full kept
# shingle sets all-pairs (within lang, df-capped, exact Jaccard over the
# KEPT sets — sizes after the cap, unlike the containment oracle's raw
# sizes). Result-set equality with the Spark side binds the completeness
# of the prefix candidate generation.
SQL_DEDUP_PPJOIN_PREFIX = f"""
WITH {CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM corpus),
idx AS (SELECT doc_id, lang, t,
               unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, lang,
              concat_ws(' ', t[i], t[i+1]) AS shingle FROM idx),
dfs AS (SELECT lang, shingle, count(*) AS df
        FROM sh GROUP BY lang, shingle),
kept AS (SELECT sh.* FROM sh JOIN dfs USING (lang, shingle)
         WHERE dfs.df <= {MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, count(*) AS m FROM kept GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM kept a JOIN kept b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter * 1000000 // (na.m + nb.m - n_inter) AS DOUBLE)
           / 1000000 AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(n_inter * 1000000 // (na.m + nb.m - n_inter) AS DOUBLE)
          / 1000000 >= 0.5
"""


QUERIES = {
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_ppjoin_prefix": (q_dedup_ppjoin_prefix, SQL_DEDUP_PPJOIN_PREFIX),
    "dedup_exact_substr_runs": (
        q_dedup_exact_substr_runs,
        SQL_DEDUP_EXACT_SUBSTR_RUNS,
    ),
    "dedup_degree_histogram": (q_dedup_degree_histogram, _degree_histogram_sql()),
}


# --- content-defined chunking -------------------------------------------
# Rolling-window boundary rule: token position p starts a chunk iff p = 1
# or (a full K-token window fits at p AND portable_hash(window) % D = 0).
# Average chunk length ~= D tokens. No min/max bounds (declared simple
# CDC; production systems add them, which only masks boundaries).
CDC_K = 4
CDC_D = 8


def cdc_chunk_table(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Chunk a (doc_id, text, ...) corpus by the CDC boundary rule;
    returns (doc_id, chunk_id, chunk_hash, n_tokens). One posexplode,
    ONE ordered window pass per doc (the K lead()s share a window spec;
    boundary flag + running boundary count in the same pass), one
    (doc, chunk) agg — all keyed shuffles, nothing driver-side."""
    from movie_data_transformer_spark.operators.dedup import normalize_text
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    toks = widen_for_compute(docs).select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("t")
    )
    toks.createOrReplaceTempView("_cdc_toks")
    leads = ", ".join(f"lead(tok, {j}) OVER w AS t{j}" for j in range(1, CDC_K))
    wincat = ", ".join(["tok"] + [f"t{j}" for j in range(1, CDC_K)])
    return spark.sql(
        f"""
        WITH posed AS (
            SELECT doc_id, p.pos + 1 AS pos, p.tok
            FROM _cdc_toks LATERAL VIEW posexplode(t) p AS pos, tok
        ),
        led AS (
            SELECT doc_id, pos, tok, {leads},
                   count(*) OVER (PARTITION BY doc_id) AS n
            FROM posed
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN pos = 1 THEN 1
                        WHEN pos <= n - {CDC_K} + 1
                             AND CAST(conv(substr(md5(
                                 concat_ws(' ', {wincat})), 1, 8), 16, 10)
                                 AS BIGINT) % {CDC_D} = 0 THEN 1
                        ELSE 0 END AS b
            FROM led
        ),
        chunked AS (
            SELECT doc_id, pos, tok,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
            FROM flagged
        )
        SELECT doc_id, chunk_id,
               md5(array_join(transform(array_sort(collect_list(
                   struct(pos, tok))), x -> x.tok), ' ')) AS chunk_hash,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM chunked GROUP BY doc_id, chunk_id
        """
    )


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/restic storage-dedup
    primitive) over the planted-dup corpus: chunk boundaries are placed
    where a rolling K-token window's hash hits 0 mod D, so boundaries
    travel WITH content — an insertion near the head of a doc re-chunks
    only up to the next surviving boundary, and every chunk after it
    keeps its identity (pinned by the edit-stability pytest). Fixed-size
    chunking loses ALL downstream chunks on the same edit; this is the
    property that makes chunk-level storage dedup work.

    Output: the corpus chunk-reference histogram (refs -> chunk count +
    token mass) — refs >= 2 is the mass chunk-level dedup saves; the
    planted exact copies surface as refs-2 chunks. At 100 TB chunk
    hashes feed the same append-only index tables as the MinHash state
    (dedup.py)."""
    chunks = cdc_chunk_table(
        spark, augmented_corpus(load_table(spark, sf_dir, "documents"))
    )
    by_hash = chunks.groupBy("chunk_hash").agg(
        F.count("*").cast("bigint").alias("refs"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return by_hash.groupBy("refs").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("chunk_tokens"),
    )


def _cdc_sql() -> str:
    leads = ", ".join(f"lead(t[i], {j}) OVER w AS t{j}" for j in range(1, CDC_K))
    wincat = ", ".join(["t[i]"] + [f"t{j}" for j in range(1, CDC_K)])
    return f"""
WITH {CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
posed AS (
    SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM toks
),
led AS (
    SELECT doc_id, i AS pos, t[i] AS tok, {leads},
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM posed
    WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
flagged AS (
    SELECT doc_id, pos, tok,
           CASE WHEN pos = 1 THEN 1
                WHEN pos <= n - {CDC_K} + 1
                     AND CAST('0x' || substr(md5(
                         concat_ws(' ', tok, {", ".join(f"t{j}" for j in range(1, CDC_K))})), 1, 8)
                         AS BIGINT) % {CDC_D} = 0 THEN 1
                ELSE 0 END AS b
    FROM led
),
chunked AS (
    SELECT doc_id, pos, tok,
           sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
    FROM flagged
),
chunks AS (
    SELECT doc_id, chunk_id,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM chunked GROUP BY doc_id, chunk_id
),
by_hash AS (
    SELECT chunk_hash, CAST(count(*) AS BIGINT) AS refs,
           min(n_tokens) AS n_tokens
    FROM chunks GROUP BY chunk_hash
)
SELECT refs, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
FROM by_hash GROUP BY refs
"""


QUERIES["dedup_cdc_chunks"] = (q_dedup_cdc_chunks, _cdc_sql())


# --- sorted-neighborhood blocking ---------------------------------------
SN_WINDOW = 3  # compare each doc to its 3 successors in sort order
SN_THRESHOLD = 0.5


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo merge/purge) — the
    THIRD candidate-generation strategy beside LSH (probabilistic) and
    prefix-filtering (lossless): sort the corpus by a normalized key
    (here the normalized text itself, doc_id tie-break), compare each
    record only to its SN_WINDOW successors, verify with exact token-set
    Jaccard. Near-copies share long prefixes so they sort adjacent —
    the planted exact copies are always caught (pinned in pytest);
    recall is partial BY DESIGN for pairs differing early in the key
    (the method's documented trade — production runs multiple passes
    with different keys). The oracle states the definition literally
    (global rank self-join on rank distance <= w), so the driver hash
    binds exactly the declared semantics.

    Scale: ONE global sort (range exchange) + w lead()s on the sorted
    order + a row-local verify — no self-join of the corpus, no bucket
    skew by construction (every record compares to exactly w others)."""
    from movie_data_transformer_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    augmented_corpus(docs).select(
        "doc_id", normalize_text(F.col("text")).alias("ntext")
    ).createOrReplaceTempView("_sn_docs")
    leads = ", ".join(
        f"lead(doc_id, {j}) OVER w AS id_{j}, lead(ntext, {j}) OVER w AS tx_{j}"
        for j in range(1, SN_WINDOW + 1)
    )
    # ONE reference to the sorted relation: the w successors explode
    # from a struct array built in the same projection — the previous
    # UNION ALL form re-read the led CTE per window offset, and Spark
    # inlines CTEs, so the global sort ran SN_WINDOW times
    succ_array = ", ".join(
        f"named_struct('id_b', id_{j}, 'tx_b', tx_{j})"
        for j in range(1, SN_WINDOW + 1)
    )
    return spark.sql(
        f"""
        WITH led AS (
            SELECT doc_id, ntext, {leads}
            FROM _sn_docs
            WINDOW w AS (ORDER BY ntext, doc_id)
        ),
        cand AS (
            SELECT doc_id AS id_a, ntext AS tx_a, s.id_b, s.tx_b
            FROM led
            LATERAL VIEW explode(array({succ_array})) t AS s
            WHERE s.id_b IS NOT NULL
        ),
        verified AS (
            SELECT least(id_a, id_b) AS doc_a, greatest(id_a, id_b) AS doc_b,
                   CAST(size(array_intersect(ta, tb)) AS BIGINT) AS n_inter,
                   CAST(size(ta) AS BIGINT) AS n_a,
                   CAST(size(tb) AS BIGINT) AS n_b
            FROM (
                SELECT id_a, id_b,
                       array_distinct(split(tx_a, ' ')) AS ta,
                       array_distinct(split(tx_b, ' ')) AS tb
                FROM cand
            )
        )
        SELECT DISTINCT doc_a, doc_b,
               CAST(n_inter * 1000000 DIV (n_a + n_b - n_inter) AS DOUBLE)
                   / 1000000 AS jaccard
        FROM verified
        WHERE CAST(n_inter * 1000000 DIV (n_a + n_b - n_inter) AS DOUBLE)
                  / 1000000 >= {SN_THRESHOLD}
        """
    )


def _sn_sql() -> str:
    return f"""
WITH {CORPUS_ORACLE_CTE},
ranked AS (
    SELECT doc_id, text AS ntext,
           row_number() OVER (ORDER BY text, doc_id) AS rk
    FROM corpus
),
cand AS (
    SELECT a.doc_id AS id_a, a.ntext AS tx_a,
           b.doc_id AS id_b, b.ntext AS tx_b
    FROM ranked a JOIN ranked b
      ON b.rk > a.rk AND b.rk <= a.rk + {SN_WINDOW}
),
verified AS (
    SELECT least(id_a, id_b) AS doc_a, greatest(id_a, id_b) AS doc_b,
           CAST(len(list_intersect(ta, tb)) AS BIGINT) AS n_inter,
           CAST(len(ta) AS BIGINT) AS n_a,
           CAST(len(tb) AS BIGINT) AS n_b
    FROM (
        SELECT id_a, id_b,
               list_distinct(string_split(tx_a, ' ')) AS ta,
               list_distinct(string_split(tx_b, ' ')) AS tb
        FROM cand
    )
)
SELECT DISTINCT doc_a, doc_b,
       CAST(n_inter * 1000000 // (n_a + n_b - n_inter) AS DOUBLE)
           / 1000000 AS jaccard
FROM verified
WHERE CAST(n_inter * 1000000 // (n_a + n_b - n_inter) AS DOUBLE)
          / 1000000 >= {SN_THRESHOLD}
"""


QUERIES["dedup_sorted_neighborhood"] = (q_dedup_sorted_neighborhood, _sn_sql())
