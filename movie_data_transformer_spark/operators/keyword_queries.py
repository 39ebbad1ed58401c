"""RAKE keyword extraction (Rose et al. 2010) as exact relational
dataflow: candidate phrases are maximal runs of non-stopword tokens
(stopwords delimit), each word scores degree/frequency over the corpus
co-occurrence graph, and a phrase scores the sum of its words' scores.
The classic cheap keyphrase extractor for corpus exploration / topic
labeling at training-data scale.

Exactness: degree and frequency are integers; the word score is kept as
the exact micro quotient degree * 1e6 DIV freq, and a phrase score is
the SUM of those integer micro scores — so the ranking is deterministic
and the entry carries a FULL oracle. Total tie order (score desc,
phrase asc) per lang.

Relational shape: phrase segmentation is the diagonal-islands trick
AGAIN (token position minus row_number over non-stop tokens is constant
within a run — the same identity exact_substr_runs uses for shared-run
lengths); everything else is explodes and aggs. Two shuffles to word
grain and back, one to the per-lang top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.sources.tables import load_table

STOPWORDS = "('the','a','an','and','or','of','to','in','is')"
TOP_K = 20


def rake_keywords(docs: DataFrame) -> DataFrame:
    """Top-K RAKE keyphrases per lang over any (doc_id, text, lang)
    frame — exposed separately so tests drive literal corpora through
    the production SQL."""
    spark = docs.sparkSession
    docs.createOrReplaceTempView("_rake_docs")
    return spark.sql(
        f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   posexplode(split(lower(regexp_replace(trim(text),
                       '\\\\s+', ' ')), ' ')) AS (pos, w)
            FROM _rake_docs
        ),
        nonstop AS (
            SELECT doc_id, lang, pos, w,
                   pos - row_number() OVER (PARTITION BY doc_id
                       ORDER BY pos) AS island
            FROM toks WHERE w NOT IN {STOPWORDS} AND w <> ''
        ),
        phrases AS (
            SELECT doc_id, lang, island,
                   listagg(w, ' ') WITHIN GROUP (ORDER BY pos) AS phrase,
                   CAST(count(*) AS BIGINT) AS n_words
            FROM nonstop GROUP BY doc_id, lang, island
        ),
        occurrences AS (
            SELECT doc_id, island, lang, phrase, n_words,
                   explode(split(phrase, ' ')) AS w
            FROM phrases
        ),
        word_stats AS (
            SELECT lang, w,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(n_words) AS BIGINT) AS degree
            FROM occurrences GROUP BY lang, w
        ),
        phrase_scores AS (
            -- per-INSTANCE sum (doc_id, island grain), so a phrase
            -- occurring k times does not get a k-fold score
            SELECT o.lang, o.phrase, o.n_words,
                   CAST(sum(s.degree * 1000000 DIV s.freq) AS BIGINT)
                       AS score_micro
            FROM occurrences o
            JOIN word_stats s ON s.lang = o.lang AND s.w = o.w
            GROUP BY o.doc_id, o.island, o.lang, o.phrase, o.n_words
        ),
        dedup AS (
            SELECT DISTINCT lang, phrase, n_words, score_micro
            FROM phrase_scores
        )
        SELECT lang, phrase, n_words, score_micro, rk
        FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY lang
                ORDER BY score_micro DESC, phrase ASC) AS INT) AS rk
            FROM dedup
        )
        WHERE rk <= {TOP_K}
        """
    )


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenization (regexp + posexplode) is the heavy per-row work and
    # runs before the doc_id window's exchange — widen the one-row-group
    # scan first (r12 opt round; no-op on an already-wide cluster scan).
    # The widen repartitions BY doc_id, the same key the window needs, so
    # it replaces rather than adds an exchange of the exploded tokens.
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    return rake_keywords(widen_for_compute(load_table(spark, sf_dir, "documents")))


SQL_TEXT_RAKE_KEYWORDS = f"""
WITH toks AS (
    SELECT doc_id, lang,
           unnest(generate_series(1,
               len(string_split(lower(regexp_replace(trim(text),
                   '\\s+', ' ', 'g')), ' ')))) - 1 AS pos,
           string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
               ' ') AS tl
    FROM documents
),
tok2 AS (SELECT doc_id, lang, pos, tl[pos + 1] AS w FROM toks),
nonstop AS (
    SELECT doc_id, lang, pos, w,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
    FROM tok2 WHERE w NOT IN {STOPWORDS} AND w <> ''
),
phrases AS (
    SELECT doc_id, lang, island,
           string_agg(w, ' ' ORDER BY pos) AS phrase,
           CAST(count(*) AS BIGINT) AS n_words
    FROM nonstop GROUP BY doc_id, lang, island
),
occurrences AS (
    SELECT doc_id, island, lang, phrase, n_words,
           unnest(string_split(phrase, ' ')) AS w
    FROM phrases
),
word_stats AS (
    SELECT lang, w,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(sum(n_words) AS BIGINT) AS degree
    FROM occurrences GROUP BY lang, w
),
phrase_scores AS (
    SELECT o.lang, o.phrase, o.n_words,
           CAST(sum(s.degree * 1000000 // s.freq) AS BIGINT) AS score_micro
    FROM occurrences o
    JOIN word_stats s ON s.lang = o.lang AND s.w = o.w
    GROUP BY o.doc_id, o.island, o.lang, o.phrase, o.n_words
),
dedup AS (
    SELECT DISTINCT lang, phrase, n_words, score_micro FROM phrase_scores
)
SELECT lang, phrase, n_words, score_micro, rk
FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY lang
        ORDER BY score_micro DESC, phrase ASC) AS INT) AS rk
    FROM dedup
)
WHERE rk <= {TOP_K}
"""


QUERIES = {
    "text_rake_keywords": (q_text_rake_keywords, SQL_TEXT_RAKE_KEYWORDS),
}
