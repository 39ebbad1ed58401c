"""Registry entries for the LLM-data-pipeline extensions (M5): text
analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), and
embedding similarity search. Oracles reproduce the Spark results exactly
via the portable md5-prefix hash; the genuinely approximate ANN variant is
rows-only (recall measured in tests/test_similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.dedup import (
    CORPUS_ORACLE_CTE,
    MINHASH_COEFFS,
    MINHASH_P,
    augmented_corpus,
    connected_components,
    exact_dedup,
    exact_substr_pairs,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from movie_data_transformer_spark.operators.similarity import (
    augmented_embeddings,
    brute_force_topk,
    brute_force_topk_np,
    cosine_near_pairs,
    ivf_topk,
    lsh_bucket_topk,
    pq_topk,
    semdedup_pairs,
)
from movie_data_transformer_spark.operators.text import (
    PORTABLE_HASH_SQL,
    PII_EMAIL,
    PII_IP,
    PII_PHONE,
    chunk_documents,
    fingerprint,
    language_id,
    pii_redact,
    quality_scores,
    repetition_stats,
    rolling_hash,
    text_stats,
    top_terms,
)
from movie_data_transformer_spark.sources.tables import load_table

_HASH = PORTABLE_HASH_SQL  # single source: operators/text.py


# --- text analysis -----------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(load_table(spark, sf_dir, "documents"))


SQL_TEXT_STATS = r"""
WITH toks AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS BIGINT) AS n_tokens_re,
       CAST(CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum') AS BIGINT)
            * 1000000 // len(t) AS DOUBLE) / 1000000 AS avg_token_len,
       CAST(CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t) AS DOUBLE)
           / 1000000 AS ttr
FROM toks
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


SQL_TEXT_LANG_ID = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
s AS (
    SELECT doc_id,
           CAST(len(list_filter(t, w -> w IN ('der','die','und','das','ein'))) AS BIGINT) AS score_de,
           CAST(len(list_filter(t, w -> w IN ('the','and','of','to','a'))) AS BIGINT) AS score_en,
           CAST(len(list_filter(t, w -> w IN ('el','la','que','de','un'))) AS BIGINT) AS score_es,
           CAST(len(list_filter(t, w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr
    FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
       CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM s
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(load_table(spark, sf_dir, "documents"))


SQL_TEXT_QUALITY = r"""
WITH toks AS (
    SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
)
SELECT doc_id,
       CAST(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT)
            * 1000000 // length(text) AS DOUBLE) / 1000000 AS punct_ratio,
       CAST(CAST(len(list_filter(t, w -> w IN
            ('the','a','an','and','or','of','to','in','is'))) AS BIGINT)
            * 1000000 // len(t) AS DOUBLE) / 1000000 AS stopword_ratio,
       CAST(CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT)
            * 1000000 // length(text) AS DOUBLE) / 1000000 AS alpha_ratio,
       CAST(CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum') AS BIGINT)
            * 1000000 // len(t) AS DOUBLE) / 1000000 AS mean_word_len
FROM toks
"""


def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from movie_data_transformer_spark.operators.dedup import normalize_text

    return docs.select(
        "doc_id", rolling_hash(normalize_text(F.col("text"))).alias("roll_hash")
    )


SQL_TEXT_ROLLING_HASH = r"""
SELECT doc_id,
       list_reduce(
           list_prepend(0::BIGINT,
               list_transform(
                   string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ''),
                   c -> CAST(ascii(c) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 2147483647) AS roll_hash
FROM documents
"""


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_terms(load_table(spark, sf_dir, "documents"))


SQL_TEXT_TOP_TERMS = r"""
SELECT term, count(*) AS n
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents)
GROUP BY term ORDER BY n DESC, term ASC LIMIT 20
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


SQL_TEXT_FINGERPRINT = r"""
WITH n AS (
    SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM documents
)
SELECT doc_id,
       md5(norm) AS fp_md5,
       CAST('0x' || substr(md5(norm), 1, 8) AS BIGINT) AS fp_int,
       CAST(length(norm) AS BIGINT) AS norm_len
FROM n
"""


# --- dedup -------------------------------------------------------------------


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"), chunk_tokens=64)


SQL_TEXT_CHUNKS = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
c AS (
    SELECT doc_id, t,
           unnest(range(0, CAST(ceil(len(t) / 64.0) AS INT))) AS chunk_idx
    FROM toks
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(t[chunk_idx * 64 + 1 : chunk_idx * 64 + 64], ' ') AS chunk_text,
       CAST(len(t[chunk_idx * 64 + 1 : chunk_idx * 64 + 64]) AS INT) AS n_tokens
FROM c
"""


def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


SQL_TEXT_REPETITION = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
uc AS (
    SELECT doc_id, unnest(t) AS g FROM toks
),
ucn AS (SELECT doc_id, g, count(*) AS n FROM uc GROUP BY doc_id, g),
us AS (
    SELECT doc_id,
           CASE WHEN sum(n * length(g)) > 0
                THEN CAST(CAST(max(n * length(g)) AS BIGINT) * 1000000
                          // sum(n * length(g)) AS DOUBLE) / 1000000
                ELSE 0.0 END AS frac_chars_top_token
    FROM ucn GROUP BY doc_id
),
bidx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
bc AS (
    SELECT doc_id, concat_ws(' ', t[i], t[i + 1]) AS g, count(*) AS n
    FROM bidx GROUP BY doc_id, g
),
bs AS (
    SELECT doc_id,
           CAST(CAST(sum(CASE WHEN n > 1 THEN n * length(g) ELSE 0 END) AS BIGINT)
                * 1000000 // sum(n * length(g)) AS DOUBLE) / 1000000
               AS frac_chars_dup_2grams
    FROM bc GROUP BY doc_id
),
tidx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
tc AS (
    SELECT doc_id, concat_ws(' ', t[i], t[i + 1], t[i + 2]) AS g, count(*) AS n
    FROM tidx GROUP BY doc_id, g
),
ts AS (
    SELECT doc_id,
           CAST(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) * 1000000
                // sum(n) AS DOUBLE) / 1000000 AS frac_dup_3grams
    FROM tc GROUP BY doc_id
)
SELECT us.doc_id, us.frac_chars_top_token,
       coalesce(bs.frac_chars_dup_2grams, 0.0) AS frac_chars_dup_2grams,
       coalesce(ts.frac_dup_3grams, 0.0) AS frac_dup_3grams
FROM us
LEFT JOIN bs ON us.doc_id = bs.doc_id
LEFT JOIN ts ON ts.doc_id = us.doc_id
"""


#: Planted PII rows (the synthetic corpus contains none) — single source
#: of truth for BOTH the Spark corpus and the SQL oracle's VALUES list.
PII_ROWS = [
    (900000, "contact alice.smith@example.com or call 555-123-4567 before friday"),
    (900001, "backup server 192.168.0.1 emailed bob99@test.org fax 123.456.7890"),
    (900002, "no sensitive content in this line at all"),
    (900003, "gateways 10.0.0.1 and 172.16.254.3 owner carol_x%y@mail.co"),
]


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(PII_ROWS, "doc_id long, text string")
    return pii_redact(base.unionAll(planted))


def _pii_sql() -> str:
    vals = ",\n        ".join(
        "(CAST({} AS BIGINT), '{}')".format(i, t.replace("'", "''")) for i, t in PII_ROWS
    )
    redact = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE}', '<PHONE>', 'g'), "
        f"'{PII_IP}', '<IP>', 'g')"
    )
    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT * FROM (VALUES
        {vals}) v(doc_id, text)
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{PII_IP}')) AS INT) AS n_ips,
       {redact} AS clean_text
FROM corpus
"""


def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic k-means over the
    (near-dup-augmented) embeddings, cosine pairs within clusters only.
    Approximate by construction (cross-cluster pairs missed) -> rows-only
    driver check; recall vs the exact all-pairs ground truth is pinned in
    tests/test_similarity.py."""
    emb = augmented_embeddings(load_table(spark, sf_dir, "embeddings"))
    return semdedup_pairs(emb, k=8, n_iter=3, threshold=0.9)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(augmented_corpus(load_table(spark, sf_dir, "documents")))


def q_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup pairs: docs sharing any identical 15-token run
    (exact semantics — fully oracle-checked, unlike the sketch-based
    minhash/simhash variants)."""
    return exact_substr_pairs(augmented_corpus(load_table(spark, sf_dir, "documents")))


SQL_DEDUP_EXACT_SUBSTR = f"""
WITH {CORPUS_ORACLE_CTE},
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
w0 AS (
    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 14)) AS i
    FROM t WHERE len(toks) >= 15
),
w AS (
    SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+14], ' ')) AS wh
    FROM w0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_windows
FROM w a JOIN w b ON a.wh = b.wh AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


SQL_DEDUP_EXACT = f"""
WITH {CORPUS_ORACLE_CTE}
SELECT md5(text) AS digest,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM corpus GROUP BY 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size: live escape-hatch default, sized to never bind on
    # the test corpora (oracle computes uncapped); capping behavior is
    # pinned by the planted-mega-bucket test in tests/test_dedup.py.
    return minhash_dedup_pairs(
        augmented_corpus(load_table(spark, sf_dir, "documents")),
        max_bucket_size=5000,
    )


def _minhash_ctes() -> str:
    """Shared CTE chain ending in pairs(doc_a, doc_b, jaccard) — the
    verified near-dup pairs at threshold 0.3. Consumed by both the
    pair query and the clusters query."""
    mh_exprs = ",\n           ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws(':', mh{bi*2}, mh{bi*2+1}) AS sig FROM sigs"
        for bi in range(16)
    )
    return f"""{CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle FROM idx),
hashed AS (SELECT doc_id, {_HASH.format(x='shingle')} AS h FROM sh),
sigs AS (SELECT doc_id,
           {mh_exprs}
         FROM hashed GROUP BY doc_id),
bands AS (
    {band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT doc_a, doc_b, count(*) AS n_inter
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.doc_a
    JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b,
           CAST(n_inter * 1000000 // (na.n + nb.n - n_inter) AS DOUBLE)
               / 1000000 AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE CAST(n_inter * 1000000 // (na.n + nb.n - n_inter) AS DOUBLE)
              / 1000000 >= 0.3
)"""


def _minhash_sql() -> str:
    return f"WITH {_minhash_ctes()}\nSELECT doc_a, doc_b, jaccard FROM pairs"


def _minhash_state_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf + source fingerprint) the PERSISTED corpus
    dedup index — shingle sets + LSH band rows as parquet — exactly what
    a production corpus keeps across ingests. Entries then pay only the
    per-ingest cost, which is the number the bench should measure (the
    index build is amortized over every ingest in deployment; before
    this the entry rebuilt the state index inline on every invocation)."""
    import os

    from movie_data_transformer_spark.operators.dedup import (
        band_table,
        doc_shingle_sets,
        minhash_signatures_from_arrays,
    )
    from movie_data_transformer_spark.operators.jsonl_queries import (
        fixture_cache_dir,
        publish_fixture_dir,
    )

    # cache key includes an index-format version: unlike the raw-docs
    # fixtures, this dir holds DERIVED state (shingle sets + band rows) —
    # bump the version whenever shingling/signature/banding logic
    # changes, or a stale cached index from a previous code revision
    # would silently diverge from the recomputing oracle
    _INDEX_FORMAT_VERSION = "v1_n3_mh32_b16x2"
    d = fixture_cache_dir(f"mdt_mhidx_{_INDEX_FORMAT_VERSION}", sf_dir)

    def _build(out: str) -> None:
        state = augmented_corpus(load_table(spark, sf_dir, "documents")).filter(
            F.col("doc_id") < 100000
        )
        sets = doc_shingle_sets(state)
        sets.write.mode("overwrite").parquet(os.path.join(out, "sets"))
        stored_sets = spark.read.parquet(os.path.join(out, "sets"))
        band_table(minhash_signatures_from_arrays(stored_sets)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))

    return publish_fixture_dir(_build, d)


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the original documents are yesterday's
    corpus (state, held as the PERSISTED parquet shingle+band index the
    pipeline maintains across ingests), the planted +100000/+200000 docs
    are today's crawl batch; the query links batch docs to their
    near/exact-dup originals WITHOUT comparing two state docs and
    WITHOUT recomputing any state signature. Oracle = the full minhash
    pair set filtered to pairs touching a batch doc — identical by
    construction (bucket co-habitation is pairwise), so the incremental
    path is held to the full-recompute answer."""
    import os

    from movie_data_transformer_spark.operators.dedup import (
        band_table,
        doc_shingle_sets,
        incremental_minhash_pairs_from_index,
        minhash_signatures_from_arrays,
    )

    idx = _minhash_state_index_dir(spark, sf_dir)
    stored_sets = spark.read.parquet(os.path.join(idx, "sets"))
    stored_bands = spark.read.parquet(os.path.join(idx, "bands"))
    batch = augmented_corpus(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") >= 100000
    )
    # persist the batch-side fork points: the shingle sets feed the band
    # derivation AND the exact-Jaccard verify, and the band rows feed the
    # bucket probe, the bucket-cap count, and the candidate join — unpersisted,
    # the tokenize+shingle+32-hash signature lineage recomputed per reference
    # (3-4 full batch passes per ingest; r12 opt round, guide §5 caching — the
    # tables are |batch|-grain).
    # CALLER OBLIGATION (r12 ADVICE low #2): this query-shaped entry is
    # invoked once per bench/oracle run and the harness clearCache()s
    # between entries; a LONG-LIVED driver calling this per batch must
    # unpersist both tables after consuming the returned DataFrame (or
    # swap persist() for localCheckpoint()), else cached batch tables
    # accumulate across ingests.
    new_sets = doc_shingle_sets(batch).persist()
    new_bands = band_table(minhash_signatures_from_arrays(new_sets)).persist()
    return incremental_minhash_pairs_from_index(
        stored_sets,
        stored_bands,
        new_sets,
        max_bucket_size=5000,
        new_bands=new_bands,
    )


def _incremental_minhash_sql() -> str:
    return f"""WITH {_minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM pairs
WHERE doc_a >= 100000 OR doc_b >= 100000"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster representatives: connected components over the
    verified minhash near-dup pairs (min doc id per component)."""
    pairs = minhash_dedup_pairs(augmented_corpus(load_table(spark, sf_dir, "documents")))
    return connected_components(pairs)


def _clusters_sql() -> str:
    # Transitive closure by recursive CTE (UNION dedup terminates it),
    # then min over self+reachable = the component root. Tractable for an
    # oracle because near-dup components are tiny.
    return f"""
WITH RECURSIVE {_minhash_ctes()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT node AS doc_id, least(node, min(r)) AS cluster_root
FROM reach GROUP BY node
"""


def q_dedup_apply_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step every dedup pipeline actually ships: EMIT THE KEPT CORPUS.
    pairs -> connected components -> keep only each cluster's canonical
    doc (min id) -> anti-join the drop set away from the corpus. Returns
    (doc_id, lang, n_chars) of surviving docs. At 100 TB the drop set is
    |duplicate docs| rows (broadcastable or a semi-join shuffle on ids —
    never text), and the corpus pass is a single anti-join scan."""
    corpus = augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = minhash_dedup_pairs(corpus, max_bucket_size=5000)
    clusters = connected_components(pairs)
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_root")).select("doc_id")
    return corpus.join(drops, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


def _apply_filter_sql() -> str:
    # the clusters CTE chain, then: drop every non-root member
    return f"""
WITH RECURSIVE {_minhash_ctes()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
clusters AS (
    SELECT node AS doc_id, least(node, min(r)) AS cluster_root
    FROM reach GROUP BY node
)
SELECT doc_id, lang, n_chars FROM corpus
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_root)
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(augmented_corpus(load_table(spark, sf_dir, "documents")))


def _simhash_ctes() -> str:
    """Shared CTE chain ending in fps(doc_id, simhash) — the 64-bit
    fingerprint: bits 0-31 voted by the w-domain hash, bits 32-63 by the
    'hi:'+w domain, assembled SIGNED as (hi - 2^32 if bit63 else hi) *
    2^32 + lo — identical int64 bit patterns to the Spark side, no
    overflow in either engine (mirrors dedup.simhash_fingerprints)."""
    votes = ",\n           ".join(
        [f"sum(((hlo >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(32)]
        + [f"sum(((hhi >> {b}) & 1) * 2 - 1) AS v{b + 32}" for b in range(32)]
    )
    lo = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32))
    hi = " + ".join(f"(CASE WHEN v{b + 32} > 0 THEN {2**b} ELSE 0 END)" for b in range(32))
    return f"""{CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM corpus),
th AS (SELECT doc_id, unnest(t) AS w FROM toks),
hashed AS (SELECT doc_id, {_HASH.format(x='w')} AS hlo,
                  {_HASH.format(x="'hi:' || w")} AS hhi FROM th),
votes AS (SELECT doc_id,
           {votes}
          FROM hashed GROUP BY doc_id),
halves AS (SELECT doc_id, CAST({lo} AS BIGINT) AS fp_lo, CAST({hi} AS BIGINT) AS fp_hi FROM votes),
fps AS (SELECT doc_id,
               (fp_hi - CASE WHEN fp_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
                   * 4294967296 + fp_lo AS simhash
        FROM halves)"""


def _simhash_sql() -> str:
    return f"WITH {_simhash_ctes()}\nSELECT doc_id, simhash FROM fps"


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size is a real cap (not dead code) chosen to never bind
    # on the test corpora — the oracle computes the uncapped result, so a
    # binding cap would break the hash; the planted-mega-bucket behavior
    # is tested separately in tests/test_dedup.py.
    return simhash_near_pairs(
        augmented_corpus(load_table(spark, sf_dir, "documents")),
        max_bucket_size=5000,
    )


def _simhash_pairs_sql() -> str:
    # 16-bit bands off the SIGNED 64-bit fingerprint: DuckDB's >> on
    # negative BIGINT is arithmetic (probed), and & 65535 keeps only the
    # low 16 bits of the shifted value — bit-identical to Spark's
    # shiftright + bitwiseAND.
    return f"""
WITH {_simhash_ctes()},
bands AS (
    SELECT doc_id, simhash, b.band, (simhash >> (16 * b.band)) & 65535 AS nib
    FROM fps, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sh_a, b.simhash AS sh_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        augmented_corpus(load_table(spark, sf_dir, "documents")), threshold=0.5
    )


def _ngram_jaccard_sql() -> str:
    return f"""
WITH {CORPUS_ORACLE_CTE},
toks AS (SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INT) AS len_bucket,
                string_split(text, ' ') AS t FROM corpus),
idx AS (SELECT doc_id, lang, len_bucket, t,
               unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, lang, len_bucket,
              concat_ws(' ', t[i], t[i+1]) AS shingle FROM idx),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter * 1000000 // (na.n + nb.n - n_inter) AS DOUBLE)
           / 1000000 AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(n_inter * 1000000 // (na.n + nb.n - n_inter) AS DOUBLE)
          / 1000000 >= 0.5
"""


# --- similarity search -------------------------------------------------------


def q_sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


SQL_SIM_BRUTE_TOPK = """
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id ASC) AS rk
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id % 50 = 0
) t WHERE rk <= 5
"""


def q_sim_brute_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as sim_brute_topk, BLAS-vectorized (mapInPandas) —
    checked against the identical SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk_np(emb, emb.filter(F.col("vec_id") % 50 == 0))


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (rows-only: approximate by construction; bucket
    mechanics + recall-vs-floor pinned in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


def q_sim_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_near_pairs(load_table(spark, sf_dir, "embeddings"))


SQL_SIM_NEAR_PAIRS = """
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
"""


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (IVF coarse-probe): rows-only check; recall vs the
    brute-force baseline is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (rows-only: quantized
    scoring is approximate by construction). Code mechanics + recall vs
    brute force pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


# --- multimodal --------------------------------------------------------------


def q_mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: synthesize media table, extract features via
    Arrow-batched mapInPandas (raw payload bytes, no decode). FULLY
    ORACLE-CHECKED since r4: the feature is an integer-exact byte
    histogram (micro-unit normalization, no float rounding —
    multimodal.extract_features), the
    corpus is pure ASCII so DuckDB reproduces the byte values via
    ascii(), and each element is formatted through DECIMAL(9,6) on both
    sides (fixed-point string, never scientific notation). The float32
    round-trip through the Arrow schema stays well under the 1e-6 grid
    (eps ~6e-8 at 1.0), so the decimal cast recovers the exact value.

    The feature vector surfaces as a CSV string, not array<float>: the
    driver's pandas canonicalization cannot hash list cells (see
    agg_approx_sketches in CORRECTNESS_r01)."""
    from movie_data_transformer_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    feats = extract_features(synthesize_media(load_table(spark, sf_dir, "documents")))
    scalar_cols = [f.name for f in feats.schema.fields if f.name != "features"]
    return feats.select(
        *scalar_cols,
        F.concat_ws(
            ",",
            F.transform(
                F.col("features"), lambda v: v.cast("decimal(9,6)").cast("string")
            ),
        ).alias("features_csv"),
    )


def _mm_media_features_sql() -> str:
    cols = ",\n           ".join(
        f"count(*) FILTER (WHERE bucket = {k}) AS c{k}" for k in range(8)
    )
    elems = ", ".join(
        f"CAST(CAST(coalesce(c{k}, 0) * 1000000 // greatest(m.n_bytes, 1) AS DOUBLE)"
        f" / 1000000 AS DECIMAL(9,6))"
        for k in range(8)
    )
    return f"""
WITH media AS (
    SELECT doc_id,
           ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           text
    FROM documents
),
idx AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM media),
chars AS (SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) % 8 AS bucket FROM idx),
counts AS (
    SELECT doc_id,
           {cols}
    FROM chars GROUP BY doc_id
)
SELECT m.doc_id, m.media_type, m.n_bytes,
       concat_ws(',', {elems}) AS features_csv
FROM media m LEFT JOIN counts c USING (doc_id)
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (metadata-driven row fan-out)."""
    from movie_data_transformer_spark.operators.multimodal import (
        frame_sample,
        synthesize_media,
    )

    return frame_sample(synthesize_media(load_table(spark, sf_dir, "documents")))


SQL_MM_FRAME_SAMPLE = """
WITH media AS (
    SELECT doc_id,
           CAST(doc_id % 640 + 32 AS INT) AS width,
           CAST(doc_id % 480 + 32 AS INT) AS height,
           octet_length(encode(text)) AS n_bytes
    FROM documents WHERE doc_id % 3 = 2  -- media_type = 'video'
)
SELECT doc_id,
       CAST(unnest(generate_series(0, CAST(floor(n_bytes / 100) + 1 AS INT), 10)) AS INT) AS frame_idx,
       width, height
FROM media
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over DOCUMENTS: docs paired to their
    embedding rows (doc_id = vec_id), near-dup doc pairs = cosine >= 0.35
    within label blocks — the semantic-dedup method of LLM data pipelines
    (exact dedup misses paraphrases; this catches them)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "label", "lang"
    )
    pairs = cosine_near_pairs(joined)
    return pairs.select("doc_a", "doc_b", "cos_sim")


SQL_DEDUP_EMBEDDING_COSINE = """
WITH j AS (
    SELECT e.vec_id, e.embedding, e.label
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM j a JOIN j b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
"""


def q_events_gmean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of event value per event_type via a grouped-agg
    pandas UDF — the UDAF user-extension surface (rows-only; numpy
    cross-check in tests/test_text_multimodal.py)."""
    from movie_data_transformer_spark.operators.grouped_pandas import gmean_udaf

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        gmean_udaf()(F.col("value")).alias("gmean_value")
    )


def q_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-group OLS — FULLY ORACLE-CHECKED since r4: the
    UDF computes the closed form from exact integer sums (Python big
    ints == DuckDB HUGEINT; one IEEE division per output), so the
    pandas user-extension surface is held to a DuckDB oracle instead of
    a rows-only check. numpy equivalence additionally asserted in
    pytest."""
    from movie_data_transformer_spark.operators.grouped_pandas import user_value_trend
    from movie_data_transformer_spark.sources.tables import load_events_raw_ns

    return user_value_trend(load_events_raw_ns(spark, sf_dir))


SQL_GROUPED_OLS_TREND = """
WITH pts AS (
    SELECT user_id,
           epoch_ns(ts) // 1000000000 AS x,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
    FROM events
),
s AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
    FROM pts GROUP BY 1
)
SELECT user_id, n,
       CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
            ELSE CAST((n * sxy - sx * sy) * 864 AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_per_day,
       CAST(sy AS DOUBLE) / CAST(100 * n AS DOUBLE) AS mean_value
FROM s
"""


# Text-pack + exact-dedup entries (driver-green since r01/r02) plus the two
# pandas-grouped extras. The dedup/ANN flagships live in FLAGSHIP_QUERIES,
# registered separately (operators/flagship_queries.py) so they sit inside
# the driver's 50-query correctness window (round-2 VERDICT advice #1).
QUERIES = {
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "text_lang_id": (q_text_lang_id, SQL_TEXT_LANG_ID),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_chunks": (q_text_chunks, SQL_TEXT_CHUNKS),
    "text_repetition_stats": (q_text_repetition_stats, SQL_TEXT_REPETITION),
    "text_pii_redact": (q_text_pii_redact, _pii_sql()),
    "semdedup_pairs": (q_semdedup_pairs, None),  # approximate -> rows-only
    "text_quality_scores": (q_text_quality, SQL_TEXT_QUALITY),
    "text_top_terms": (q_text_top_terms, SQL_TEXT_TOP_TERMS),
    "text_rolling_hash": (q_text_rolling_hash, SQL_TEXT_ROLLING_HASH),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_exact_substr": (q_dedup_exact_substr, SQL_DEDUP_EXACT_SUBSTR),
}

# Registered via operators/grouped_extras_queries.py (their own registry
# module) so the r04 driver window can include just these two entries
# without dragging the whole already-driver-green text pack back in
# (NOTES.md coverage ledger / round-3 VERDICT advice #1).
GROUPED_EXTRA_QUERIES = {
    "grouped_ols_trend": (q_grouped_ols_trend, SQL_GROUPED_OLS_TREND),
    "events_gmean_udaf": (q_events_gmean_udaf, None),  # pandas UDAF -> rows-only
}

FLAGSHIP_QUERIES = {
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, _minhash_sql()),
    "dedup_incremental_minhash": (q_dedup_incremental_minhash, _incremental_minhash_sql()),
    "dedup_apply_filter": (q_dedup_apply_filter, _apply_filter_sql()),
    "dedup_clusters": (q_dedup_clusters, _clusters_sql()),
    "dedup_simhash": (q_dedup_simhash, _simhash_sql()),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, _simhash_pairs_sql()),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, _ngram_jaccard_sql()),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
    "sim_brute_topk": (q_sim_brute_topk, SQL_SIM_BRUTE_TOPK),
    "sim_brute_topk_np": (q_sim_brute_topk_np, SQL_SIM_BRUTE_TOPK),
    "sim_near_pairs": (q_sim_near_pairs, SQL_SIM_NEAR_PAIRS),
    "sim_ivf_topk": (q_sim_ivf_topk, None),  # approximate -> rows-only
    "sim_pq_topk": (q_sim_pq_topk, None),  # approximate -> rows-only
    "sim_lsh_topk": (q_sim_lsh_topk, None),  # approximate -> rows-only
    "mm_media_features": (q_mm_media_features, _mm_media_features_sql()),
    "mm_frame_sample": (q_mm_frame_sample, SQL_MM_FRAME_SAMPLE),
}
