"""Corpus language-model statistics + slowly-changing-dimension /
change-data-capture operators.

The LM queries are the scoring backbone of an LLM-data pipeline
(CCNet/Gopher-style corpus filtering ranks documents by unigram-LM
statistics; TF-IDF is the classic relevance/keyword extractor). The
log transform of a real LM score is monotone in the frequency ratios
computed here, so threshold-filtering on these integer/single-division
outputs is equivalent — and, unlike log10 (not correctly rounded in
either java.lang.Math or libm), exactly reproducible across engines.

SCD2/CDC are the lakehouse dimension-maintenance operators the
reference's keyed merge (README.md "merge/upsert", transformer/merge.go
semantics per SURVEY.md §2.1 op 9) implies but never materializes as
history: SCD2 keeps every version with a validity interval; CDC diffs
two snapshots into an insert/update/delete changeset.

Scale notes (100 TB):
- Token frequency tables are NOT broadcast: whitespace-token vocabulary
  grows with Heaps' law (~1e8 types at corpus scale), so the tf join
  stays a shuffle join on `token`; AQE will downgrade it to broadcast
  automatically at small SF. Both group-bys and the join share the
  `token` key, so the exchange is reused where possible.
- Per-(doc, token) pre-aggregation happens BEFORE the join — the join
  input is |distinct (doc,token)| rows, not |token occurrences|.
- SCD2 is a single shuffle (window on user_id); CDC is one shuffle per
  snapshot plus a full-outer sort-merge join on the same key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.functions.core import decimal_sum, micro_ratio
from movie_data_transformer_spark.operators.ordered_stats import (
    attach_order_stats,
    ntile_expr,
)
from movie_data_transformer_spark.sources.tables import load_table


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, token) with empty tokens dropped — lower-cased
    whitespace tokenization, identical to the oracle's
    string_split_regex(lower(trim(text)), '\\s+')."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )


_TOK_CTE = r"""
tok AS (
    SELECT * FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
),
tfd AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
"""


def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM statistics against the corpus itself:
    token count, summed corpus frequency of its tokens, rarest-token
    frequency, rare-token (freq<=2) occurrence count, and mean token
    frequency. The average is exact integer micro-units (floor), so it
    is bit-identical on every engine and partitioning — round(int/int)
    is the cross-engine midpoint class (NOTES.md pitfalls)."""
    tfd = (
        _doc_tokens(load_table(spark, sf_dir, "documents"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    tf = tfd.groupBy("token").agg(F.sum("tf").alias("freq"))
    j = tfd.join(tf, "token")
    return (
        j.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("freq")).alias("sum_freq"),
            F.min("freq").alias("min_freq"),
            F.sum(F.when(F.col("freq") <= 2, F.col("tf")).otherwise(F.lit(0))).alias(
                "rare_tokens"
            ),
        )
        .withColumn(
            # integer-ratio average -> floor micro-units (midpoint-proof);
            # micro_ratio widens to DECIMAL internally, matching the
            # oracle's HUGEINT (a bare bigint product would overflow first)
            "avg_freq",
            micro_ratio(F.col("sum_freq"), F.col("n_tokens")),
        )
    )


SQL_TEXT_UNIGRAM_LM = f"""
WITH {_TOK_CTE},
tf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS freq FROM tfd GROUP BY 1)
SELECT d.doc_id,
       CAST(sum(d.tf) AS BIGINT) AS n_tokens,
       CAST(sum(d.tf * f.freq) AS BIGINT) AS sum_freq,
       min(f.freq) AS min_freq,
       CAST(sum(CASE WHEN f.freq <= 2 THEN d.tf ELSE 0 END) AS BIGINT) AS rare_tokens,
       CAST(CAST(sum(d.tf * f.freq) AS HUGEINT) * 1000000
            // CAST(sum(d.tf) AS HUGEINT) AS DOUBLE) / 1000000 AS avg_freq
FROM tfd d JOIN tf f USING (token)
GROUP BY d.doc_id
"""


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document. idf kept as the exact
    rational N/df (monotone with log(N/df)): score = tf * N / df in
    exact integer micro-units (floor — midpoint-proof, NOTES.md).
    Ties broken by token so the top-k set is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    tfd = (
        _doc_tokens(docs).groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    )
    dfreq = tfd.groupBy("token").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tfd.join(dfreq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            # integer ratio -> floor micro-units (micro_ratio: DECIMAL
            # internals == the oracle's HUGEINT); monotone except exact
            # micro-ties, which both engines floor identically, so the
            # (score DESC, token ASC) ranking stays deterministic
            "score",
            micro_ratio(F.col("tf") * F.col("n_docs"), F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "score", "rank")
    )


SQL_TEXT_TFIDF_TOPK = f"""
WITH {_TOK_CTE},
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfd GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
    SELECT d.doc_id, d.token, d.tf,
           CAST(CAST(d.tf AS HUGEINT) * nd.n_docs * 1000000
                // f.df AS DOUBLE) / 1000000 AS score
    FROM tfd d JOIN dfreq f USING (token) CROSS JOIN nd
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, token ASC) AS rank
    FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


def q_scd2_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 built from the purchase event
    stream: each purchase opens a new version of the user's 'current
    value' dimension row, valid until the next purchase (NULL for the
    open/current version). One shuffle (window on user_id); ties in ts
    broken by event_id."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("valid_from_s"),
        F.unix_timestamp(nxt).alias("valid_to_s"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


SQL_SCD2_USER_VALUE = """
SELECT user_id, event_id, value,
       CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
       CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
       CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

def _snapshot(ev: DataFrame, lo: str, hi: str) -> DataFrame:
    return (
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(decimal_sum("value", 4, "total"), F.count("*").alias("n"))
    )


def q_cdc_user_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff of two trailing-window per-user purchase
    snapshots (Jan 1-20 vs Jan 10-31): emits one row per user with
    change_type insert / delete / update / unchanged plus both totals.
    This is the reference's merge/upsert resolve (SURVEY.md §2.1 op 9)
    generalized to a full CDC changeset; full-outer sort-merge join on
    the snapshot key."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s1 = _snapshot(ev, "2024-01-01", "2024-01-20").select(
        F.col("user_id"), F.col("total").alias("old_total"), F.col("n").alias("old_n")
    )
    s2 = _snapshot(ev, "2024-01-10", "2024-01-31").select(
        F.col("user_id"), F.col("total").alias("new_total"), F.col("n").alias("new_n")
    )
    j = s1.join(s2, "user_id", "full_outer")
    change = (
        F.when(F.col("old_n").isNull(), "insert")
        .when(F.col("new_n").isNull(), "delete")
        .when(
            (F.col("old_total") != F.col("new_total"))
            | (F.col("old_n") != F.col("new_n")),
            "update",
        )
        .otherwise("unchanged")
    )
    return j.select(
        "user_id",
        change.alias("change_type"),
        F.col("old_total").cast("double").alias("old_total"),
        F.col("new_total").cast("double").alias("new_total"),
    )


SQL_CDC_USER_STATE_DIFF = """
WITH s1 AS (
    SELECT user_id, sum(CAST(value AS DECIMAL(18,4))) AS old_total, count(*) AS old_n
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY 1
),
s2 AS (
    SELECT user_id, sum(CAST(value AS DECIMAL(18,4))) AS new_total, count(*) AS new_n
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-31'
    GROUP BY 1
)
SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
       CASE WHEN s1.user_id IS NULL THEN 'insert'
            WHEN s2.user_id IS NULL THEN 'delete'
            WHEN s1.old_total <> s2.new_total OR s1.old_n <> s2.new_n THEN 'update'
            ELSE 'unchanged' END AS change_type,
       CAST(s1.old_total AS DOUBLE) AS old_total,
       CAST(s2.new_total AS DOUBLE) AS new_total
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
"""


VOCAB_MIN_FREQ = 5


def _vocab(docs: DataFrame) -> DataFrame:
    """(token_id, token, freq, doc_freq): corpus vocabulary with a
    frequency cutoff and DETERMINISTIC contiguous ids — ranked by
    (freq DESC, token ASC), so id assignment is a pure function of the
    corpus (the BPE-trainer precursor every tokenizer build starts from).
    ids start at 1; 0 is reserved for OOV."""
    toks = _doc_tokens(docs)
    freq = toks.groupBy("token").agg(
        F.count("*").alias("freq"), F.countDistinct("doc_id").alias("doc_freq")
    )
    # two-pass global rank (ordered_stats): id assignment stays a pure
    # function of the corpus, without the old single-partition window
    # over the whole vocabulary
    kept = freq.filter(F.col("freq") >= VOCAB_MIN_FREQ)
    return attach_order_stats(
        kept,
        [F.col("freq").desc(), F.col("token").asc()],
        "freq",
        True,
        row_number="_rid",
    ).select(
        F.col("_rid").cast("int").alias("token_id"), "token", "freq", "doc_freq"
    )


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vocab(load_table(spark, sf_dir, "documents"))


SQL_VOCAB_BUILD = f"""
WITH {_TOK_CTE},
freq AS (
    SELECT token, CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS INT) AS token_id,
       token, freq, doc_freq
FROM freq WHERE freq >= {VOCAB_MIN_FREQ}
"""


def q_docs_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as its token-id sequence against the built
    vocabulary (OOV -> 0), serialized as a space-joined string so the
    comparison is order-sensitive and engine-portable. Tokens keep
    their original positions through the vocab join (posexplode /
    generate_subscripts), so the sequence is exact. The vocab side is
    tiny -> broadcast; the only shuffle is the per-doc regroup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    vocab = _vocab(docs).select("token", "token_id")
    enc = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("token_id"), F.lit(0)).alias("tid")
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("tid") == 0, 1).otherwise(0)).alias("n_oov"),
            F.array_join(seq, " ").alias("ids"),
        )
        .withColumn("n_tokens", F.col("n_tokens").cast("bigint"))
        .withColumn("n_oov", F.col("n_oov").cast("bigint"))
    )


SQL_DOCS_ENCODE_IDS = f"""
WITH ptok AS (
    SELECT * FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token,
               generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) AS pos
        FROM documents
    ) WHERE token <> ''
),
freq AS (SELECT token, count(*) AS freq FROM ptok GROUP BY 1),
vocab AS (
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS INT) AS token_id,
           token
    FROM freq WHERE freq >= {VOCAB_MIN_FREQ}
)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (v.token_id IS NULL) AS BIGINT) AS n_oov,
       array_to_string(list(COALESCE(v.token_id, 0) ORDER BY p.pos), ' ') AS ids
FROM ptok p LEFT JOIN vocab v USING (token)
GROUP BY p.doc_id
"""


def q_text_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF extension surface behind the driver oracle: the
    SAME fixed-size token chunking as `text_chunks`, but computed by a
    registered user-defined table function applied via LATERAL — the
    user-extension point the reference engine entirely lacks
    (SURVEY.md:182-199). Oracle = text_chunks' SQL: the UDTF must agree
    with the expression form row-for-row (also pinned at chunk size 16
    in tests/test_text_multimodal.py). Row-at-a-time Python, so the
    expression form remains the production path; this entry binds the
    extension surface itself into driver evidence."""
    from movie_data_transformer_spark.operators.text import chunk_text_udtf

    spark.udtf.register("chunk_text", chunk_text_udtf())
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_chunk_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens "
        "FROM udtf_chunk_docs d, LATERAL chunk_text(d.text, 64) c"
    )



# single source: the UDTF must match the expression chunker exactly, so
# it is held to the exact same oracle SQL
from movie_data_transformer_spark.operators.llm_queries import (  # noqa: E402
    SQL_TEXT_CHUNKS as _SQL_TEXT_CHUNKS_UDTF,
)


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the documents corpus (12 merges) —
    see operators/bpe.py. Rows-only: the loop is inherently iterative;
    the binding driver evidence is bpe_invariants_gate + the classic
    low/lower/newest golden pytest (tests/test_bpe.py)."""
    from movie_data_transformer_spark.operators.bpe import learn_bpe_merges

    return learn_bpe_merges(load_table(spark, sf_dir, "documents"))


def q_bpe_invariants_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked gate over the rows-only BPE trainer: (1) the first
    learned merge equals an INDEPENDENT single-round argmax
    recomputation from the raw corpus, (2) merge_idx is dense 0..n-1
    with positive counts, (3) encoding the corpus with the learned
    merges strictly compresses (subwords < raw symbols) while never
    going below one token per word. Oracle = the literal expected
    booleans, so any trainer regression breaks the driver hash."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.bpe import (
        apply_bpe_merges,
        learn_bpe_merges,
        top_pair,
        words_as_symbols,
    )

    docs = load_table(spark, sf_dir, "documents")
    learned = learn_bpe_merges(docs).orderBy("merge_idx").collect()
    first = top_pair(words_as_symbols(docs))
    first_ok = bool(
        learned
        and first is not None
        and (learned[0].left, learned[0].right, learned[0].pair_count) == first
    )
    dense_ok = [r.merge_idx for r in learned] == list(range(len(learned))) and all(
        r.pair_count > 0 for r in learned
    )
    enc = apply_bpe_merges(docs, [(r.left, r.right) for r in learned])
    raw_symbols = docs.selectExpr(
        "size(split(lower(trim(text)), '\\s+')) AS n_words",
        "length(replace(lower(trim(text)), ' ', '')) AS n_chars",
    ).agg(
        F.sum(F.col("n_chars") + F.col("n_words")).cast("bigint").alias("raw")
    ).collect()[0].raw
    tot = enc.agg(
        F.sum("n_subwords").cast("bigint").alias("sub"),
        F.sum("n_words").cast("bigint").alias("words"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                first_ok,
                bool(dense_ok),
                bool(tot.sub < raw_symbols),
                bool(tot.sub >= tot.words),
            )
        ],
        "first_merge_ok boolean, table_dense_ok boolean, "
        "compresses boolean, no_overmerge boolean",
    )


SQL_BPE_INVARIANTS_GATE = """
SELECT CAST(1 AS BOOLEAN) AS first_merge_ok,
       CAST(1 AS BOOLEAN) AS table_dense_ok,
       CAST(1 AS BOOLEAN) AS compresses,
       CAST(1 AS BOOLEAN) AS no_overmerge
"""


#: fixed merge list for the oracle-checked encode entry: common English
#: bigrams + two end-of-word merges, applied in this order. A production
#: tokenizer would use the learned table from `bpe_learn_merges`; the
#: FIXED list is what lets the replace chain be replayed verbatim inside
#: a static DuckDB oracle (learned merges vary with the corpus/SF, and
#: oracle_sql() strings are fixed per query).
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("the", "</w>"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("o", "n"),
    ("s", "</w>"),
]


def q_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: encode every document with
    the fixed BPE merge list (operators/bpe.apply_bpe_merges — the same
    replace-chain the trainer uses), binding the full encoded subword
    string into the driver hash via md5. Entirely map-side: zero
    shuffles, one whole-stage-codegen'd projection per document — the
    shape that lets a 100 TB corpus encode at scan speed. The oracle
    replays the identical replace chain in DuckDB (both engines replace
    leftmost non-overlapping occurrences scanning left-to-right —
    probed, see bpe.py)."""
    from movie_data_transformer_spark.operators.bpe import apply_bpe_merges
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    # the encode replace-chain is pure map work, so WITHOUT a widen the
    # whole query runs at scan parallelism — one task on the testdata's
    # single-row-group parquet (r12 opt round; no-op on an already-wide
    # cluster scan, preserving the zero-extra-shuffle scale story)
    enc = apply_bpe_merges(
        widen_for_compute(load_table(spark, sf_dir, "documents")),
        BPE_FIXED_MERGES,
        with_encoding=True,
    )
    return enc.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_subwords").cast("bigint").alias("n_subwords"),
        F.md5(F.col("encoded")).alias("enc_md5"),
    )


def _bpe_replace_chain_sql(expr: str) -> str:
    for left, right in BPE_FIXED_MERGES:
        expr = f"replace({expr}, ' {left} {right} ', ' {left}{right} ')"
    return expr


SQL_BPE_ENCODE_FIXED = f"""
WITH sym AS (
    SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
               AS n_words,
           ' ' || array_to_string(
                    list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                                   w -> array_to_string(string_split(w, ''), ' ')),
                    ' </w>  ') || ' </w> ' AS s
    FROM documents
),
m AS (SELECT doc_id, n_words, {_bpe_replace_chain_sql('s')} AS s FROM sym)
SELECT doc_id, n_words,
       CAST(len(string_split_regex(trim(s), ' +')) AS BIGINT) AS n_subwords,
       md5(regexp_replace(trim(s), ' +', ' ', 'g')) AS enc_md5
FROM m
"""


def q_ccnet_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus trichotomy (Wenzek et al. 2020 §4.3): rank
    every document by its unigram-LM score against the corpus and split
    into head/middle/tail terciles, reporting per-bucket volume and the
    score range. The score is the per-doc mean corpus token frequency in
    exact integer micro-units (floor) — monotone with the negated LM
    perplexity's frequency term and, unlike a log-prob, bit-identical
    across engines (lm_queries module docstring). Tercile assignment is
    ntile over the TOTAL order (score desc, doc_id), so it is
    deterministic and engine-portable.

    Scale: tercile assignment rides the two-pass global rank
    (operators/ordered_stats — quantile-bucketed parallel prefix rank +
    the integer ntile formula), so there is no single-partition sort at
    doc grain and the terciles stay POSITIONALLY exact — still
    bit-reproducible in the oracle, unlike sketch-cutoff terciles."""
    tfd = (
        _doc_tokens(load_table(spark, sf_dir, "documents"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    tf = tfd.groupBy("token").agg(F.sum("tf").alias("freq"))
    doc = (
        tfd.join(tf, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("freq")).cast("bigint").alias("sum_freq"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            # floor micro-units; DECIMAL product == the oracle's HUGEINT
            # (bigint sum_freq * 1e6 would overflow first at scale)
            "CAST(CAST(sum_freq AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)"
            " AS score_micro",
        )
    )
    ranked = attach_order_stats(
        doc,
        [F.col("score_micro").desc(), F.col("doc_id").asc()],
        "score_micro",
        True,
        row_number="_rn",
        total_count="_n",
    )
    return (
        ranked.withColumn("tile", F.expr(ntile_expr("_rn", "_n", 3)))
        .groupBy("tile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("score_micro").alias("min_score_micro"),
            F.max("score_micro").alias("max_score_micro"),
        )
        .selectExpr(
            "CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
            " AS bucket",
            "n_docs",
            "n_tokens",
            "min_score_micro",
            "max_score_micro",
        )
    )


SQL_CCNET_LM_BUCKETS = f"""
WITH {_TOK_CTE},
tf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS freq FROM tfd GROUP BY 1),
doc AS (
    SELECT d.doc_id,
           CAST(sum(d.tf) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(d.tf * f.freq) AS HUGEINT) * 1000000
                // CAST(sum(d.tf) AS HUGEINT) AS BIGINT) AS score_micro
    FROM tfd d JOIN tf f USING (token)
    GROUP BY d.doc_id
),
b AS (
    SELECT n_tokens, score_micro,
           ntile(3) OVER (ORDER BY score_micro DESC, doc_id ASC) AS tile
    FROM doc
)
SELECT CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(score_micro) AS min_score_micro,
       max(score_micro) AS max_score_micro
FROM b GROUP BY 1
"""


def q_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 within-document bigrams by PMI
    with min support 5. PMI's log is monotone in the exact rational
    P(w1,w2)/(P(w1)P(w2)) = c12*N^2/(Nb*c1*c2), so the score is that
    ratio in floor micro-units — DECIMAL(38)/HUGEINT intermediates (the
    numerator reaches ~1e23 at sf0.1), quotient provably < 2^53 (it is
    bounded by N^2*1e6/(Nb*min_support)), one exact integer division,
    no log() anywhere (lm_queries module docstring). Ties broken by
    (w1, w2) so the top-k set is deterministic.

    Scale: bigrams explode map-side from shifted-slice zips (the
    word_shingles trick — the tokenizer runs once per row); two key
    joins hang per-token counts on the bigram table; N and Nb are
    scalars from the already-aggregated count tables, broadcast back."""
    toks = _doc_tokens(load_table(spark, sf_dir, "documents"))
    ug = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
    pairs = (
        load_table(spark, sf_dir, "documents")
        .selectExpr(r"split(lower(trim(text)), '\\s+') AS t")
        .selectExpr(
            "explode(transform(slice(t, 1, size(t) - 1),"
            " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))) AS p"
        )
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    n_tok = ug.agg(F.sum("c").cast("bigint").alias("n_tok"))
    n_big = bg.agg(F.sum("c12").cast("bigint").alias("n_big"))
    scored = (
        bg.filter(F.col("c12") >= 5)
        .join(ug.selectExpr("token AS w1", "c AS c1"), "w1")
        .join(ug.selectExpr("token AS w2", "c AS c2"), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .selectExpr(
            "w1", "w2", "c12",
            "CAST(CAST(c12 AS DECIMAL(38,0)) * n_tok * n_tok * 1000000"
            " DIV (CAST(n_big AS DECIMAL(38,0)) * c1 * c2) AS BIGINT)"
            " AS pmi_ratio_micro",
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio_micro").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


SQL_BIGRAM_PMI_TOPK = r"""
WITH tl AS (
    SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
prs AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tl)
    WHERE t[i] <> '' AND t[i + 1] <> ''
),
ug AS (
    SELECT token, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY 1
),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM prs GROUP BY 1, 2),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM ug),
totb AS (SELECT CAST(sum(c12) AS BIGINT) AS n_big FROM bg)
SELECT b.w1, b.w2, b.c12,
       CAST(CAST(b.c12 AS HUGEINT) * n_tok * n_tok * 1000000
            // (CAST(n_big AS HUGEINT) * u1.c * u2.c) AS BIGINT)
           AS pmi_ratio_micro
FROM bg b
JOIN ug u1 ON b.w1 = u1.token
JOIN ug u2 ON b.w2 = u2.token, tot, totb
WHERE b.c12 >= 5
ORDER BY pmi_ratio_micro DESC, b.w1 ASC, b.w2 ASC
LIMIT 20
"""


QUERIES = {
    "text_unigram_lm": (q_text_unigram_lm, SQL_TEXT_UNIGRAM_LM),
    "vocab_build": (q_vocab_build, SQL_VOCAB_BUILD),
    "docs_encode_ids": (q_docs_encode_ids, SQL_DOCS_ENCODE_IDS),
    "text_tfidf_topk": (q_text_tfidf_topk, SQL_TEXT_TFIDF_TOPK),
    "scd2_user_value": (q_scd2_user_value, SQL_SCD2_USER_VALUE),
    "cdc_user_state_diff": (q_cdc_user_state_diff, SQL_CDC_USER_STATE_DIFF),
    "text_chunks_udtf": (q_text_chunks_udtf, _SQL_TEXT_CHUNKS_UDTF),
    "bpe_learn_merges": (q_bpe_learn_merges, None),
    "bpe_invariants_gate": (q_bpe_invariants_gate, SQL_BPE_INVARIANTS_GATE),
    "bpe_encode_fixed": (q_bpe_encode_fixed, SQL_BPE_ENCODE_FIXED),
    "ccnet_lm_buckets": (q_ccnet_lm_buckets, SQL_CCNET_LM_BUCKETS),
    "bigram_pmi_topk": (q_bigram_pmi_topk, SQL_BIGRAM_PMI_TOPK),
}
