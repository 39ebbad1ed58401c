"""Text analysis for LLM training-data pipelines (SURVEY.md §7 M5;
BASELINE.json north star): tokenization, quality scoring, language ID,
document fingerprinting.

All operators are pure built-in column expressions (JVM-side, codegen'd,
no Python in the hot path) and therefore scale linearly with input: no
shuffle at all until an aggregation is requested.

Portable-hash convention used across dedup/simhash/minhash: a token or
shingle hashes to the integer value of the first 8 hex digits of its md5
(`conv(substr(md5(s),1,8),16,10)`), which every engine reproduces exactly
— unlike engine-native hash() functions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the document text column every operator here reads
TEXT_COL = "text"

#: tiny function-word profiles for the language-ID heuristic
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "la", "que", "de", "un"),
    "fr": ("le", "la", "et", "les", "des"),
}


#: DuckDB twin of portable_hash — THE single source; modules alias it as
#: their local _HASH. Keep in lockstep with portable_hash below.
PORTABLE_HASH_SQL = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

#: the same hash as a Spark SQL expression string, for operators built
#: with selectExpr/generated SQL (the py4j-cheap construction path) —
#: keep in lockstep with portable_hash/PORTABLE_HASH_SQL
PORTABLE_HASH_SPARK_SQL = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"


def portable_hash(col: Column) -> Column:
    """Deterministic 32-bit-range hash reproducible in ANSI SQL:
    int(first 8 hex chars of md5). SQL twin: PORTABLE_HASH_SQL."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (order-preserving array)."""
    return F.split(F.trim(col), r"\s+")


def text_stats(docs: DataFrame) -> DataFrame:
    """Token counting + quality-score features per document. Ratio
    columns are exact integer micro-units (micro_ratio), never
    round(int/int, 6) — the rounding-midpoint class (NOTES.md)."""
    from movie_data_transformer_spark.functions import micro_ratio

    t = tokens(F.col(TEXT_COL))
    token_len_sum = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
    )
    base = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_uniq_tokens"),
        F.length(F.col(TEXT_COL)).cast("long").alias("n_chars_raw"),
        # BPE-ish word/number segmentation as a second count
        F.size(F.regexp_extract_all(F.col(TEXT_COL), F.lit("[a-zA-Z]+|[0-9]+"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_re"),
        token_len_sum.alias("_len_sum"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "n_uniq_tokens",
        "n_chars_raw",
        "n_tokens_re",
        micro_ratio(F.col("_len_sum"), F.col("n_tokens")).alias("avg_token_len"),
        # type-token ratio: the classic repetition/quality signal
        micro_ratio(F.col("n_uniq_tokens"), F.col("n_tokens")).alias("ttr"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """N-gram/function-word language ID heuristic: score each language
    profile by marker-token frequency; argmax wins (ties -> lexicographic
    language order for determinism)."""
    t = tokens(F.lower(F.col(TEXT_COL)))
    scores = {
        lang: F.size(F.filter(t, lambda w: w.isin(*markers))).cast("long")
        for lang, markers in LANG_PROFILES.items()
    }
    score_cols = [scores[lang].alias(f"score_{lang}") for lang in sorted(LANG_PROFILES)]
    best = F.greatest(*[scores[lang] for lang in sorted(LANG_PROFILES)])
    pred = (
        F.when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .otherwise("fr")
    )
    return docs.select("doc_id", *score_cols, pred.alias("pred_lang"))


def quality_scores(docs: DataFrame) -> DataFrame:
    """The classic corpus quality signals: punctuation ratio, stopword
    ratio, alpha ratio, mean word length — the filters an LLM data
    pipeline cuts on. All ratios in exact integer micro-units
    (micro_ratio) so threshold membership downstream (corpus_quality_
    filter, quality_gate_funnel) can never flip on a rounding midpoint."""
    from movie_data_transformer_spark.functions import micro_ratio

    t = tokens(F.lower(F.col(TEXT_COL)))
    n_chars = F.length(TEXT_COL)
    stop = F.size(
        F.filter(t, lambda w: w.isin("the", "a", "an", "and", "or", "of", "to", "in", "is"))
    )
    base = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(TEXT_COL, F.lit(r"[^a-zA-Z0-9\s]"), F.lit(0)))
        .cast("long")
        .alias("_n_punct"),
        n_chars.cast("long").alias("_n_chars"),
        stop.cast("long").alias("_n_stop"),
        F.size(t).cast("long").alias("_n_toks"),
        F.size(F.regexp_extract_all(TEXT_COL, F.lit("[a-zA-Z]"), F.lit(0)))
        .cast("long")
        .alias("_n_alpha"),
        F.aggregate(
            F.transform(t, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("_len_sum"),
    )
    return base.select(
        "doc_id",
        micro_ratio(F.col("_n_punct"), F.col("_n_chars")).alias("punct_ratio"),
        micro_ratio(F.col("_n_stop"), F.col("_n_toks")).alias("stopword_ratio"),
        micro_ratio(F.col("_n_alpha"), F.col("_n_chars")).alias("alpha_ratio"),
        micro_ratio(F.col("_len_sum"), F.col("_n_toks")).alias("mean_word_len"),
    )


def rolling_hash(col: Column) -> Column:
    """Polynomial rolling hash over the characters: fold
    acc = (acc * 31 + ascii(char)) % 2147483647. The incremental-update form
    (content-defined chunking, substring search) of document
    fingerprinting; reproducible in ANSI SQL via list_reduce."""
    chars = F.split(col, "")
    return F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 2147483647,
    )


def top_terms(docs: DataFrame) -> DataFrame:
    """Corpus term frequencies, top 20 (the canonical wordcount, done as
    explode -> partial-agg -> final-agg; deterministic tiebreak on term)."""
    t = F.explode(tokens(F.lower(F.col(TEXT_COL)))).alias("term")
    counts = docs.select(t).groupBy("term").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(20)


def fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase text
    plus a cheap 64-bit-ish numeric digest (portable_hash) for
    bucketing/sharding at scale."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(TEXT_COL)), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        portable_hash(norm).alias("fp_int"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64) -> DataFrame:
    """Fixed-size token chunking — the pretraining/RAG preprocessing step:
    split each doc into consecutive chunk_tokens-token windows,
    emitting (doc_id, chunk_idx, chunk_text, n_tokens) per chunk: the
    sliding chunker with window = stride. Every doc yields >=1 chunk
    (tokens() of empty text is [''])."""
    return chunk_documents_sliding(docs, window=chunk_tokens, stride=chunk_tokens).drop(
        "start_tok"
    )


#: PII patterns — shared between the Spark expressions and the DuckDB
#: oracle (Java regex and RE2 agree on this ASCII-only subset: character
#: classes, bounded repetition, \b word boundaries; no backrefs/lookahead).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrubbing — the compliance pass every training-data pipeline
    runs before anything else: mask emails, phone numbers, and IPv4
    addresses with typed placeholders, and count what was masked (the
    audit signal). Counts are taken on the ORIGINAL text, so they are
    well-defined regardless of replacement order; replacements run
    email -> phone -> IP (placeholders contain no digits, so later
    patterns cannot match inside earlier replacements).

    Pure regexp expressions, JVM-side, embarrassingly parallel — no
    shuffle, scales with scan bandwidth."""
    t = F.col(TEXT_COL)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IP,
        "<IP>",
    )
    count = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(t, F.lit(pat), F.lit(0))
    ).cast("int")
    return docs.select(
        "doc_id",
        count(PII_EMAIL).alias("n_emails"),
        count(PII_PHONE).alias("n_phones"),
        count(PII_IP).alias("n_ips"),
        clean.alias("clean_text"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    filters), the standard cut for boilerplate/spam in pretraining data:

      - frac_chars_top_token:  chars attributable to the single most
        frequent token / total token chars (catches "buy buy buy ...")
      - frac_chars_dup_2grams: chars in bigrams occurring more than once /
        total bigram chars
      - frac_dup_3grams:       trigram occurrences that are repeats /
        total trigram occurrences

    Shape: one explode + hash-agg per n-gram order, each re-aggregated to
    doc grain and joined back on doc_id. All three aggregations and the
    joins share the doc_id key space, so at scale the final joins are
    co-partitioned; the heavy explode stages do map-side partial
    aggregation ((doc, gram) keys collapse before the shuffle on
    repetitive text — exactly the docs this operator exists to catch).
    N-grams via shifted slices of the token array (see word_shingles:
    constant tokenizer evaluations per row)."""
    t = tokens(F.lower(F.col(TEXT_COL)))
    toks = docs.select("doc_id", t.alias("t"))
    n = F.size("t")
    big = F.zip_with(
        F.slice("t", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("t", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tri = F.zip_with(
        F.slice("t", 1, F.greatest(n - 2, F.lit(0))),
        F.zip_with(
            F.slice("t", 2, F.greatest(n - 2, F.lit(0))),
            F.slice("t", 3, F.greatest(n - 2, F.lit(0))),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )

    def gram_counts(gram_col):
        return (
            toks.select("doc_id", F.explode(gram_col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("n"))
        )

    from movie_data_transformer_spark.functions import micro_ratio

    chars = F.col("n") * F.length("g")
    # ratios in exact integer micro-units (micro_ratio), never
    # round(int/int, 6) — the rounding-midpoint class (NOTES.md)
    uni_stats = (
        gram_counts(F.col("t"))
        .groupBy("doc_id")
        .agg(F.max(chars).alias("_mx"), F.sum(chars).alias("_sm"))
        .select(
            "doc_id",
            F.when(F.col("_sm") > 0, micro_ratio(F.col("_mx"), F.col("_sm")))
            .otherwise(F.lit(0.0))
            .alias("frac_chars_top_token"),
        )
    )
    bi_stats = (
        gram_counts(big)
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n") > 1, chars).otherwise(F.lit(0))).alias("_dup"),
            F.sum(chars).alias("_sm"),
        )
        .select(
            "doc_id",
            micro_ratio(F.col("_dup"), F.col("_sm")).alias("frac_chars_dup_2grams"),
        )
    )
    tri_stats = (
        gram_counts(tri)
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).alias("_dup"),
            F.sum("n").alias("_sm"),
        )
        .select(
            "doc_id",
            micro_ratio(F.col("_dup"), F.col("_sm")).alias("frac_dup_3grams"),
        )
    )
    return (
        uni_stats.join(bi_stats, "doc_id", "left")
        .join(tri_stats, "doc_id", "left")
        .select(
            "doc_id",
            "frac_chars_top_token",
            F.coalesce("frac_chars_dup_2grams", F.lit(0.0)).alias("frac_chars_dup_2grams"),
            F.coalesce("frac_dup_3grams", F.lit(0.0)).alias("frac_dup_3grams"),
        )
    )


def chunk_documents_sliding(
    docs: DataFrame, window: int = 64, stride: int = 32
) -> DataFrame:
    """Overlapping token chunking (RAG-style): windows of `window` tokens
    starting every `stride` tokens, so consecutive chunks share
    window - stride tokens of context. Pure built-in expressions: tokens
    materialized ONCE in a first projection, then sequence+slice+
    array_join build the chunks and explode flattens — all JVM-side, no
    Python in the path. Chunk starts cover [0, n) in stride steps, so trailing
    chunks may be shorter than `window` but every token appears in at
    least one chunk."""
    toks = docs.select("doc_id", tokens(F.col(TEXT_COL)).alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(stride)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * stride).cast("int").alias("start_tok"),
            F.array_join(
                F.slice(F.col("toks"), i * stride + 1, F.lit(window)), " "
            ).alias("chunk_text"),
            F.size(F.slice(F.col("toks"), i * stride + 1, F.lit(window)))
            .cast("int")
            .alias("n_tokens"),
        ),
    )
    return toks.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.start_tok", "c.chunk_text", "c.n_tokens"
    )


def chunk_text_udtf():
    """The same chunker as a Python UDTF — the user-extension surface
    (reference has none: SURVEY.md:182-199 documents the absence of any
    UDF/UDAF/UDTF hook). Row-at-a-time Python, so the expression form
    above is the production path; this demonstrates the lateral-table
    extension point. Returns the UDTF (created lazily — no session or
    JVM needed at import time)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_tokens int")
    class ChunkText:
        def eval(self, text: str, chunk_tokens: int):
            import re

            if text is None:
                # match the expression form: split(trim(NULL)) is NULL,
                # so a NULL doc contributes no chunk rows
                return
            toks = re.split(r"\s+", text.strip())
            for ci in range(0, max(len(toks), 1), chunk_tokens):
                window = toks[ci : ci + chunk_tokens]
                yield ci // chunk_tokens, " ".join(window), len(window)

    return ChunkText


def pack_sequences(chunks: DataFrame) -> DataFrame:
    """Sequence packing — assemble variable-length chunks into fixed
    200-token training rows (the step between chunking and batching
    in every pretraining pipeline; unpacked batches waste the budget on
    padding). Greedy first-fit in a DETERMINISTIC order (doc_id,
    chunk_idx) inside each hash bucket, via applyInPandas — packing is
    inherently sequential, so the parallelism unit is the bucket (8 of
    them), not the row. Output: one row per chunk with its (bucket, bin_id)
    assignment; bin_id is dense within bucket.

    100 TB note: buckets are hash-partitioned work units — thousands of
    independent packers, each streaming its bucket sorted; no global
    sort, no driver involvement. Determinism (same assignment under any
    input partitioning) is asserted in tests."""
    import pandas as pd

    from movie_data_transformer_spark.operators.text import portable_hash

    schema = "doc_id long, chunk_idx int, n_tokens int, bucket int, bin_id int"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True)
        bins, used = [], 0
        bin_id = -1
        for n in pdf["n_tokens"]:
            if bin_id < 0 or used + n > 200:
                bin_id += 1
                used = 0
            bins.append(bin_id)
            used += n
        pdf["bin_id"] = pd.Series(bins, dtype="int32")
        return pdf[["doc_id", "chunk_idx", "n_tokens", "bucket", "bin_id"]]

    with_bucket = chunks.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        (portable_hash(F.col("doc_id").cast("string")) % 8).cast("int").alias("bucket"),
    )
    return with_bucket.groupBy("bucket").applyInPandas(_pack, schema)
