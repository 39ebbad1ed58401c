"""Byte-Pair-Encoding merge learning — the canonical tokenizer-training
operator (Sennrich et al. 2016), Spark-first.

The reference engine has no text surface at all; this completes the
repo's tokenizer story (vocab_build = frequency vocab, docs_encode_ids =
id mapping, text_chunks = windowing) with the real merge-learning loop.

Representation: classic word-level BPE. The corpus collapses to the
DISTINCT word table with frequencies (the only state the loop touches —
at 100 TB this is |vocab| rows, not |corpus|), each word held as a
space-joined symbol string ' c h a r s </w> ' with sentinel spaces.
Per round: explode adjacent symbol pairs (zip of shifted slices — same
trick as word_shingles), weight by word frequency, take the global
argmax with a TOTAL deterministic tie-break (count desc, left asc,
right asc), then apply the merge to every word with one string
replace(' l r ' -> ' lr ') — Spark's replace substitutes leftmost
non-overlapping occurrences, which IS BPE's merge order.

Scale: each round is one tiny shuffle (pair counts over |vocab| rows) +
a 1-row argmax collect. The loop is inherently iterative and
order-dependent, so the registry entry is rows-only; binding
driver evidence comes from `bpe_invariants_gate` (first-round argmax
recomputed independently + structural invariants, oracle = literal
expected table) and the classic low/lower/newest golden pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.fixpoint import Fixpoint

N_MERGES = 12

#: adjacent symbol pairs of the space-joined symbol string `s`
#: (exploded), carrying the word frequency
_PAIRS_EXPR = (
    "transform(slice(syms, 1, size(syms) - 1), "
    "(x, i) -> named_struct('left', x, 'right', element_at(syms, i + 2)))"
)


def words_as_symbols(docs: DataFrame) -> DataFrame:
    """(word, freq, s): distinct lowercase whitespace words with
    frequencies; s = ' c h a r s </w> ' (sentinel spaces maintained as
    the loop invariant)."""
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.selectExpr(
        "word",
        "freq",
        "concat(' ', concat_ws(' ', split(word, '')), ' </w> ') AS s",
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    return (
        words.selectExpr("freq", "split(trim(s), ' ') AS syms")
        .filter(F.expr("size(syms) >= 2"))
        .selectExpr("freq", f"explode({_PAIRS_EXPR}) AS p")
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )


def top_pair(words: DataFrame):
    """The argmax pair under the total order (count desc, left asc,
    right asc); None when no pairs remain."""
    rows = (
        _pair_counts(words)
        .orderBy(F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc())
        .limit(1)
        .collect()
    )
    return (rows[0].left, rows[0].right, rows[0].pair_count) if rows else None


def learn_bpe_merges(docs: DataFrame) -> DataFrame:
    """The merge table (merge_idx, left, right, pair_count) after
    N_MERGES rounds (stops early if the vocabulary runs out of pairs).
    The loop over the word table is operators/fixpoint.py's."""
    learned = []

    def merge(words: DataFrame, _round: int) -> DataFrame | None:
        best = top_pair(words)
        if best is None:
            return None
        learned.append((len(learned), *best))
        left, right, _ = best
        return words.withColumn(
            "s", F.replace(F.col("s"), F.lit(f" {left} {right} "), F.lit(f" {left}{right} "))
        )

    with Fixpoint(words_as_symbols(docs)) as fx:
        fx.converge(fx.source, merge, N_MERGES)
    return docs.sparkSession.createDataFrame(
        learned, "merge_idx int, left string, right string, pair_count bigint"
    )


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    with_encoding: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Encode the corpus with a FIXED learned merge list: (doc_id,
    n_words, n_subwords[, encoded]). Merges apply in learned order — one
    string replace each, all row-local. `with_encoding` adds the
    whitespace-normalized subword string itself (single spaces between
    subwords, word boundaries visible as the '</w>' sentinel). `carry`
    names extra input columns to ride the projection (so downstream
    per-group reports need NO join back to the document table — the
    fertility-by-lang caller)."""
    enc = docs.selectExpr(
        "doc_id",
        *carry,
        "concat(' ', concat_ws(' </w>  ', transform(split(lower(trim(text)), '\\\\s+'), "
        "w -> concat_ws(' ', split(w, '')))), ' </w> ') AS s",
        "size(split(lower(trim(text)), '\\\\s+')) AS n_words",
    )
    col = F.col("s")
    for left, right in merges:
        col = F.replace(col, F.lit(f" {left} {right} "), F.lit(f" {left}{right} "))
    # split on ' +': the inter-word double space (which deliberately
    # blocks cross-word merges) must not produce empty tokens
    out = [
        F.col("doc_id"),
        *[F.col(c) for c in carry],
        F.col("n_words"),
        F.size(F.split(F.trim(col), " +")).alias("n_subwords"),
    ]
    if with_encoding:
        out.append(F.regexp_replace(F.trim(col), " +", " ").alias("encoded"))
    return enc.select(*out)
