"""Deduplication for LLM training-data pipelines (SURVEY.md §7 M5):
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything uses the portable md5-prefix hash (text.portable_hash) so the
DuckDB oracles can reproduce results bit-for-bit — and, more importantly,
so results are engine- and partitioning-independent (a requirement for
reproducible corpus curation at 100 TB).

Scale design:
  - exact dedup: hash-groupBy on the normalized-content digest — one
    shuffle keyed by digest, no comparisons.
  - MinHash+LSH: shingle -> 32 minhashes (16 bands x 2 rows) -> explode
    bands -> (band, signature) buckets. Candidate generation is a
    bucket grouping (one shuffle on band signature), NEVER an all-pairs
    cross join; verification joins only candidate pairs' shingle sets.
    Every pair generator here (bucket or shingle self-join, hub cap,
    integer Jaccard) is operators/pairs.py's.
  - SimHash: 64-bit fingerprint per doc from signed bit votes of token
    hashes; candidate pairs via 16-bit band blocking (4 x 65,536 bucket
    keys; pigeonhole-complete for Hamming<=3), verified by
    bit_count(xor) — bucket-join, not cross-join.
  - n-gram Jaccard: word-bigram sets joined on shingle within candidate
    blocks; Jaccard = |inter| / (|a|+|b|-|inter|).

Caching contract: several operators here (and in dedup_extras_queries /
late_r6_queries) `.persist()` a multi-consumer intermediate and do NOT
unpersist it — the cached plan node is still referenced by the returned
DataFrame, so unpersisting before the caller's terminal action would
recompute the subtree per consumer. Library callers composing many of
these in one long-lived session should call
`spark.catalog.clearCache()` between logical jobs (exactly what
tools/check_oracle.py and bench.py do per query); storage-memory
pressure otherwise evicts blocks LRU, which is safe but silently
recomputes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.fixpoint import Fixpoint
from movie_data_transformer_spark.operators.pairs import (
    bucket_pairs,
    jaccard_micro,
    jaccard_pairs,
    shared_key_pairs,
)
from movie_data_transformer_spark.operators.sizing import widen_for_compute
from movie_data_transformer_spark.operators.text import tokens

# 32 affine minhash functions h_i(x) = (A_i * x + B_i) mod P (P = 2^31-1).
MINHASH_P = 2147483647
MINHASH_COEFFS = [(2 * i + 1, 7919 * (i + 1)) for i in range(32)]
N_BANDS, ROWS_PER_BAND = 16, 2

#: SQL twin of transform(shingles, portable_hash) — a single F.expr is
#: far cheaper to CONSTRUCT than the Python-lambda transform (py4j
#: roundtrips per lambda), and this runs on every query build.
HVALS_EXPR = (
    "transform(shingles, s -> "
    "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
)


def normalize_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def augmented_corpus(docs: DataFrame) -> DataFrame:
    """Documents + planted duplicates, so dedup operators have real work:
      - docs 0-49: a NEAR-dup copy (doc_id+100000) with every word starting
        with 's' removed (order-preserving array filter — portable SQL);
      - docs 50-99: an EXACT copy (doc_id+200000).
    Text is whitespace-normalized+lowercased up front so the planted copies
    are well-defined. lang/n_chars keep their original values (blocking
    keys only)."""
    norm = normalize_text(F.col("text"))
    base = docs.select("doc_id", norm.alias("text"), "lang", "n_chars")
    near = (
        docs.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(
                F.filter(F.split(norm, " "), lambda w: F.substring(w, 1, 1) != "s"), " "
            ).alias("text"),
            "lang",
            "n_chars",
        )
    )
    exact = (
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
        .select((F.col("doc_id") + 200000).alias("doc_id"), norm.alias("text"), "lang", "n_chars")
    )
    return base.unionAll(near).unionAll(exact)


#: DuckDB mirror of augmented_corpus — keep in lockstep.
CORPUS_ORACLE_CTE = r"""
corpus AS (
    SELECT doc_id,
           lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS text,
           lang, n_chars
    FROM documents
    UNION ALL
    SELECT doc_id + 100000,
           array_to_string(list_filter(
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
               w -> substr(w, 1, 1) <> 's'), ' '),
           lang, n_chars
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id + 200000,
           lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
           lang, n_chars
    FROM documents WHERE doc_id >= 50 AND doc_id < 100
)
"""


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized-content digest: one row per
    distinct content, with the representative (min doc_id) and the count
    of copies. Hash-groupBy — no pairwise comparisons."""
    digest = F.md5(normalize_text(F.col("text"))).alias("digest")
    return (
        docs.select("doc_id", digest)
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (order-preserving construction,
    set semantics downstream).

    Built by zip-concatenating n SHIFTED SLICES of the token array, so the
    tokenizer expression evaluates a constant number of times per ROW. (The
    naive element_at(tokens, i+j) form embeds a copy of the split() inside
    every lambda element — O(n * n_shingles) re-tokenizations per doc, a
    measured 8x slowdown on the sf0.1 corpus.) Short docs (< n words)
    yield one shingle of all available words: zip_with pads the short
    slices with NULL and concat_ws skips NULLs, matching the element_at
    out-of-bounds semantics of the naive form."""
    t = tokens(text_col)
    n_shingles = (F.greatest(F.size(t) - n, F.lit(0)) + 1).cast("int")
    acc = F.slice(t, 1, n_shingles)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(t, j + 1, n_shingles), lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(acc)


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded pairs over normalized text."""
    return docs.select(
        "doc_id", F.explode(word_shingles(normalize_text(F.col("text")), n)).alias("shingle")
    )


def minhash_signatures_from_arrays(shingle_sets: DataFrame) -> DataFrame:
    """Shuffle-free signatures: each minhash is array_min of an affine
    transform of the row's pre-hashed shingle array — pure row-local
    computation, so the only shuffles left in the LSH pipeline are the
    band-bucket join and the verify joins.

    REQUIRES a materialized `hvals` column (see minhash_dedup_pairs):
    referencing an md5 expression from 32 sibling projections would
    re-evaluate it 32x after projection collapse.

    Built as ONE selectExpr: the 32-lambda Column form cost ~0.4s of
    py4j expression construction PER QUERY BUILD on the driver — about
    a quarter of dedup_minhash_lsh's warm wall time at sf0.1 (the r4
    bench regression was driver-side plan construction, not the
    executed plan, which is byte-identical)."""
    exprs = [
        f"array_min(transform(hvals, h -> (h * {a} + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return shingle_sets.selectExpr("doc_id", *exprs)


def band_table(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, sig) exploded LSH band rows from a 32-minhash
    signature table: 16 bands of 2 rows each (LSH threshold
    (1/b)^(1/r) ~= 0.25, recall ~0.94 at jaccard 0.4). Row-local
    expression work only — this IS the LSH index layout a corpus
    maintains across ingests (see incremental_minhash_pairs_from_index).
    inline()
    in one selectExpr: explodes AND flattens the struct fields in a
    single cheap-to-construct expression."""
    structs = ", ".join(
        "named_struct('band', {bi}, 'sig', concat_ws(':', {cols}))".format(
            bi=bi,
            cols=", ".join(f"mh{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for bi in range(N_BANDS)
    )
    return signatures.selectExpr("doc_id", f"inline(array({structs}))")


def lsh_candidate_pairs(signatures: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Docs sharing any band signature become candidates: the (band,
    sig) buckets of pairs.bucket_pairs — one shuffle, row-local pair
    expansion. Pair expansion per bucket is inherently quadratic in
    bucket size for ANY LSH scheme; at 100 TB pass max_bucket_size to
    drop pathological buckets (a bucket that large means the docs are
    all near-identical — route them to exact_dedup instead, which is
    linear)."""
    bands = band_table(signatures).select("band", "sig", F.col("doc_id").alias("doc"))
    return bucket_pairs(bands, ["band", "sig"], "doc", max_bucket_size)


def jaccard_verify_arrays(
    candidates: DataFrame, shingle_sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard via per-pair set arithmetic: join each candidate pair
    to the two docs' shingle ARRAYS and compute
    |intersect| / (|a|+|b|-|intersect|) with array_intersect — two
    equi-joins keyed by doc id and zero row blowup (the exploded-join form
    multiplies each pair by its shingle count before re-aggregating)."""
    sa = shingle_sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sa"))
    sb = shingle_sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sb"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
            F.size("_sa").alias("n_a"),
            F.size("_sb").alias("n_b"),
        )
        .select(
            "doc_a", "doc_b", (jaccard_micro("n_inter", "n_a", "n_b") / 1_000_000).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(docs: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: word-trigram shingle -> sign ->
    band -> bucket-join candidates -> exact-Jaccard verify (array form) at
    Jaccard >= 0.3.
    max_bucket_size flows to lsh_candidate_pairs — the pathological-bucket
    escape hatch for scale runs (see its docstring).

    The shingle-set table feeds three consumers (signatures + both sides
    of the verify join); persist it so tokenize/shingle/hash runs once.
    At cluster scale this is a checkpoint of the shingle table — the
    standard shape for corpus-dedup pipelines (shingling dominates)."""
    sets = (
        widen_for_compute(docs).select(
            "doc_id", word_shingles(normalize_text(F.col("text")), 3).alias("shingles")
        )
        # hash once per shingle, MATERIALIZED by the persist — the 32
        # signature projections then read cached values
        .withColumn("hvals", F.expr(HVALS_EXPR))
        .persist()
    )
    cands = lsh_candidate_pairs(
        minhash_signatures_from_arrays(sets), max_bucket_size=max_bucket_size
    )
    return jaccard_verify_arrays(cands, sets.select("doc_id", "shingles"), 0.3)


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, hvals) — the per-doc shingle-index row format:
    distinct word trigrams plus their portable hashes, materialized once
    per doc. This is the table a corpus PERSISTS across ingests (the
    dedup index); signatures, band rows, and exact verification all
    derive from it with row-local work only."""
    return (
        widen_for_compute(docs)
        .select(
            "doc_id",
            word_shingles(normalize_text(F.col("text")), 3).alias("shingles"),
        )
        .withColumn("hvals", F.expr(HVALS_EXPR))
    )


def incremental_minhash_pairs_from_index(
    stored_sets: DataFrame,
    stored_bands: DataFrame,
    new_sets: DataFrame,
    max_bucket_size: int | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental corpus dedup: near-dup pairs (Jaccard >= 0.3) linking
    a NEW ingest batch to the existing corpus (and to itself) WITHOUT
    ever comparing two existing docs. Every candidate pair has >= 1 new side by
    construction, so the result equals the full recompute
    (minhash_dedup_pairs over state+batch) filtered to pairs touching a
    new doc — bucket co-habitation is pairwise.

    The state side arrives as a PERSISTED LSH index — shingle sets
    (doc_shingle_sets rows) AND band rows (doc_id, band, sig) — so NO
    state signature is ever recomputed; per-ingest compute is
    batch-sized (r4 VERDICT "What's wrong #1" fix). Contract: stored and
    new doc_ids are disjoint (the streaming layer guarantees it even
    across foreachBatch replays).

    `new_bands`, when given, MUST equal
    ``band_table(minhash_signatures_from_arrays(new_sets))`` — it exists
    ONLY so a caller that has already persisted that derivation (the
    dedup_incremental_minhash entry) can hand over the cached copy
    instead of having it re-derived here; passing any other table
    silently yields wrong pairs (r12 ADVICE low #3). Defaults to
    deriving it from `new_sets`.

    Dataflow: (1) band the BATCH only; (2) restrict the stored index to
    the buckets the batch touches (left-semi on (band, sig) — with the
    index partitioned/bucketed by band/sig at scale this is a pruned
    lookup, and the semi-join build side is |batch|-sized); (3) apply
    max_bucket_size over TOUCHED buckets only — untouched buckets cannot
    produce candidates, so counting them (the old full-index groupBy, a
    full-corpus shuffle per ingest) is pure waste; the count per touched
    bucket still includes both stored and batch rows, so the cap decision
    is identical to the full recompute's; (4) join batch bands against
    touched-index + batch bands, verify candidates with exact Jaccard —
    the stored shingle-set side first left-semi restricted to the
    candidate doc_ids (a broadcast of the candidate pairs' id column),
    so the verify's state-side input is an index LOOKUP of the touched
    docs, not a full stored-table scan (r5 VERDICT design note #2; with
    the sets table bucketed by doc_id at scale this prunes to the
    candidate docs' buckets). The candidate subtree feeds both the id
    broadcast and the verify join above one distinct-exchange, which AQE
    reuses (ReusedExchange) rather than recomputing. The touched-bucket
    index is persist()ed (same caller obligation as the batch tables: a
    long-lived per-batch driver should clearCache/unpersist after
    consuming the result)."""
    if new_bands is None:
        new_bands = band_table(minhash_signatures_from_arrays(new_sets))
    # r13 fused candidate chain: ONE (band, sig) exchange for the whole
    # bucket phase. The touched index (semi-restricted stored rows +
    # batch rows, tagged) is repartitioned by the bucket key ONCE and
    # persisted; the bucket-cap count, the cap semi-join, and the
    # new-vs-all candidate join all run on that partitioning with NO
    # further exchange (HashAggregate and SortMergeJoin both see their
    # distribution requirement already satisfied). The old chain paid
    # four batch-grain shuffles here (probe distinct, cap count,
    # candidate join, pair distinct); only the pair distinct remains
    # wide. The semi probe no longer pre-distincts (band, sig): a semi
    # join only tests existence, so the distinct exchange bought nothing.
    touched_stored = stored_bands.join(
        new_bands.select("band", "sig"), ["band", "sig"], "left_semi"
    )
    idx = (
        touched_stored.select("doc_id", "band", "sig")
        .withColumn("_is_new", F.lit(False))
        .unionByName(
            new_bands.select("doc_id", "band", "sig").withColumn(
                "_is_new", F.lit(True)
            )
        )
        .repartition("band", "sig")
        .persist()
    )
    if max_bucket_size is not None:
        # filtering the INDEX side alone suffices: a candidate pair needs
        # an index row in its bucket, so dropped buckets produce nothing
        # regardless of the batch side; the count per touched bucket
        # still includes both stored and batch rows, so the cap decision
        # is identical to the full recompute's
        ok_buckets = (
            idx.groupBy("band", "sig")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .select("band", "sig")
        )
        index = idx.join(ok_buckets, ["band", "sig"], "left_semi")
    else:
        index = idx
    cands = (
        index.filter(F.col("_is_new"))
        .select(F.col("doc_id").alias("_new"), "band", "sig")
        .join(index.select("doc_id", "band", "sig"), ["band", "sig"])
        .filter(F.col("_new") != F.col("doc_id"))
        .select(
            F.least(F.col("_new"), F.col("doc_id")).alias("doc_a"),
            F.greatest(F.col("_new"), F.col("doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    # materialize the (broadcast-small) candidate pair set ONCE: it feeds
    # both the id-restriction below and the verify join, and Spark does
    # not reuse the banding/bucket-join exchange between the two branches
    # (measured: the duplicated subtree nearly doubled the per-ingest
    # cost at sf0.1)
    cands = cands.localCheckpoint()
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    stored_needed = stored_sets.select("doc_id", "shingles").join(
        F.broadcast(cand_ids), "doc_id", "left_semi"
    )
    all_sets = stored_needed.unionByName(new_sets.select("doc_id", "shingles"))
    return jaccard_verify_arrays(cands, all_sets, 0.3)


def exact_substr_runs(corpus: DataFrame, window: int = 15) -> DataFrame:
    """Longest shared token RUN per duplicate-linked pair — the quantity
    the ExactSubstr paper actually removes (Lee et al. cut the shared
    substring itself, so its LENGTH is the decision variable;
    exact_substr_pairs only counts shared windows).

    Diagonal-islands construction, all relational: keep window START
    POSITIONS, join both docs' position lists on the window hash, and
    observe that a shared run of length window + L - 1 appears as L
    CONSECUTIVE positions on one diagonal (pos_a - pos_b constant). The
    longest consecutive streak per (pair, diagonal) falls out of the
    classic islands trick — pos_a - row_number() is constant within a
    streak — so the whole thing is two windows and two aggs, no
    iteration. max_run_tokens = window + max_streak - 1, exact integers,
    FULL oracle.

    Scale: the position join fans out per repeated window (pos_a x pos_b
    per hash within a pair); window hashes found in more than 100
    windows are dropped before the join (the pairs hub cap: boilerplate
    n-grams; dropped hashes can only shorten a reported run,
    conservative and mirrored in the oracle). The
    islands windows partition by (pair, diagonal) — granular keys, no
    global sort."""
    toks = F.split(F.col("text"), " ")
    wins = (
        widen_for_compute(corpus)
        .filter(F.size(toks) >= window)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (window - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice(toks, i, window))).alias("wh"),
                    ),
                )
            ).alias("w"),
        )
        .select(F.col("doc_id").alias("doc"), "w.pos", "w.wh")
        # persisted: both position-join sides read it, and each uncached
        # reference re-runs the window explode + an md5 per window — the
        # dominant map cost. Unlike ppjoin's text shingles, the cached
        # rows are two ints and a fixed-width digest, not raw token text
        .persist()
    )
    matches = (
        shared_key_pairs(wins, "wh", "doc", max_per_key=100)
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .distinct()
    )
    streaks = (
        matches.selectExpr(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_a - pos_b AS diag",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "diag",
            "pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag"
            " ORDER BY pos_a) AS island",
        )
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count("*").alias("streak"))
    )
    return (
        streaks.groupBy("doc_a", "doc_b")
        .agg(F.max("streak").alias("max_streak"))
        .selectExpr(
            "doc_a",
            "doc_b",
            f"CAST({window} + max_streak - 1 AS BIGINT) AS max_run_tokens",
        )
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Cluster the near-dup pair graph: (doc_id, cluster_root) where
    cluster_root is the MIN doc id in the doc's connected component —
    the step a corpus dedup needs after pair generation to pick ONE
    representative per duplicate cluster.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges to the
    unique fixpoint in O(component diameter) rounds (near-dup clusters
    are dense, so diameter is tiny). Each round is one shuffle join +
    one aggregation — the standard Spark connected-components shape
    (GraphX/GraphFrames do the same dataflow); the loop is
    operators/fixpoint.py's. Labels only fall, so their sum stops moving
    exactly when a round changes no label: that sum is the convergence
    probe.

    Singleton docs (no pairs) are not emitted — callers union them back
    as their own roots if needed. Raises if not converged in 20 rounds
    (never observed <6 rounds on the test corpora)."""
    sym = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    with Fixpoint(sym.distinct()) as fx:
        # partition once on the per-round join key, iterate many
        edges = fx.checkpoint(fx.source.repartition(fx.width, F.col("dst")))

        def propagate(labels: DataFrame, _round: int) -> DataFrame:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.doc_id)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            return labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left").select(
                labels.doc_id.alias("doc_id"),
                F.least(labels.label, F.coalesce(F.col("nbr_label"), labels.label)).alias("label"),
            )

        def label_sum(labels: DataFrame):
            return labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

        labels = edges.selectExpr("src AS doc_id", "src AS label").distinct()
        labels = fx.converge(labels, propagate, 20, measure=label_sum, must_converge=True)
        return fx.result(labels.select("doc_id", F.col("label").alias("cluster_root")))


# SimHash parameters: 64-bit fingerprints banded as 4 x 16 bits. The
# 16-bit bands give 4 x 65,536 bucket keys — at 100 TB each band bucket
# holds ~N/65k docs and pair expansion stays tractable, where the previous
# 32-bit/8-bit parameterization capped the groupBy key space at 4 x 256
# buckets (a ~N/256 quadratic blowup AND a 1,024-task parallelism ceiling
# — the round-3 VERDICT scale-killer). Pigeonhole guarantee is unchanged:
# hamming <= 3 bit-diffs cannot touch all 4 bands, so every qualifying
# pair still collides in at least one band.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 16


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """SimHash: per bit position, sum +-1 votes of each distinct token's
    hash bit; the 64-bit fingerprint assembles the sign bits.

    ONE aggregate pass with an array<long> accumulator (one vote counter
    per bit), fingerprint assembled in the finish lambda. The per-bit
    form (64 sibling F.aggregate expressions) embeds a copy of the
    md5-hash transform in each — 64 hash passes per doc, measured 4x
    slower on the sf0.1 corpus. Lambda variables (acc, h) are bound
    values, so referencing them repeatedly inside the merge/finish
    lambdas never re-evaluates the underlying expression.

    64 hash bits per token come from two 32-bit md5-prefix hashes in
    separate domains (w and 'hi:'+w) — the portable-hash formula yields
    32 bits, and both engines reproduce each domain exactly. The
    fingerprint is assembled SIGNED (bit 63 = sign bit) via
    (hi - 2^32 if bit63 else hi) * 2^32 + lo, which stays inside int64
    in every addition order (no ANSI overflow) and produces identical
    two's-complement bit patterns in Spark and DuckDB."""
    t = F.array_distinct(tokens(normalize_text(F.col("text"))))
    # One selectExpr for the whole vote-fold (same py4j-construction
    # economics as minhash_signatures_from_arrays — the nested-lambda
    # Column form cost ~0.5s of driver-side plan building per query).
    powers = "array(" + ", ".join(f"{1 << b}L" for b in range(32)) + ")"
    hi_raw = (
        "aggregate(zip_with(slice(acc, 33, 32), " + powers + ", "
        "(v, p) -> CASE WHEN v > 0 THEN p ELSE 0L END), 0L, (a, x) -> a + x)"
    )
    lo = (
        "aggregate(zip_with(slice(acc, 1, 32), " + powers + ", "
        "(v, p) -> CASE WHEN v > 0 THEN p ELSE 0L END), 0L, (a, x) -> a + x)"
    )
    fp_sql = f"""CAST(aggregate(
        transform(_toks, w -> named_struct(
            'lo', CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT),
            'hi', CAST(conv(substring(md5(concat('hi:', w)), 1, 8), 16, 10) AS BIGINT))),
        array_repeat(0L, {SIMHASH_BITS}),
        (acc, h) -> zip_with(acc,
            concat(
                transform({powers}, p -> CAST(CASE WHEN (h.lo & p) != 0 THEN 1 ELSE -1 END AS BIGINT)),
                transform({powers}, p -> CAST(CASE WHEN (h.hi & p) != 0 THEN 1 ELSE -1 END AS BIGINT))),
            (a, v) -> a + v),
        acc -> ({hi_raw} - CASE WHEN {hi_raw} >= {1 << 31}L THEN {1 << 32}L ELSE 0L END)
               * {1 << 32}L + {lo}
    ) AS BIGINT) AS simhash"""
    return widen_for_compute(docs).select("doc_id", t.alias("_toks")).selectExpr(
        "doc_id", fp_sql
    )


def simhash_near_pairs(docs: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (by pigeonhole, a
    pair within Hamming<=3 of 64 bits agrees on at least one of 4 bands),
    verify with bit_count(xor) inside pairs.bucket_pairs' expansion. Pass
    max_bucket_size at scale to drop pathological buckets (a band bucket
    that large means the docs are near-identical; route them to
    exact_dedup, which is linear)."""
    fps = simhash_fingerprints(docs)
    # shiftright sign-extends (Java semantics) but & 0xFFFF keeps only the
    # low 16 bits of the shifted value, so bands extracted from the SIGNED
    # fingerprint are well-defined — and DuckDB's >> on negative BIGINT is
    # arithmetic too (probed), so the oracle mirrors this exactly.
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = ", ".join(
        f"named_struct('band', {bi}, "
        f"'nib', shiftright(simhash, {SIMHASH_BAND_BITS * bi}) & {mask})"
        for bi in range(SIMHASH_BANDS)
    )
    bands = fps.selectExpr(
        "doc_id AS doc", "simhash", f"inline(array({band_structs}))"
    )
    return bucket_pairs(
        bands, ["band", "nib"], "doc", max_bucket_size, hamming="bit_count(x.simhash ^ y.simhash)"
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Word-bigram Jaccard within (lang, length-bucket) blocks — the
    classic blocked pairwise near-dup check (no LSH, exact within block)."""
    blocked = widen_for_compute(docs).select(
        F.col("doc_id").alias("doc"),
        F.col("lang"),
        (F.col("n_chars") / 100).cast("int").alias("len_bucket"),
        F.explode(word_shingles(normalize_text(F.col("text")), 2)).alias("shingle"),
    )
    return (
        jaccard_pairs(blocked, ["lang", "len_bucket", "shingle"], "doc")
        .select("doc_a", "doc_b", (F.col("jaccard_micro") / 1_000_000).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: shingles in more docs of a lang than this are dropped before a
#: containment or PPJoin self-join
MAX_SHINGLE_DF = 100


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Broder CONTAINMENT near-dup pairs: c = |A∩B| / min(|A|, |B|) over
    word-bigram shingle sets — the asymmetric complement of Jaccard that
    catches a short document embedded in a much longer one (quote farms,
    boilerplate-wrapped reposts), which Jaccard's union denominator
    dilutes below any usable threshold.

    No length-bucket blocking (unequal lengths are the point); the pair
    space is bounded instead by a PROMISCUOUS-SHINGLE guard: shingles
    appearing in more than max_shingle_df docs of a lang are dropped
    before the self-join (the pairs hub cap: each surviving shingle fans
    out <= df^2 pairs). Sizes
    |A|, |B| count ALL shingles, so a pair relying only on dropped
    common shingles scores lower, never spuriously higher — documented
    conservative semantics, reproduced exactly by the oracle. Exact
    integer micro-units end to end (full oracle)."""
    shingled = widen_for_compute(docs).select(
        F.col("doc_id").alias("doc"),
        F.col("lang"),
        F.explode(word_shingles(normalize_text(F.col("text")), 2)).alias("shingle"),
    )
    # consumed twice (both sides of the size join below) — the per-doc
    # counts are doc-grain and two columns, cheap to cache, and each
    # uncached reference would re-tokenize the whole corpus
    sizes = shingled.groupBy("doc").agg(F.count("*").alias("n_sh")).persist()
    inter = (
        shared_key_pairs(shingled, ["lang", "shingle"], "doc", max_shingle_df)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(n_inter * 1000000 div least(n_a, n_b) AS DOUBLE) / 1000000"
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def exact_substr_pairs(corpus: DataFrame) -> DataFrame:
    """ExactSubstr-style dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): two documents are duplicate-linked if
    they share ANY identical 15-token run. Exact semantics (no
    sketching), made tractable the same way as the suffix-array original:
    only identical windows join, so the candidate space is |shared
    windows|, never |docs|^2.

    Dataflow: sliding token windows from SHIFTED SLICES of the token
    array (never element_at — see word_shingles), md5 each window,
    distinct (doc, hash), then the pairs that share a window hash
    (pairs.shared_key_pairs) counted per pair. Returns
    (doc_a, doc_b, n_shared_windows).
    """
    toks = F.split(F.col("text"), " ")
    # filter BEFORE building the sequence: sequence(1, n) with n < 1
    # would generate a DESCENDING sequence, not an empty one
    wins = (
        widen_for_compute(corpus).filter(F.size(toks) >= 15)
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 14),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 15))),
                )
            ).alias("wh"),
        )
        .distinct()
    )
    return (
        shared_key_pairs(wins, "wh", "doc")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )


def ppjoin_prefix_pairs(docs: DataFrame) -> DataFrame:
    """Prefix-filtering set-similarity join (the PPJoin candidate rule,
    Xiao et al. 2008 / Chaudhuri et al. 2006): LOSSLESS near-dup pairing
    over word bigrams at Jaccard threshold t = 1/2, unlike the
    probabilistic MinHash/SimHash candidate generators.

    Every doc's shingle set is sorted by a GLOBAL canonical order
    (ascending document frequency, ties by shingle string — rare tokens
    first, so prefixes are maximally selective), and only the first
    p = m - ceil(t*m) + 1 tokens of each set are exploded into the
    candidate self-join. Prefix-filtering principle: two sets with
    Jaccard >= t must overlap in >= ceil(t*max(|a|,|b|)) tokens, and a
    set whose prefix misses all shared tokens can hold at most
    ceil(t*m) - 1 of them — contradiction; so the candidate join over
    prefixes alone provably drops NO qualifying pair. The oracle is the
    un-filtered all-pairs inverted-list join: result-set EQUALITY is the
    losslessness proof, checked by the driver.

    Set semantics: distinct word n-gram shingles, promiscuous shingles
    (per-lang df > MAX_SHINGLE_DF) removed BEFORE sizing (so Jaccard is
    exact over the kept sets — cf. containment_pairs, which keeps raw
    sizes), pairs within a lang only.

    At 100 TB: one shuffle for df, one for the per-doc sort, and the
    candidate join shuffles only PREFIX tokens (about half the corpus at
    t=0.5, and the df-ascending order makes hot tokens land in suffixes,
    so join-key skew is structurally suppressed — the reason PPJoin
    orders by rarity). The verify step joins candidate pairs (tiny)
    back to the set arrays — broadcast-sized after LSH-scale reduction.
    """
    # t as an exact fraction, so the prefix and size bounds stay integer
    t_num, t_den = 1, 2
    # sh is consumed twice (df pass + kept join) but deliberately NOT
    # persisted: the exploded shingle rows are the largest object in the
    # query and caching them alongside `sets` doubled the storage
    # footprint for the price of one map-side re-tokenize (no shuffle
    # saved — both consumers aggregate/join on different keys anyway);
    # measured bimodal 1.2s/3.7s tail-of-bench behavior under the
    # double-cache pressure, stable without it.
    sh = widen_for_compute(docs).select(
        "doc_id",
        "lang",
        F.explode(word_shingles(normalize_text(F.col("text")), 2)).alias("shingle"),
    )
    df_tab = sh.groupBy("lang", "shingle").agg(F.count("*").alias("df"))
    kept = sh.join(df_tab.filter(F.col("df") <= MAX_SHINGLE_DF), ["lang", "shingle"])
    sets = (
        kept.groupBy("doc_id", "lang")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ordered"))
        .select(
            "doc_id",
            "lang",
            F.expr("transform(ordered, x -> x.shingle)").alias("sh_set"),
            F.size("ordered").alias("m"),
        )
        # consumed three times (prefix explode + both verify sides) — at
        # 100 TB this persist is the difference between one and three
        # full shingle/sort passes (the r6 two-consumer lesson, NOTES.md)
        .persist()
    )
    # p = m - ceil(t*m) + 1, ceil in exact integers
    p_len = (
        F.col("m")
        - F.floor((F.col("m") * t_num + t_den - 1) / t_den).cast("int")
        + F.lit(1)
    )
    prefix = sets.select(
        F.col("doc_id").alias("doc"),
        "lang",
        "m",
        F.explode(F.slice("sh_set", 1, p_len)).alias("shingle"),
    )
    cands = (
        shared_key_pairs(prefix, ["lang", "shingle"], "doc")
        # size pruning: J >= t needs t*max <= min (exact integers)
        .filter(F.least("m_a", "m_b") * t_den >= F.greatest("m_a", "m_b") * t_num)
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"), F.col("m").alias("n_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"), F.col("m").alias("n_b")
    )
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
        .select(
            "doc_a", "doc_b", (jaccard_micro("n_inter", "n_a", "n_b") / 1_000_000).alias("jaccard")
        )
    )
    return verified.filter(
        F.col("jaccard") >= float(t_num) / float(t_den)
    )
