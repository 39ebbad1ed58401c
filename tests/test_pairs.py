"""operators/pairs.py against a pure-Python enumeration of the same pairs."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

CAP = 3

#: (key, id, bits): key "at" holds exactly CAP rows, "over" one more,
#: "one" a single row, and three rows have no key
ROWS = [
    ("at", 1, 0b0000),
    ("at", 2, 0b0001),
    ("at", 3, 0b1111),
    ("over", 1, 0b0000),
    ("over", 4, 0b0011),
    ("over", 5, 0b0111),
    ("over", 6, 0b1111),
    ("one", 7, 0b0000),
    (None, 1, 0b0000),
    (None, 2, 0b0001),
    (None, 8, 0b0000),
]


def _frame(spark):
    return spark.createDataFrame(ROWS, "k string, doc long, bits long")


def _expected(max_per_key=None, max_hamming=None) -> Counter:
    """(key, doc_a, doc_b) for every pair of rows with one non-NULL key."""
    by_key: dict = {}
    for k, doc, bits in ROWS:
        if k is not None:
            by_key.setdefault(k, []).append((doc, bits))
    out: Counter = Counter()
    for k, members in by_key.items():
        if max_per_key is not None and len(members) > max_per_key:
            continue
        for (a, ba), (b, bb) in combinations(sorted(members), 2):
            if max_hamming is None or bin(ba ^ bb).count("1") <= max_hamming:
                out[(k, a, b)] += 1
    return out


def test_shared_key_pairs_match_enumeration(spark):
    from movie_data_transformer_spark.operators.pairs import shared_key_pairs

    rows = _frame(spark)
    for cap in (None, CAP):
        got = Counter(
            (r.k, r.doc_a, r.doc_b)
            for r in shared_key_pairs(rows, "k", "doc", cap).collect()
        )
        assert got == _expected(max_per_key=cap), cap
    # the other columns ride along, suffixed _a / _b
    bits = dict(((d, b) for _, d, b in ROWS))
    for r in shared_key_pairs(rows, "k", "doc").collect():
        assert (r.bits_a, r.bits_b) == (bits[r.doc_a], bits[r.doc_b])


def test_bucket_pairs_match_enumeration(spark):
    from movie_data_transformer_spark.operators.pairs import MAX_HAMMING, bucket_pairs

    rows = _frame(spark)
    # with a column riding along, and with bare ids
    for frame in (rows, rows.drop("bits")):
        for cap in (None, CAP):
            got = {(r.doc_a, r.doc_b) for r in bucket_pairs(frame, "k", "doc", cap).collect()}
            assert got == {(a, b) for _, a, b in _expected(max_per_key=cap)}, (frame.columns, cap)
    verified = bucket_pairs(rows, "k", "doc", hamming="bit_count(x.bits ^ y.bits)").collect()
    expected = _expected(max_hamming=MAX_HAMMING)
    assert {(r.doc_a, r.doc_b) for r in verified} == {(a, b) for _, a, b in expected}
    bits = dict(((d, b) for _, d, b in ROWS))
    assert all(r.hamming == bin(bits[r.doc_a] ^ bits[r.doc_b]).count("1") for r in verified)
    # every pair once, even when it shares two buckets
    two_keys = rows.unionByName(rows.selectExpr("concat(k, '2') AS k", "doc", "bits"))
    assert bucket_pairs(two_keys, "k", "doc").count() == len({(a, b) for _, a, b in _expected()})


def test_jaccard_pairs_and_recall_match_enumeration(spark):
    from movie_data_transformer_spark.operators.pairs import jaccard_pairs, pair_recall

    rows = _frame(spark)
    sets: dict = {}
    for k, doc, _ in ROWS:
        sets.setdefault(doc, set()).add(k)
    want = {}
    for (a, b), n in Counter((a, b) for _, a, b in _expected()).items():
        union = len(sets[a]) + len(sets[b]) - n
        want[(a, b)] = (n, n * 1_000_000 // union)
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.jaccard_micro)
        for r in jaccard_pairs(rows, "k", "doc").collect()
    }
    assert got == want

    truth = spark.createDataFrame(sorted(want), "doc_a long, doc_b long")
    found = truth.limit(2)
    r = pair_recall(truth, found).collect()[0]
    assert (r.n_true_pairs, r.n_found, r.n_missed) == (len(want), 2, len(want) - 2)
    assert r.recall == float(2 * 1_000_000 // len(want)) / 1_000_000
    empty = pair_recall(truth.limit(0), found.limit(0)).collect()[0]
    assert (empty.n_true_pairs, empty.n_found, empty.n_missed, empty.recall) == (0, 0, 0, 1.0)
