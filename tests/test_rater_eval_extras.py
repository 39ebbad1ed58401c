"""Pins for the round-8 agreement/frequency/autocorr statistics:
Krippendorff alpha recomputed from the Fleiss vote counts, hapax/Zipf
recomputed in Python, autocorrelation against numpy.corrcoef."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import numpy as np

from movie_data_transformer_spark.operators.autocorr_queries import (
    q_events_autocorr_daily,
)
from movie_data_transformer_spark.operators.krippendorff_queries import (
    q_stats_krippendorff_alpha,
)
from movie_data_transformer_spark.operators.rater_eval_queries import _flags
from movie_data_transformer_spark.operators.zipf_queries import (
    q_text_hapax_stats,
    q_text_zipf_fit,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_krippendorff_matches_vote_recompute(spark, sf_dir):
    votes = [
        int(r.r1) + int(r.r2) + int(r.r3) for r in _flags(spark, sf_dir).collect()
    ]
    n, m = len(votes), 3
    do_num = sum(k * (m - k) for k in votes)
    c1 = sum(votes)
    c0 = n * m - c1
    row = q_stats_krippendorff_alpha(spark, sf_dir).collect()[0]
    assert (row.n_docs, row.do_num, row.c1, row.c0) == (n, do_num, c1, c0)
    if c1 == 0 or c0 == 0:
        assert row.alpha_micro == 1_000_000
    else:
        want = 1_000_000 - do_num * (n * m - 1) * 1_000_000 // ((m - 1) * c1 * c0)
        assert row.alpha_micro == want
        # alpha <= 1 always; and for these correlated gates, above chance
        assert row.alpha_micro <= 1_000_000


def _lang_tokens(spark, sf_dir):
    by_lang: dict[str, Counter] = defaultdict(Counter)
    for r in load_table(spark, sf_dir, "documents").collect():
        for t in re.split(r"\s+", r.text.strip().lower()):
            by_lang[r.lang][t] += 1
    return by_lang


def test_hapax_and_zipf_match_python(spark, sf_dir):
    by_lang = _lang_tokens(spark, sf_dir)
    hap = {r.lang: r for r in q_text_hapax_stats(spark, sf_dir).collect()}
    assert set(hap) == set(by_lang)
    for lang, cnt in by_lang.items():
        row = hap[lang]
        assert row.n_tokens == sum(cnt.values())
        assert row.vocab_size == len(cnt)
        assert row.n_hapax == sum(1 for v in cnt.values() if v == 1)

    zipf = {r.lang: r for r in q_text_zipf_fit(spark, sf_dir).collect()}
    for lang, cnt in by_lang.items():
        freqs = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        row = zipf[lang]
        assert row.f1 == freqs[0][1]
        if len(freqs) >= 10:
            assert row.f10 == freqs[9][1]
            want = math.floor(math.log10(row.f1 / row.f10) * 1_000_000)
            assert row.zipf_s_micro == want
            assert row.zipf_s_micro >= 0  # frequencies are non-increasing


def test_autocorr_matches_numpy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(to_date(ts) AS STRING) AS d"
    )
    daily: dict[str, dict[str, int]] = defaultdict(dict)
    for r in (
        ev.groupBy("event_type", "d").count().collect()
    ):
        daily[r.event_type][r.d] = r["count"]
    import datetime

    got = {
        (r.event_type, r.lag): r
        for r in q_events_autocorr_daily(spark, sf_dir).collect()
    }
    for et, series in daily.items():
        days = {datetime.date.fromisoformat(d): c for d, c in series.items()}
        for lag in (1, 7):
            xs, ys = [], []
            for d, c in days.items():
                d2 = d + datetime.timedelta(days=lag)
                if d2 in days:
                    xs.append(c)
                    ys.append(days[d2])
            key = (et, lag)
            if len(xs) < 2:
                assert key not in got or got[key].corr_micro is None
                continue
            row = got[key]
            assert row.n_pairs == len(xs)
            if np.std(xs) == 0 or np.std(ys) == 0:
                assert row.corr_micro is None
                continue
            want = np.corrcoef(xs, ys)[0, 1]
            assert abs(row.corr_micro / 1_000_000 - want) < 2e-6


def test_entropy_rate_matches_python(spark, sf_dir):
    import re
    from collections import Counter, defaultdict

    from movie_data_transformer_spark.operators.entropy_queries import (
        q_text_entropy_rate_by_lang,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    uni = defaultdict(Counter)
    big = defaultdict(Counter)
    for r in load_table(spark, sf_dir, "documents").collect():
        toks = re.split(r"\s+", r.text.strip().lower())
        uni[r.lang].update(toks)
        big[r.lang].update(zip(toks, toks[1:]))
    got = {r.lang: r for r in q_text_entropy_rate_by_lang(spark, sf_dir).collect()}
    assert set(got) == set(uni)
    for lang in uni:
        n = sum(uni[lang].values())
        h1_sum = sum(
            math.floor(-math.log(c / n) * c * 1_000_000)
            for c in uni[lang].values()
        )
        firsts = Counter()
        for (a, _), c in big[lang].items():
            firsts[a] += c
        n2 = sum(big[lang].values())
        h2_sum = sum(
            math.floor(-math.log(c / firsts[a]) * c * 1_000_000)
            for (a, _), c in big[lang].items()
        )
        row = got[lang]
        assert (row.n_tokens, row.n_bigrams) == (n, n2)
        assert row.h1_micro_nats == h1_sum // n
        assert row.h2_cond_micro_nats == h2_sum // n2
        # conditioning never increases entropy
        assert row.h2_cond_micro_nats <= row.h1_micro_nats
        assert 0 <= row.redundancy_micro <= 1_000_000


def _sstem_py(tok: str) -> str:
    if len(tok) > 4 and tok.endswith("ies") and not tok.endswith(("eies", "aies")):
        return tok[:-3] + "y"
    if len(tok) > 3 and tok.endswith("es") and not tok.endswith(("aes", "ees", "oes")):
        return tok[:-1]
    if len(tok) > 2 and tok.endswith("s") and not tok.endswith(("us", "ss")):
        return tok[:-1]
    return tok


def test_sstem_vocab_reduction_matches_python(spark, sf_dir):
    import re
    from collections import defaultdict

    from movie_data_transformer_spark.operators.stemming_queries import (
        q_text_sstem_vocab_reduction,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    vocab = defaultdict(set)
    for r in load_table(spark, sf_dir, "documents").collect():
        vocab[r.lang].update(re.split(r"\s+", r.text.strip().lower()))
    got = {r.lang: r for r in q_text_sstem_vocab_reduction(spark, sf_dir).collect()}
    assert set(got) == set(vocab)
    for lang, toks in vocab.items():
        stems = {_sstem_py(t) for t in toks}
        row = got[lang]
        assert row.vocab_before == len(toks)
        assert row.vocab_after == len(stems)
        assert row.folded == len(toks) - len(stems) >= 0


def test_hill_tail_index_matches_python(spark, sf_dir):
    from collections import defaultdict

    from movie_data_transformer_spark.operators.tailindex_queries import (
        K,
        q_stats_hill_tail_index,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    vals = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        vals[r.event_type].append(
            (math.floor(r.value * 100 + 0.5), r.event_id)
        )
    got = {r.event_type: r for r in q_stats_hill_tail_index(spark, sf_dir).collect()}
    assert set(got) == set(vals)
    for et, xs in vals.items():
        xs.sort(key=lambda t: (-t[0], t[1]))
        xk1 = xs[K][0]
        s = sum(
            math.floor(math.log(c / xk1) * 1_000_000) for c, _ in xs[:K]
        )
        row = got[et]
        assert row.n == len(xs) > K  # fixture floor: every type has a tail
        assert row.k == K
        assert row.xk1_cents == xk1
        assert row.hill_micro == s // K
        assert row.alpha_micro is None or row.alpha_micro > 0
