import math

import pandas as pd
import pytest

from belb_spark.functions import simfns


def test_jaro_winkler_known_values():
    # classic textbook values (same as rapidfuzz/textdistance)
    assert simfns.jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-3)
    assert simfns.jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-2)
    assert simfns.jaro_winkler("abc", "abc") == 1.0
    assert simfns.jaro_winkler("abc", "xyz") == 0.0
    assert simfns.jaro_winkler("", "") == 1.0


def test_levenshtein_norm():
    assert simfns.levenshtein_norm("kitten", "sitting") == pytest.approx(1 - 3 / 7)
    assert simfns.levenshtein_norm(["a", "b", "c"], ["a", "x", "c"]) == pytest.approx(2 / 3)
    assert simfns.levenshtein_norm("", "abc") == 0.0
    assert simfns.levenshtein_norm("same", "same") == 1.0


def test_char_ngram_cosine():
    assert simfns.char_ngram_cosine("abcdef", "abcdef") == 1.0
    assert simfns.char_ngram_cosine("abcdef", "uvwxyz") == 0.0
    mid = simfns.char_ngram_cosine("abcdefgh", "abcdxfgh")
    assert 0.0 < mid < 1.0


def test_rich_score_batch_bounds():
    a = pd.Series(["alpha beta gamma", "one two three", "same text"])
    b = pd.Series(["alpha beta gamma", "four five six", "same text"])
    s = simfns.rich_score_batch(a, b, 0.25, 0.35, 0.40, 600)
    assert s[0] == pytest.approx(1.0)
    assert s[2] == pytest.approx(1.0)
    assert 0.0 <= s[1] < 0.5


def _random_cases(n=300, seed=7):
    import random

    random.seed(seed)
    ch = "abcdefg _"
    cases = []
    for _ in range(n):
        s1 = "".join(random.choice(ch) for _ in range(random.randint(0, 120)))
        if random.random() < 0.5:  # near-dup perturbation
            l = list(s1)
            for _ in range(random.randint(0, 8)):
                if l:
                    l[random.randrange(len(l))] = random.choice(ch)
            s2 = "".join(l)
        else:
            s2 = "".join(random.choice(ch) for _ in range(random.randint(0, 120)))
        cases.append((s1, s2))
    cases += [("", ""), ("", "abc"), ("abc", ""), ("MARTHA", "MARHTA"),
              ("DWAYNE", "DUANE"), ("abc", "abc"), ("abc", "xyz")]
    return cases


def test_batch_kernels_match_scalar_reference():
    """The numpy batch kernels ARE the scorer; the scalar functions are the
    tested reference. They must agree exactly (same float operations)."""
    cases = _random_cases()
    s1 = [a[:96] for a, _ in cases]
    s2 = [b[:96] for _, b in cases]
    jw = simfns.jaro_winkler_batch(s1, s2)
    for i, (a, b) in enumerate(cases):
        assert jw[i] == pytest.approx(simfns.jaro_winkler(a[:96], b[:96]), abs=1e-12)

    t1 = [a.split(" ") for a, _ in cases]
    t2 = [b.split(" ") for _, b in cases]
    lev = simfns.levenshtein_norm_batch(t1, t2)
    for i in range(len(cases)):
        assert lev[i] == pytest.approx(simfns.levenshtein_norm(t1[i], t2[i]), abs=1e-12)


def test_rich_score_batch_matches_scalar_composition():
    cases = _random_cases(n=120, seed=13)
    a = pd.Series([x for x, _ in cases])
    b = pd.Series([y for _, y in cases])
    got = simfns.rich_score_batch(a, b, 0.25, 0.35, 0.40, 600)
    for i, (s1, s2) in enumerate(cases):
        if s1 == s2:
            want = 1.0
        else:
            c1, c2 = s1[:600], s2[:600]
            want = (
                0.25 * simfns.jaro_winkler(s1[:96], s2[:96])
                + 0.35 * simfns.levenshtein_norm(c1.split(" "), c2.split(" "))
                + 0.40 * simfns.char_ngram_cosine(c1, c2)
            )
        assert got[i] == pytest.approx(want, abs=1e-9)


def test_token_jaccard_spark(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"]), (["a"], ["a"])], "ta array<string>, tb array<string>"
    )
    out = df.select(simfns.token_jaccard("ta", "tb").alias("j")).collect()
    assert out[0]["j"] == pytest.approx(2 / 4)
    assert out[1]["j"] == pytest.approx(1.0)
