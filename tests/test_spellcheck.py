"""Spellcheck engine + service parity tests (engine.py / main.py semantics)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from search_engine_spark.spellcheck import engine as E
from search_engine_spark.spellcheck import service as S


# ---------------------------------------------------------------------------
# OSA distance
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    ("a", "b", "expect"),
    [
        ("word", "word", 0),
        ("word", "wrod", 1),  # adjacent transposition = 1 edit
        ("word", "wordy", 1),
        ("word", "ord", 1),
        ("word", "wird", 1),
        ("word", "wirdy", 2),
        ("ab", "ba", 1),
        ("abcd", "badc", 2),  # two independent transpositions
        ("abc", "xyz", None),  # 3 substitutions > band
        ("a", "abcd", None),  # length gap 3 > 2
        ("", "ab", 2),
        ("", "abc", None),
        ("WORD", "word", 0),  # normalization
    ],
)
def test_osa_cases(a, b, expect):
    assert E.osa_distance(a, b) == expect


def _osa_full(s: str, t: str) -> int:
    """Unbanded OSA oracle (straight DP, no early exit)."""
    rows, cols = len(s) + 1, len(t) + 1
    dp = [[0] * cols for _ in range(rows)]
    for i in range(rows):
        dp[i][0] = i
    for j in range(cols):
        dp[0][j] = j
    for i in range(1, rows):
        for j in range(1, cols):
            cost = 0 if s[i - 1] == t[j - 1] else 1
            v = min(dp[i - 1][j] + 1, dp[i][j - 1] + 1, dp[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and s[i - 1] == t[j - 2] and s[i - 2] == t[j - 1]:
                v = min(v, dp[i - 2][j - 2] + 1)
            dp[i][j] = v
    return dp[-1][-1]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=0, max_size=8),
    st.text(alphabet="abcd", min_size=0, max_size=8),
)
def test_osa_matches_unbanded_oracle(s, t):
    full = _osa_full(s, t)
    banded = E.osa_distance(s, t)
    if s == t:
        assert banded == 0
    elif full <= 2:
        assert banded == full
    else:
        assert banded is None


# ---------------------------------------------------------------------------
# popularity + correction choice thresholds
# ---------------------------------------------------------------------------
def test_popularity_formula():
    import math

    assert E.popularity_score(3, 7, 2) == pytest.approx(
        math.log1p(3) * 4 + math.log1p(7) * 2 + math.log1p(2) * 3
    )
    assert E.popularity_score(-5, 0, 0) == 0.0


def _entry(word, pop, docf=10, totf=20):
    return E.DictEntry(
        word=word,
        doc_frequency=docf,
        total_frequency=totf,
        external_frequency=0,
        popularity_score=pop,
    )


def test_choose_ranks_by_distance_then_popularity():
    cands = [_entry("wordes", 9.0), _entry("word", 5.0)]  # d=2 vs d=1 of "wordx"
    assert E.choose_correction("wordx", None, cands) == "word"


def test_choose_tie_breaks_on_word_asc():
    cands = [_entry("worda", 5.0), _entry("wordb", 5.0)]
    assert E.choose_correction("wordx", None, cands) == "worda"


def test_choose_short_word_rejects_distance_2():
    assert E.choose_correction("cat", None, [_entry("coats", 99.0)]) is None
    assert E.choose_correction("cat", None, [_entry("cats", 99.0)]) == "cats"


def test_choose_known_word_needs_multiplier():
    known = _entry("wird", 2.0)
    # d=1 correction needs pop >= 2.0 * 1.8 = 3.6
    assert E.choose_correction("wird", known, [_entry("word", 3.5)]) is None
    assert E.choose_correction("wird", known, [_entry("word", 3.7)]) == "word"
    # d=2 needs pop >= 8.0
    assert E.choose_correction("wird", known, [_entry("wordy", 7.9)]) is None
    assert E.choose_correction("wird", known, [_entry("wordy", 8.1)]) == "wordy"


def test_choose_unknown_word_floors():
    assert E.choose_correction("wird", None, [_entry("word", 0.4)]) is None
    assert E.choose_correction("wird", None, [_entry("word", 0.6)]) == "word"
    # d=2 floor is 2.5
    assert E.choose_correction("wird", None, [_entry("wordy", 2.4, 1, 1)]) is None
    assert E.choose_correction("wird", None, [_entry("wordy", 2.6, 1, 1)]) == "wordy"


def test_apply_case():
    assert E.apply_case("WROD", "word") == "WORD"
    assert E.apply_case("Wrod", "word") == "Word"
    assert E.apply_case("wrod", "word") == "word"
    assert E.apply_case("wRod", "word") == "word"


# ---------------------------------------------------------------------------
# candidate generation (Spark pair and in-memory service) + end-to-end service
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def dictionary(spark):
    # frequencies chosen so "spark" is hugely popular and "sparse" modest
    rows = [
        ("spark", 400, 2000),
        ("sparse", 5, 9),
        ("search", 300, 1500),
        ("query", 250, 1200),
        ("table", 200, 900),
        ("ta", 50, 80),
    ]
    df = spark.createDataFrame(rows, "word string, doc_frequency long, total_frequency long")
    return df.select(
        "word",
        "doc_frequency",
        "total_frequency",
        F.lit(0).alias("external_frequency"),
        (
            F.log1p(F.col("doc_frequency").cast("double")) * 4.0
            + F.log1p(F.col("total_frequency").cast("double")) * 2.0
        ).alias("popularity_score"),
    )


def test_trigram_candidates_shape_and_order(dictionary):
    out = S.trigram_candidates(dictionary, ["spakr"]).collect()
    assert out, "no candidates for spakr"
    words = [r["word"] for r in out]
    assert "spark" in words
    sims = [r["similarity"] for r in out]
    assert sims == sorted(sims, reverse=True)
    # length band: |word| in [3, 7] — "ta" (len 2 < 3) excluded
    assert "ta" not in words


def test_pg_trgm_similarity_value(dictionary):
    # pg_trgm('  spakr ') vs ('  spark '): trigrams share {'  s',' sp','spa'}
    # |A|=6, |B|=6, inter=3 -> sim = 3/9
    row = [
        r
        for r in S.trigram_candidates(dictionary, ["spakr"]).collect()
        if r["word"] == "spark"
    ][0]
    assert row["similarity"] == pytest.approx(3 / 9)


def test_service_end_to_end(spark, dictionary):
    svc = S.SpellcheckService(spark, dictionary)
    assert svc.suggest("Spakr tabel query") == "Spark table query"
    # trusted known words are never corrected
    assert svc.suggest("spark search") is None
    # stopword-only / empty input
    assert svc.suggest("the and of") is None


SUSPECTS = [
    ["spakr"],
    ["tabel"],
    ["taxes"],  # shares '  t', ' ta' with "ta"; band 3..7 excludes it
    ["xyzzy"],  # no trigram in common with any dictionary word
    ["tabel", "tabel"],
]


def _spark_ranked(dictionary, words):
    """trigram_candidates' rows for ``words`` in (-similarity, -popularity,
    word) order."""
    return sorted(
        S.trigram_candidates(dictionary, words).collect(),
        key=lambda r: (-r["similarity"], -r["popularity_score"], r["word"]),
    )


@pytest.mark.parametrize("words", SUSPECTS)
def test_suggest_hands_choose_correction_the_spark_candidates(
    spark, dictionary, words, monkeypatch
):
    seen = []
    real = S.choose_correction

    def spy(word, known, candidates, *args, **kwargs):
        candidates = list(candidates)
        seen.append((word, [(c.word, c.popularity_score) for c in candidates]))
        return real(word, known, candidates, *args, **kwargs)

    svc = S.SpellcheckService(spark, dictionary)
    monkeypatch.setattr(S, "choose_correction", spy)
    svc.suggest(" ".join(words))
    assert seen == [
        (w, [(r["word"], r["popularity_score"]) for r in _spark_ranked(dictionary, [w])])
        for w in words
    ]


@pytest.mark.parametrize("words", SUSPECTS)
def test_service_candidates_equal_trigram_candidates(spark, dictionary, words):
    # "spar" is in the band of "spakr" but under the popularity floor
    dictionary = dictionary.unionByName(
        spark.createDataFrame(
            [("spar", 1, 1, 0, 1.0)],
            "word string, doc_frequency long, total_frequency long,"
            " external_frequency int, popularity_score double",
        )
    )
    got = S.SpellcheckService(spark, dictionary).candidates(words[0])
    assert [(e.word, sim) for e, sim in got] == [
        (r["word"], r["similarity"]) for r in _spark_ranked(dictionary, words)
    ]


def test_suggest_runs_no_spark_job(spark, dictionary):
    svc = S.SpellcheckService(spark, dictionary)
    assert svc.suggest("Spakr tabel query") == "Spark table query"  # warm
    sc = spark.sparkContext
    group = "spellcheck-suggest-probe"
    sc.setJobGroup(group, "a suggest must not run a Spark job")
    try:
        assert svc.suggest("Spakr tabel query") == "Spark table query"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_open_rejects_dictionary_over_budget(spark, dictionary, monkeypatch):
    monkeypatch.setattr(S, "MAX_DICTIONARY_WORDS", 3)
    with pytest.raises(ValueError, match="MAX_DICTIONARY_WORDS = 3"):
        S.SpellcheckService(spark, dictionary)


def test_merge_frequency_sources(spark):
    docw = spark.createDataFrame(
        [("alpha", 2, 5), ("beta", 1, 1)],
        "word string, doc_frequency long, total_frequency long",
    )
    news = spark.createDataFrame(
        [("alpha", 3), ("gamma", 7)], "word string, total_frequency long"
    )
    ext = spark.createDataFrame(
        [("beta", 10), ("delta", 4)], "word string, external_frequency long"
    )
    rows = {
        r["word"]: r
        for r in S.merge_frequency_sources(docw, news, ext).collect()
    }
    import math

    assert set(rows) == {"alpha", "beta", "gamma", "delta"}
    assert rows["alpha"]["total_frequency"] == 8  # 5 docs + 3 news
    assert rows["gamma"]["doc_frequency"] == 0
    assert rows["delta"]["external_frequency"] == 4
    assert rows["beta"]["popularity_score"] == pytest.approx(
        math.log1p(1) * 4 + math.log1p(1) * 2 + math.log1p(10) * 3
    )


def test_load_external_wordlist(spark, tmp_path):
    p = tmp_path / "wordlist.tsv"
    p.write_text("the\t100\nThe\t50\nx\t5\nbadline\nword\t7\n")
    rows = {
        r["word"]: r["external_frequency"]
        for r in S.load_external_wordlist(spark, str(p)).collect()
    }
    # case-folded merge; 1-char and malformed lines dropped
    assert rows == {"the": 150, "word": 7}


def test_build_dictionary(docs):
    d = S.build_dictionary(docs)
    cols = set(d.columns)
    assert cols == {
        "word",
        "doc_frequency",
        "total_frequency",
        "external_frequency",
        "popularity_score",
    }
    top = d.orderBy(F.desc("popularity_score")).first()
    assert top["doc_frequency"] >= 1
