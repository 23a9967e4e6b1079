"""SimHash implementation invariants (reference duplicate_detection.py semantics)."""

from search_engine_spark.simhash_impl import (
    hamming64,
    simhash64,
    simhash_batch,
    simhash_text,
    to_signed64,
)


def test_identical_content_identical_fingerprint():
    a = simhash_text("spark builds a distributed inverted index today")
    b = simhash_text("spark builds a distributed inverted index today")
    assert a == b


def test_near_duplicates_are_close_random_far():
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different words about astrophysics and baking bread " * 10
    d_near = hamming64(simhash_text(base), simhash_text(near))
    d_far = hamming64(simhash_text(base), simhash_text(far))
    assert d_near < d_far
    assert d_near <= 12


def test_signed_wrap():
    assert to_signed64((1 << 63)) == -(1 << 63)
    assert to_signed64((1 << 63) - 1) == (1 << 63) - 1
    assert to_signed64((1 << 64) - 1) == -1


def test_empty_content():
    assert simhash_text("") == 0
    assert simhash64([]) == 0


def test_duplicate_features_accumulate_weight():
    # Simhash(list) weights duplicates; ordering must not matter
    assert simhash64(["a", "b", "a"]) == simhash64(["a", "a", "b"])


def test_simhash_batch_equals_simhash_text():
    contents = [
        "spark builds a distributed inverted index today",
        None,
        "",
        "   \t\n",
        "a a a b b",
        "b b a a a",
        "tab\tnew\nline\u3000ideographic\u00a0nbsp\u2003em\x1cfs\x85nel",
        "héllo wörld 日本語 日本語 日本語 ok",
        "the quick brown fox jumps over the lazy dog " * 20,
    ]
    assert simhash_batch(contents).tolist() == [simhash_text(c) for c in contents]
    assert simhash_batch([]).tolist() == []
