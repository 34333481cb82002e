"""Byte-parity of our normalization kernels vs the reference's pure
functions (the BASELINE.json per-row invariant).

The reference functions are imported straight from /root/reference (they are
dependency-light) and used ONLY as a test oracle.
"""

from __future__ import annotations

import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, "/root/reference")

try:
    from soweego.commons import text_utils as ref_text
except ImportError:
    ref_text = None

needs_reference = pytest.mark.skipif(
    ref_text is None, reason="reference soweego package is not importable"
)

from soweego_spark.functions import textnorm  # noqa: E402

SAMPLES = [
    "  The Mötley Crüe band, live!  ",
    "Ärzte-Øre ß щука ЩУКА",
    "François Truffaut",
    "Dvořák, Antonín",
    "BJÖRK guðmundsdóttir",
    "Пётр Ильич Чайковский",
    "łukasz żółć",
    "þorsteinn Þorsteinsson ðe Ðe",
    "a b c single letters",
    "the and of stopwords only",
    "",
    "   ",
    "123 456 mixed 7x",
    "née O'Connor-Smith",
    "ĳ ligature ﬁsh ﬂight",  # chars outside the table pass through
    "tabs\tand\nnewlines",
]


@needs_reference
@pytest.mark.parametrize("text", SAMPLES)
def test_normalize_matches_reference(text):
    assert textnorm.normalize(text) == ref_text.normalize(text)


@needs_reference
@pytest.mark.parametrize("text", SAMPLES)
def test_tokenize_matches_reference(text):
    assert set(textnorm.tokenize(text)) == ref_text.tokenize(text)


@needs_reference
@pytest.mark.parametrize("text", SAMPLES)
def test_tokenize_name_stopwords_matches_reference(text):
    ours = textnorm.tokenize(text, textnorm.NAME_STOPWORDS)
    theirs = ref_text.tokenize(text, ref_text.NAME_STOPWORDS)
    assert set(ours) == theirs


@needs_reference
def test_stopword_lists_match_reference():
    assert textnorm.STOPWORDS_ENG == ref_text.STOPWORDS_ENG
    assert textnorm.NAME_STOPWORDS == ref_text.NAME_STOPWORDS
    assert textnorm.URL_STOPWORDS == ref_text.STOPWORDS_URL_TOKENS
    # Reference quirk (text_utils.py:35): the band list is read via
    # str(bytes) with no encoding, yielding a single garbage repr element —
    # the band-stopword penalty never fires there. We load the file as
    # intended (decoded, one word per line) and assert both facts.
    assert len(ref_text.BAND_NAME_LOW_SCORE_WORDS) == 1  # the buggy repr blob
    from pkgutil import get_data

    intended = frozenset(
        get_data("soweego.commons.resources", "band_low_score_words.txt")
        .decode("utf8")
        .splitlines()
    )
    assert textnorm.BAND_LOW_SCORE_WORDS == intended


@needs_reference
@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_normalize_property_parity(text):
    assert textnorm.normalize(text) == ref_text.normalize(text)


@needs_reference
@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_tokenize_property_parity(text):
    assert set(textnorm.tokenize(text)) == ref_text.tokenize(text)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=60))
def test_tokenize_idempotent(text):
    once = textnorm.tokenize(text)
    again = textnorm.tokenize(" ".join(once))
    assert set(again) <= set(once)
    # Tokens that survive one pass are already normalized: a second pass
    # only ever drops stop words, never rewrites.
    assert all(t == t.lower() for t in once)
