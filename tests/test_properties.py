"""Property-based parity & invariants (hypothesis).

Random-input byte parity against the reference's own functions is stronger
than the fixed-vector parity tests: any Unicode string, any precision int,
any URL-ish junk must agree.
"""

from __future__ import annotations

import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, "/root/reference")

try:
    from soweego.commons import text_utils as ref_text
    from soweego.commons import url_utils as ref_url
except ImportError:
    ref_text = ref_url = None

needs_reference = pytest.mark.skipif(
    ref_text is None, reason="reference soweego package is not importable"
)

from soweego_spark.functions import dates, textnorm, urlnorm  # noqa: E402

TEXT = st.text(max_size=80)
URLISH = st.one_of(
    st.text(max_size=60),
    st.builds(
        lambda h, p: f"https://{h}.example/{p}",
        st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=12),
        st.text(max_size=30),
    ),
)


@needs_reference
@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_normalize_parity(s):
    assert textnorm.normalize(s) == ref_text.normalize(s)


@needs_reference
@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_tokenize_parity(s):
    # Reference returns a set; ours a sorted list of the same set.
    assert set(textnorm.tokenize(s)) == ref_text.tokenize(s)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_tokenize_idempotent(s):
    toks = textnorm.tokenize(s)
    assert textnorm.tokenize(" ".join(toks)) == toks


@needs_reference
@settings(max_examples=200, deadline=None)
@given(URLISH)
def test_url_tokenize_parity(u):
    ours = urlnorm.tokenize_url(u)
    theirs = ref_url.tokenize(u)
    if theirs is None:
        assert ours is None or ours == []
    else:
        assert ours is not None and set(ours) == theirs


@needs_reference
@settings(max_examples=200, deadline=None)
@given(st.text(max_size=50))
def test_url_clean_parity(u):
    assert urlnorm.clean(u) == ref_url.clean(u)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(1, 9999), st.integers(1, 12), st.integers(1, 28),
    st.integers(0, 16),
)
def test_parse_date_precision_clamps(y, mo, d, prec):
    ts = f"{y:04d}-{mo:02d}-{d:02d}T00:00:00Z"
    parsed = dates.parse_date(ts, prec)
    assert parsed is not None
    assert parsed[0] == y and parsed[1] == mo and parsed[2] == d
    assert 0 <= parsed[6] <= 5  # depth clamped into [year, second]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1900, 2000), st.integers(1, 12), st.integers(1, 28),
            st.integers(0, 2),
        ),
        min_size=1, max_size=4,
    ),
    st.lists(
        st.tuples(
            st.integers(1900, 2000), st.integers(1, 12), st.integers(1, 28),
            st.integers(0, 2),
        ),
        min_size=1, max_size=4,
    ),
)
def test_date_pair_score_bounds_and_symmetry(a, b):
    la = [(y, mo, d, 0, 0, 0, depth) for y, mo, d, depth in a]
    lb = [(y, mo, d, 0, 0, 0, depth) for y, mo, d, depth in b]
    s = dates.date_pair_score(la, lb)
    assert 0.0 <= s <= 1.0
    assert s == dates.date_pair_score(lb, la)  # max over cross product
