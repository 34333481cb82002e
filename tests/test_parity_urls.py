"""Byte-parity of URL kernels vs the reference (url_utils.py)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/reference")

try:
    from soweego.commons import url_utils as ref_url
except ImportError:
    ref_url = None

needs_reference = pytest.mark.skipif(
    ref_url is None, reason="reference soweego package is not importable"
)

from soweego_spark.functions import urlnorm  # noqa: E402

URLS = [
    "https://www.example.com/My%20Page/x?q=1&b=cd",
    "http://m.site.org/artist/john-doe",
    "example.com/no-scheme/path",
    "https://en.wikipedia.org/wiki/Q42",
    "https://www.discogs.com/artist/12345-Some-Name",
    "ftp://files.somewhere.net/a/b",
    "https://mobile.host.info/x%2Fy/z?key=val&k2",
    "https://sub.domain.co.uk/path_with_underscores/and-dashes",
    "not a url at all",
    "https://127.0.0.1:8080/admin",
    "https://www.wikidata.org/wiki/Q1339",
    "   https://padded.com/x   ",
]


@needs_reference
@pytest.mark.parametrize("url", URLS)
def test_clean_matches_reference(url):
    assert urlnorm.clean(url) == ref_url.clean(url)


@needs_reference
@pytest.mark.parametrize("url", URLS)
def test_validate_matches_reference(url):
    assert urlnorm.validate(url) == ref_url.validate(url)


@needs_reference
@pytest.mark.parametrize("url", URLS)
def test_tokenize_matches_reference(url):
    ours = urlnorm.tokenize_url(url)
    theirs = ref_url.tokenize(url)
    assert (ours is None) == (theirs is None)
    if ours is not None:
        assert set(ours) == theirs


@needs_reference
@pytest.mark.parametrize("url", URLS)
def test_tokenize_domain_only_matches_reference(url):
    ours = urlnorm.tokenize_url(url, domain_only=True)
    theirs = ref_url.tokenize(url, domain_only=True)
    assert set(ours) == theirs


@needs_reference
@pytest.mark.parametrize("url", URLS)
def test_is_wiki_link_matches_reference(url):
    assert urlnorm.is_wiki_link(url) == ref_url.is_wiki_link(url)


def test_qid_extraction():
    assert urlnorm.extract_qid("https://www.wikidata.org/wiki/Q1339") == "Q1339"
    assert urlnorm.extract_qid("https://example.com/no-qid") is None


FORMATTERS = {
    "P1953": {  # Discogs artist ID
        "https://www.discogs.com/artist/$1": (
            __import__("re").compile(r"\d+"),
            __import__("re").compile(r"https?://(?:www\.)?discogs\.com/artist/(\d+)"),
        )
    },
    "P345": {  # IMDb ID, no URL regex
        "https://www.imdb.com/name/$1": (__import__("re").compile(r"nm\d+"), None)
    },
    "P434": {  # MusicBrainz artist, no id regex at all
        "https://musicbrainz.org/artist/$1": (None, None)
    },
}

EXT_ID_URLS = [
    "https://www.discogs.com/artist/12345-Some-Name",
    "http://www.discogs.com/artist/99",
    "https://www.imdb.com/name/nm0000123/",
    "https://www.imdb.com/name/badid/",
    "https://musicbrainz.org/artist/b10bbbfc-cf9e-42e0-be17-e2c3e1d2600d/",
    "https://unrelated.example/x/1",
    "http://musicbrainz.org/artist/abc",
]


@needs_reference
@pytest.mark.parametrize("url", EXT_ID_URLS)
def test_extract_external_id_parity(url):
    assert urlnorm.extract_external_id(url, FORMATTERS) == \
        ref_url.get_external_id_from_url(url, FORMATTERS)


FMT_URLS = [
    "https://catalog-a.example/artist/alpha-77",
    "http://catalog-b.example/artist/beta-8/",
    "https://id-hub.example/artist/gamma-3",
    "https://catalog-a.example/artist/Alpha-9",   # id regex rejects -> give up
    "https://catalog-a.example/artist/alpha-9x!", # prefix-match extraction
    "https://unrelated.example/page/1",
]


@needs_reference
@pytest.mark.parametrize("url", FMT_URLS)
def test_extract_external_id_matches_reference(url):
    """F5 kernel parity against the reference's resolver on the synthetic
    formatter catalog (url_utils.py:214-328)."""
    from soweego_spark.functions.urls import DEFAULT_FORMATTERS

    assert urlnorm.extract_external_id(
        url, DEFAULT_FORMATTERS
    ) == ref_url.get_external_id_from_url(url, DEFAULT_FORMATTERS)


def test_external_ids_udf_matches_kernel(spark):
    """The wired Spark path (pandas UDF over ARRAY<STRING>) returns exactly
    what the kernel returns per URL, deduped, order preserved."""
    from pyspark.sql import functions as F

    from soweego_spark.functions.urls import (
        DEFAULT_FORMATTERS,
        make_external_ids_udf,
    )

    rows = [(i, [u]) for i, u in enumerate(FMT_URLS)] + [
        (len(FMT_URLS), None),
        (len(FMT_URLS) + 1, list(FMT_URLS)),  # multi-url row
    ]
    df = spark.createDataFrame(rows, "id long, urls array<string>")
    udf = make_external_ids_udf()
    got = {
        r["id"]: r["ids"]
        for r in df.withColumn("ids", udf(F.col("urls"))).collect()
    }
    for i, u in enumerate(FMT_URLS):
        ext_id, pid = urlnorm.extract_external_id(u, DEFAULT_FORMATTERS)
        if ext_id is None:
            assert got[i] is None
        else:
            assert [(x["ext_id"], x["pid"]) for x in got[i]] == [(ext_id, pid)]
    assert got[len(FMT_URLS)] is None
    expected_multi, seen = [], set()
    for u in FMT_URLS:
        e, p = urlnorm.extract_external_id(u, DEFAULT_FORMATTERS)
        if e is not None and (e, p) not in seen:
            seen.add((e, p))
            expected_multi.append((e, p))
    assert [
        (x["ext_id"], x["pid"]) for x in got[len(FMT_URLS) + 1]
    ] == expected_multi
