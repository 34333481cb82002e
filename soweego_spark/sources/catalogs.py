"""Per-catalog extraction flavors: Discogs, IMDb, MusicBrainz.

The reference's dump extractors carry catalog-specific field logic on top
of the generic scans (S1-S3). These functions re-express that logic as
pure DataFrame transformations over the generic readers' output — the
XML/TSV parsing itself stays in ``sources.readers`` (Spark's built-in
XML source / csv reader), so each flavor is a column program Catalyst can
push down and fuse, with the only Python being the existing Arrow-batched
normalization kernels (functions/text.py, functions/urls.py).

Reference parity map (file:line refer to the reference repo):

* Discogs artists  — discogs_dump_extractor.py:212-246 (musician-vs-band
  by <groups>/<members>), 425-471 (main fields + denormalized name
  variations), 405-421 (<profile> -> NLP entity), 473-506 (link cleaning/
  validation).
* Discogs masters  — discogs_dump_extractor.py:176-209 (title/year/
  genres∪styles token union, data_quality lowercase, artist
  relationship set).
* IMDb people      — imdb_dump_extractor.py:170-260 (per-profession
  entity fan-out, misc-only -> all tables), 330-398 (gender from
  actor/actress, year-only dates at precision 9, profession->QID
  translation minus the table's own occupation, known-for titles).
* MusicBrainz      — musicbrainz_dump_extractor.py:458-556 (artist/
  alias/area relational assembly), 560-591 (date precision decoding),
  617-637 (person/band type codes, gender codes), 263-330 (url ->
  entity link join).

Deliberate deviations, all documented inline: everywhere the reference
iterates a Python ``set`` (token unions, relationship sets) the output
order is unspecified — we emit SORTED so results are deterministic and
engine-comparable; "first row wins" file-order semantics become
"min key wins" (order is undefined on a distributed read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soweego_spark.functions.text import name_tokens as _name_tokens_udf
from soweego_spark.functions.text import text_tokens as _text_tokens_udf
from soweego_spark.functions.urls import (
    clean_and_validate,
    is_wiki_link,
    url_tokens,
)

# A private non-deterministic twin of the shared URL UDF for
# musicbrainz_link_tables. asNondeterministic() flips the flag IN PLACE,
# so calling it on the shared instance would revoke the optimizer's
# licence at every other call site in the process too.
_clean_and_validate_nondet = F.pandas_udf(
    clean_and_validate.func, clean_and_validate.returnType
).asNondeterministic()

# ---------------------------------------------------------------- shared

# Wikidata QIDs for IMDb professions (public vocabulary; reference
# wikidata/vocabulary.py:267-305). Keys are IMDb's profession slugs.
IMDB_PROFESSIONS_MAPPING = {
    "actor": "Q33999",
    "actress": "Q33999",
    "animation_department": "Q266569",
    "art_department": "Q483501",
    "art_director": "Q706364",
    "assistant_director": "Q1757008",
    "camera_department": "Q1208175",
    "casting_department": "Q1049296",
    "casting_director": "Q1049296",
    "cinematographer": "Q222344",
    "composer": "Q36834",
    "costume_department": "Q59341113",
    "costume_designer": "Q1323191",
    "director": "Q2526255",
    "editor": "Q7042855",
    "electrical_department": "Q165029",
    "executive": "Q978044",
    "location_management": "Q1093536",
    "make_up_department": "Q935666",
    "manager": "Q2462658",
    "music_department": "Q639669",
    "producer": "Q3282637",
    "production_department": "Q2867219",
    "production_designer": "Q2962070",
    "production_manager": "Q21292974",
    "publicist": "Q4178004",
    "script_department": "Q1263187",
    "set_decorator": "Q6409989",
    "sound_department": "Q128124",
    "soundtrack": "Q639669",
    "special_effects": "Q21560152",
    "stunts": "Q465501",
    "talent_agent": "Q1344174",
    "transportation_department": "Q352388",
    "visual_effects": "Q1224742",
    "writer": "Q28389",
}

# the person tables IMDb people fan out into, with the occupation QID
# that is implicit for each table (excluded from its `occupations`,
# imdb_dump_extractor.py:384-396)
IMDB_PERSON_TABLES = {
    "actors": "Q33999",
    "directors": "Q2526255",
    "musicians": "Q639669",
    "producers": "Q3282637",
    "writers": "Q28389",
}

_IMDB_MUSIC_PROFESSIONS = [
    "sound_department", "composer", "music_department", "soundtrack",
]


def _join_or_null(toks):
    """Space-join a token array, NULL when empty/NULL — the reference's
    skipped-assignment contract for empty token sets. The single home of
    that rule: every flavor's *_tokens column goes through here."""
    return F.when(
        toks.isNotNull() & (F.size(toks) > 0), F.array_join(toks, " ")
    )


def _joined_tokens(col, stopset: str = "text"):
    """The reference stores ``' '.join(tokenize(x))``; tokenize here is
    the byte-parity kernel. The reference joins a Python SET (unspecified
    order); we join the kernel's sorted list — deterministic, same set.

    IMPORTANT: the reference's dump extractors ALL call
    ``text_utils.tokenize`` with its DEFAULT English stop list
    (text_utils.py:323; verified at discogs_dump_extractor.py:192,427,
    imdb_dump_extractor.py:352, and musicbrainz _fill_entity) — the NAME
    stop list belongs to the linker workflow, not extraction. Flavors
    therefore use the default ``"text"`` stopset for every *_tokens
    column, so the same person tokenizes identically across catalogs."""
    udf = _name_tokens_udf if stopset == "name" else _text_tokens_udf
    return _join_or_null(udf(col))


def _link_table(
    df: DataFrame, id_col: str, url_col: str, prevalidated: bool = False
) -> DataFrame:
    """(catalog_id, raw url) -> one row per clean+valid URL with is_wiki
    and url_tokens (reference _fill_link_entity; both Discogs
    discogs_dump_extractor.py:506-514 and MusicBrainz
    musicbrainz_dump_extractor.py:597-603 share this shape). URL
    resolution (live HTTP probing) is the injected-I/O seam in
    sources/remote.py — not part of the column program.

    Pass ``prevalidated=True`` when the url column already went through
    clean+validate upstream — re-running the Arrow kernel over millions
    of already-clean URLs doubles the Python cost for nothing."""
    if prevalidated:
        parts = df.select(
            F.col(id_col).alias("catalog_id"), F.col(url_col).alias("url")
        )
    else:
        parts = df.select(
            F.col(id_col).alias("catalog_id"),
            F.explode(clean_and_validate(F.col(url_col))).alias("url"),
        )
    toks = url_tokens(F.array(F.col("url")))  # the UDF takes ARRAY<url>
    return parts.select(
        "catalog_id",
        "url",
        is_wiki_link(F.col("url")).alias("is_wiki"),
        _join_or_null(toks).alias("url_tokens"),
    )


# ---------------------------------------------------------------- Discogs

# Schema for readers.read_xml(..., row_tag="artist") over the Discogs
# artists dump. <groups>/<members> presence (not content) classifies
# musician vs band, so they are read as raw nested names.
DISCOGS_ARTIST_SCHEMA = (
    "id STRING, name STRING, realname STRING, data_quality STRING, "
    "profile STRING, "
    "namevariations STRUCT<name: ARRAY<STRING>>, "
    "urls STRUCT<url: ARRAY<STRING>>, "
    "groups STRUCT<name: ARRAY<STRING>>, "
    "members STRUCT<name: ARRAY<STRING>>"
)

# The master id is an XML ATTRIBUTE (<master id="...">): Spark's XML
# source exposes attributes with the default "_" prefix, so read with
# this schema then rename `_id` -> `id` before discogs_master_tables.
DISCOGS_MASTER_SCHEMA = (
    "_id STRING, main_release STRING, title STRING, data_quality STRING, "
    "year STRING, "
    "genres STRUCT<genre: ARRAY<STRING>>, "
    "styles STRUCT<style: ARRAY<STRING>>, "
    "artists STRUCT<artist: ARRAY<STRUCT<id: STRING>>>"
)


def discogs_artist_tables(artists: DataFrame) -> dict[str, DataFrame]:
    """Discogs artists dump -> the six reference tables.

    Returns ``{"musicians", "bands", "musician_nlp", "band_nlp",
    "musician_links", "band_links"}``. Rows without an id or name are
    skipped (discogs_dump_extractor.py:214-226); an artist with a
    <groups> tag is a musician, else with <members> a band
    (:299-305); name variations become denormalized extra rows
    inheriting real_name/data_quality (:446-471); a non-empty <profile>
    becomes the NLP row (:405-421); URLs are cleaned+validated
    (:473-506)."""
    base = (
        artists.filter(F.col("id").isNotNull() & F.col("name").isNotNull())
        .withColumn("_is_musician", F.col("groups").isNotNull())
        .withColumn(
            "_is_band",
            ~F.col("groups").isNotNull() & F.col("members").isNotNull(),
        )
        .filter(F.col("_is_musician") | F.col("_is_band"))
    )
    base = base.select(
        F.col("id").alias("catalog_id"),
        "name",
        F.col("realname").alias("real_name"),
        "data_quality",
        "profile",
        F.col("namevariations.name").alias("_variations"),
        F.col("urls.url").alias("_urls"),
        "_is_musician",
    )

    def main_plus_variations(side: DataFrame) -> DataFrame:
        main = side.select(
            "catalog_id",
            "name",
            _joined_tokens(F.col("name")).alias("name_tokens"),
            "real_name",
            "data_quality",
        )
        variations = (
            side.filter(F.col("_variations").isNotNull())
            .select(
                "catalog_id",
                F.explode("_variations").alias("name"),
                "real_name",
                "data_quality",
            )
            .filter(F.col("name").isNotNull() & (F.col("name") != ""))
            .select(
                "catalog_id",
                "name",
                _joined_tokens(F.col("name")).alias("name_tokens"),
                "real_name",
                "data_quality",
            )
        )
        return main.unionByName(variations)

    def nlp(side: DataFrame) -> DataFrame:
        return (
            side.filter(
                F.col("profile").isNotNull() & (F.col("profile") != "")
            )
            .select(
                "catalog_id",
                F.col("profile").alias("description"),
                _joined_tokens(F.col("profile")).alias("description_tokens"),
            )
        )

    def links(side: DataFrame) -> DataFrame:
        return _link_table(
            side.filter(F.col("_urls").isNotNull()).select(
                "catalog_id", F.explode("_urls").alias("url")
            ),
            "catalog_id",
            "url",
        )

    musicians = base.filter("_is_musician")
    bands = base.filter("NOT _is_musician")
    return {
        "musicians": main_plus_variations(musicians),
        "bands": main_plus_variations(bands),
        "musician_nlp": nlp(musicians),
        "band_nlp": nlp(bands),
        "musician_links": links(musicians),
        "band_links": links(bands),
    }


def discogs_master_tables(masters: DataFrame) -> dict[str, DataFrame]:
    """Discogs masters dump -> masters table + master-artist edges.

    Field logic (discogs_dump_extractor.py:176-209): genres = the token
    UNION of every <genre> and <style> (emitted sorted — the reference
    joins a Python set, order unspecified); a 4-digit-parsable <year>
    becomes ``born = year-01-01`` at precision 9, else NULL (the
    reference logs and skips invalid years); relationships are the
    DISTINCT (master, artist) pairs."""
    g = F.coalesce(F.col("genres.genre"), F.array())
    s = F.coalesce(F.col("styles.style"), F.array())
    both = F.concat(g, s)
    # token-union via one Arrow pass over the concatenated phrase list:
    # tokenize(concat_ws) == union of per-phrase token sets because the
    # kernel splits on non-word chars and dedups
    genre_tokens = _text_tokens_udf(F.array_join(both, " "))
    year_int = F.col("year").try_cast("int")
    # precision is gated on the PRODUCED DATE being valid, not just the
    # year casting — a castable-but-unparseable year (e.g. negative)
    # must suppress both, like the reference (datetime.date raises and
    # the row's date fields stay unset) and like _mb_date_and_precision
    born_date = F.when(
        year_int.isNotNull(),
        F.try_to_date(F.concat(year_int.cast("string"), F.lit("-01-01"))),
    )
    masters_tbl = masters.filter(F.col("id").isNotNull()).select(
        F.col("id").alias("catalog_id"),
        F.col("main_release").alias("main_release_id"),
        F.col("title").alias("name"),
        _joined_tokens(F.col("title")).alias("name_tokens"),
        F.lower("data_quality").alias("data_quality"),
        _join_or_null(genre_tokens).alias("genres"),
        born_date.alias("born"),
        F.when(born_date.isNotNull(), F.lit(9)).alias("born_precision"),
    )
    rels = (
        masters.filter(F.col("id").isNotNull())
        .select(
            F.col("id").alias("master_catalog_id"),
            F.explode(F.coalesce(F.col("artists.artist"), F.array()))
            .alias("a"),
        )
        .select("master_catalog_id", F.col("a.id").alias("artist_catalog_id"))
        .filter(F.col("artist_catalog_id").isNotNull())
        .distinct()
    )
    return {"masters": masters_tbl, "master_artist_relationships": rels}


# ------------------------------------------------------------------ IMDb


def imdb_person_tables(people: DataFrame) -> dict[str, DataFrame]:
    """IMDb name-basics rows -> five per-profession person tables + the
    person-movie relationship edges.

    Input columns (the TSV reader already turns ``\\N`` into NULL):
    nconst, primaryName, birthYear, deathYear, primaryProfession,
    knownForTitles. Reference semantics (imdb_dump_extractor.py:170-260,
    330-398): a person lands in every table whose profession matches
    (actor/actress -> actors, director -> directors, producer ->
    producers, any of the four music slugs -> musicians, writer ->
    writers); a person whose ONLY profession is `miscellaneous` lands in
    ALL five; no professions -> skipped entirely. Gender is male/female
    when actor/actress is among the professions. Occupations are the
    profession->QID translations minus the table's own implicit QID,
    emitted sorted (the reference joins in list order; a set semantically)
    and NULL when empty. Year-only dates load at precision 9."""
    profs = F.split(F.col("primaryProfession"), ",")
    base = people.filter(
        F.col("primaryProfession").isNotNull()
        & (F.col("primaryProfession") != "")
    ).withColumn("_profs", profs)

    mapping_items = sorted(IMDB_PROFESSIONS_MAPPING.items())
    # all-literal create_map is CONSTANT-FOLDED by Catalyst (plan-verified:
    # the executed plan carries one folded Literal MapData, not a per-row
    # map(...) constructor) — unlike the interpreted-HOF literal-array
    # rebuilds CLAUDE.md warns about
    prof_map = F.create_map(
        *[F.lit(x) for kv in mapping_items for x in kv]
    )
    # try_element_at, not [] — ANSI mode throws on a missing map key,
    # and unmapped professions (e.g. `miscellaneous`) must yield NULL
    qids = F.array_sort(
        F.array_distinct(
            F.filter(
                F.transform(
                    F.col("_profs"),
                    lambda p: F.try_element_at(prof_map, p),
                ),
                lambda q: q.isNotNull(),
            )
        )
    )
    gender = F.when(
        F.array_contains("_profs", "actor"), F.lit("male")
    ).when(F.array_contains("_profs", "actress"), F.lit("female"))
    year_date = lambda c: F.when(  # noqa: E731 — tiny local combinator
        F.col(c).try_cast("int").isNotNull(),
        F.try_to_date(
            F.concat(F.col(c).try_cast("int").cast("string"),
                     F.lit("-01-01"))
        ),
    )
    base = (
        base.withColumn("_qids", qids)
        .withColumn("_gender", gender)
        # materialize the dates once so precision can be gated on the
        # produced date's validity (castable-but-unparseable years, e.g.
        # negative ones, must suppress BOTH date and precision — the
        # reference's datetime.date() raises on them)
        .withColumn("_born", year_date("birthYear"))
        .withColumn("_died", year_date("deathYear"))
    )

    misc_only = (F.size("_profs") == 1) & (
        F.element_at("_profs", 1) == "miscellaneous"
    )
    membership = {
        "actors": F.array_contains("_profs", "actor")
        | F.array_contains("_profs", "actress"),
        "directors": F.array_contains("_profs", "director"),
        "producers": F.array_contains("_profs", "producer"),
        "musicians": F.arrays_overlap(
            "_profs",
            F.array(*[F.lit(p) for p in _IMDB_MUSIC_PROFESSIONS]),
        ),
        "writers": F.array_contains("_profs", "writer"),
    }

    out: dict[str, DataFrame] = {}
    for table, own_qid in IMDB_PERSON_TABLES.items():
        occ = F.array_remove("_qids", own_qid)
        out[table] = (
            base.filter(membership[table] | misc_only)
            .select(
                F.col("nconst").alias("catalog_id"),
                F.col("primaryName").alias("name"),
                _joined_tokens(F.col("primaryName")).alias("name_tokens"),
                F.col("_gender").alias("gender"),
                F.col("_born").alias("born"),
                F.when(F.col("_born").isNotNull(), F.lit(9))
                .alias("born_precision"),
                F.col("_died").alias("died"),
                F.when(F.col("_died").isNotNull(), F.lit(9))
                .alias("died_precision"),
                # the reference assigns ' '.join(...) UNCONDITIONALLY
                # (imdb_dump_extractor.py:391-396): an empty filtered QID
                # set stores '', not NULL — unlike the *_tokens columns,
                # which go through the skipped-assignment contract
                F.array_join(occ, " ").alias("occupations"),
            )
        )
    out["person_movie_relationships"] = (
        base.filter(
            F.col("knownForTitles").isNotNull()
            & (F.col("knownForTitles") != "")
        )
        .select(
            F.explode(F.split("knownForTitles", ",")).alias("from_catalog_id"),
            F.col("nconst").alias("to_catalog_id"),
        )
    )
    return out


# ------------------------------------------------------------ MusicBrainz

MB_PERSON_TYPES = ["1", "4"]       # person, character
MB_BAND_TYPES = ["2", "5", "6"]    # group, orchestra, choir
_MB_GENDERS = {"1": "male", "2": "female"}


def _mb_date_and_precision(y, m, d):
    """musicbrainz_dump_extractor.py:560-591 as column logic: missing
    components were ``\\N`` in the TSV (NULL after the reader);
    precision = 11 when y/m/d all present, 9 with year only, 10 with
    year+month; a missing or negative year means no date at all. Missing
    trailing components fill with 1 (the reference's '0001' fill)."""
    y_ok = y.isNotNull() & (y.try_cast("int") >= 0)
    prec = (
        F.when(m.isNull(), 9).when(d.isNull(), 10).otherwise(11)
    )
    the_date = F.try_to_date(
        F.concat_ws(
            "-",
            y.try_cast("int").cast("string"),
            F.lpad(F.coalesce(m.try_cast("int"), F.lit(1)).cast("string"), 2, "0"),
            F.lpad(F.coalesce(d.try_cast("int"), F.lit(1)).cast("string"), 2, "0"),
        )
    )
    return (
        F.when(y_ok, the_date),
        F.when(y_ok & the_date.isNotNull(), prec),
    )


def musicbrainz_artist_tables(
    artist: DataFrame,
    artist_alias: DataFrame,
    area: DataFrame,
) -> dict[str, DataFrame]:
    """MusicBrainz mbdump artist + artist_alias + area TSVs -> artists
    and bands tables, alias rows denormalized like the reference
    (musicbrainz_dump_extractor.py:458-556): each alias is an extra row
    inheriting the main row's dates and places (and gender for persons),
    with its own name/name_tokens.

    ``artist`` columns: id, gid, label, b_year, b_month, b_day, d_year,
    d_month, d_day, type_id, gender, b_place, d_place. ``artist_alias``:
    parent_id, label. ``area``: id, name. The area joins are plain
    equi-joins (broadcastable dimension), not driver-side dicts."""
    born, born_prec = _mb_date_and_precision(
        F.col("b_year"), F.col("b_month"), F.col("b_day")
    )
    died, died_prec = _mb_date_and_precision(
        F.col("d_year"), F.col("d_month"), F.col("d_day")
    )
    gender_map = F.create_map(
        *[F.lit(x) for kv in sorted(_MB_GENDERS.items()) for x in kv]
    )
    a = artist.select(
        "id",
        F.col("gid").alias("catalog_id"),
        F.col("label").alias("name"),
        _joined_tokens(F.col("label")).alias("name_tokens"),
        born.alias("born"),
        born_prec.alias("born_precision"),
        died.alias("died"),
        died_prec.alias("died_precision"),
        "type_id",
        # try_element_at: unknown/missing gender codes -> NULL (the
        # reference's dict .get default), and ANSI [] would throw
        F.try_element_at(gender_map, F.col("gender")).alias("gender"),
        "b_place",
        "d_place",
    )
    birth = area.select(
        F.col("id").alias("b_place"), F.lower("name").alias("birth_place")
    )
    death = area.select(
        F.col("id").alias("d_place"), F.lower("name").alias("death_place")
    )
    a = (
        a.join(F.broadcast(birth), "b_place", "left")
        .join(F.broadcast(death), "d_place", "left")
        .drop("b_place", "d_place")
    )

    alias_named = artist_alias.select(
        F.col("parent_id").alias("id"), F.col("label").alias("_alias")
    )

    def side(types: list[str], with_gender: bool) -> DataFrame:
        s = a.filter(F.col("type_id").isin(types))
        cols = [
            "catalog_id", "name", "name_tokens",
            "born", "born_precision", "died", "died_precision",
            "birth_place", "death_place",
        ]
        if with_gender:
            cols.append("gender")
        main = s.select(*cols)
        aliases = (
            s.join(alias_named, "id")
            .filter(F.col("_alias").isNotNull() & (F.col("_alias") != ""))
            .select(
                *[c for c in cols if c not in ("name", "name_tokens")],
                F.col("_alias").alias("name"),
                _joined_tokens(F.col("_alias")).alias("name_tokens"),
            )
            .select(*cols)
        )
        return main.unionByName(aliases)

    return {
        "artists": side(MB_PERSON_TYPES, with_gender=True),
        "bands": side(MB_BAND_TYPES, with_gender=False),
    }


def musicbrainz_link_tables(
    artist: DataFrame,
    l_artist_url: DataFrame,
    url: DataFrame,
) -> dict[str, DataFrame]:
    """l_artist_url + url + artist -> artist/band link tables
    (musicbrainz_dump_extractor.py:263-363) as three equi-joins.

    ``l_artist_url`` columns: entity_id (the artist's internal id),
    url_id. ``url``: id, url. The reference's dict-based pass keeps one
    entity per url id ("first in file wins"), the first clean+valid
    candidate per raw URL, and — because its final accumulator is keyed
    by the CLEANED URL STRING (``url_entityid[candidate_url] = ...``,
    musicbrainz_dump_extractor.py:310) — one entity per distinct cleaned
    URL even when two url ids clean to the same string. File order is
    undefined on a distributed read, so both "wins" become MIN — same
    cardinality, deterministic."""
    one_entity = l_artist_url.groupBy("url_id").agg(
        F.min("entity_id").alias("entity_id")
    )
    # asNondeterministic (guide §4.4): the isNotNull filter on the
    # UDF-computed column is otherwise DUPLICATED by filter pushdown —
    # and here it pushes straight through the caller's distinct
    # aggregate, re-running the Arrow kernel on every PRE-distinct row
    # (75x the needed rows in the gate fixture). The kernel is pure, so
    # results are unchanged; only the optimizer's licence to copy the
    # expression is revoked (plan: 2 ArrowEvalPython per branch -> 1).
    first_valid = url.select(
        F.col("id").alias("url_id"),
        F.element_at(_clean_and_validate_nondet(F.col("url")), 1).alias(
            "_url"
        ),
    ).filter(F.col("_url").isNotNull())
    linked = (
        one_entity.join(first_valid, "url_id")
        # second dedup, keyed by the cleaned URL string: the reference's
        # url_entityid dict holds exactly one entity per cleaned URL
        .groupBy("_url")
        .agg(F.min("entity_id").alias("entity_id"))
        .select(F.col("entity_id").alias("id"), F.col("_url").alias("url"))
    )
    joined = linked.join(
        artist.select("id", "gid", "type_id"), "id"
    )

    def links(types: list[str]) -> DataFrame:
        return _link_table(
            joined.filter(F.col("type_id").isin(types)), "gid", "url",
            prevalidated=True,  # first_valid already ran clean+validate
        )

    return {
        "artist_links": links(MB_PERSON_TYPES),
        "band_links": links(MB_BAND_TYPES),
    }
