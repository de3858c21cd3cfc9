"""Anchor-string blocking (north_star: blocking on "normalized page
titles and anchor strings").

The a: key family is a pure recall path: two same-entity pages whose
SHORT titles share no gram/word key (one edit on a 4-char title changes
every 3-gram and the word itself) but that carry the same anchor text
must pair only when ``use_anchors=True``; precision is untouched
because anchor-blocked pairs still pass the title lev/JW gates.
"""

import datetime

from pyspark.sql import functions as F

from deezymatch_spark.pipeline import er_stages

_TS = datetime.datetime(2021, 1, 1)


def _page(url: str, title: str, anchors: list[str]) -> tuple:
    html = (
        "<html><head><title>" + title + "</title></head><body>"
        + "".join(f'<a href="/e/{i}">{a}</a>' for i, a in enumerate(anchors))
        + "</body></html>"
    ).encode()
    return (url, _TS, html, title, "en")


def _matches(spark, pages_rows, **kwargs):
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    st = er_stages(pages, spark=spark, **kwargs)
    return {
        tuple(sorted((r.id1, r.id2)))
        for r in st["matches"].select("id1", "id2").collect()
    }


def test_anchor_keys_recover_short_title_pair(spark):
    # "Abcd" vs "Abxd": lev=1, JW≈0.867 (≥0.82) — a TRUE pair, but the
    # titles share no 3-gram (abc,bcd vs abx,bxd) and no word key, so
    # gram/word blocking cannot see it; both pages cite "Campania Hub"
    rows = [
        _page("https://a.example.com/1", "Abcd", ["Campania Hub"]),
        _page("https://b.example.com/2", "Abxd", ["Campania Hub"]),
        _page("https://c.example.com/3", "Zqrw", ["Campania Hub"]),  # fails lev gate
        _page("https://d.example.com/4", "Unrelated Title Page", ["Other Anchor"]),
    ]
    without = _matches(spark, rows, use_anchors=False)
    with_anchors = _matches(spark, rows, use_anchors=True)
    assert without == set()
    assert len(with_anchors) == 1
    # the Zqrw co-citation was blocked but killed by the lev gate:
    # anchors add recall, never precision loss
    ids = next(iter(with_anchors))
    urls = {r.id: r.url for r in spark.createDataFrame(
        [(u,) for u, *_ in rows], "url string"
    ).select(F.xxhash64("url").alias("id"), "url").collect()}
    assert {urls[i] for i in ids} == {
        "https://a.example.com/1", "https://b.example.com/2"
    }


def test_anchor_keys_do_not_change_long_title_results(spark):
    # long titles: gram blocking already pairs them; anchors must not
    # add or remove match pairs
    rows = [
        _page("https://a.example.com/1", "Lonpar Bervin Tokrom", ["X Y"]),
        _page("https://b.example.com/2", "Lonpar Bervin Tokrum", ["Z W"]),
    ]
    assert _matches(spark, rows, use_anchors=False) == _matches(
        spark, rows, use_anchors=True
    )


def test_phonetic_keys_recover_soundalike_pair(spark):
    # "Smith" vs "Smyth": lev=1, JW≈0.92 — a TRUE pair, but the titles
    # share no 3-gram (smi,mit,ith vs smy,myt,yth) and no word key, so
    # gram/word blocking cannot see it; soundex folds both to S530.
    # "Sandy" is ALSO S530 — it collides phonetically but dies at the
    # lev gate (lev=4) — phonetic keys add recall, never precision loss.
    rows = [
        _page("https://a.example.com/1", "Smith", []),
        _page("https://b.example.com/2", "Smyth", []),
        _page("https://c.example.com/3", "Sandy", []),
        _page("https://d.example.com/4", "Unrelated Title Page", []),
    ]
    without = _matches(spark, rows, use_phonetic=False)
    with_phonetic = _matches(spark, rows, use_phonetic=True)
    assert without == set()
    assert len(with_phonetic) == 1
