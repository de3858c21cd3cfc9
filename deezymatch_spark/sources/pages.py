"""Deterministic synthetic web-pages source (FIXTURES.md F3).

Generates the BASELINE.json ``input_hint`` table
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` plus ground-truth columns (cluster_id, title) for F1
evaluation. Everything is a pure function of the row id — byte-
identical across runs, partitions, and parallelism levels (no RNG
state shared across rows; Philox keyed per row).

Entity clusters are known by construction: ``cluster_id = id //
variants_per_entity``; each member is a deterministic perturbation of
the cluster's base name, so labeled pairs (same cluster ↔ is_match)
exist at any scale. The domain distribution is head-heavy (a few
domains own ~half the rows) to exercise the hot-key cap.

Generation runs distributed via ``mapInPandas`` over ``spark.range``
(arrow-batched; scales linearly with partitions).
"""

from __future__ import annotations

import functools
import unicodedata
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["generate_pages", "extract_title", "extract_anchor_texts"]

# ~120 syllables (multi-script per FIXTURES.md F3) so the name space is
# Common-Crawl-diverse: at 50k pages a given 2-syllable word repeats
# only a handful of times, like real web titles — a 30-syllable
# inventory made every word a hot blocking key and every cluster
# ambiguous with some neighbor.
_SYLLABLES = [
    "lon", "don", "par", "is", "ber", "lin", "mad", "rid", "tok", "yo",
    "ro", "ma", "vi", "en", "na", "po", "li", "sa", "mos", "cow",
    "ath", "ens", "os", "lo", "hel", "sin", "ki", "du", "bl", "in",
    "bru", "ges", "ham", "burg", "mun", "ich", "koln", "stut", "gart", "bre",
    "men", "dres", "den", "leip", "zig", "nan", "tes", "lyon", "mar", "seil",
    "tou", "louse", "nice", "ren", "nes", "lille", "bor", "deaux", "se", "ville",
    "val", "enc", "zar", "goza", "mala", "ga", "mur", "cia", "bil", "bao",
    "gij", "on", "vigo", "turin", "mil", "ano", "nap", "oli", "pal", "ermo",
    "gen", "ova", "bol", "ogna", "fir", "enze", "ven", "ezia", "ver", "ona",
    "kra", "kow", "lodz", "wro", "claw", "poz", "nan2", "gda", "nsk", "szc",
    "zecin", "byd", "gos", "lub", "ka", "to", "wice", "bia", "lys", "tok2",
    "мос", "ква", "пет", "ров", "ñes", "çoi", "αθή", "ναι", "京", "都",
]
_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
# fixed epoch for warc_ts (2021-01-01 UTC) — deterministic, no wall clock
_EPOCH = 1609459200


@functools.lru_cache(maxsize=1 << 16)
def _base_name(cluster_id: int) -> str:
    # hash-derived syllables so distinct clusters get distinct-looking
    # names (sequential division would give every small cluster the
    # same suffix syllables, making cross-cluster negatives
    # near-identical strings — an unlearnable matching task)
    # 6 base-30 digits (~729M combos) keeps names injective and
    # well-separated at any sandbox scale: distinct clusters differ in
    # ~5.8 of 6 syllables in expectation, so cross-cluster Levenshtein
    # stays far above the <=2-edit envelope of within-cluster variants.
    n = (cluster_id * 2654435761 + 97) % (1 << 32)
    parts = []
    for _ in range(6):
        parts.append(_SYLLABLES[n % len(_SYLLABLES)])
        n //= len(_SYLLABLES)
    return (
        parts[0] + parts[1] + " " + parts[2] + parts[3] + " " + parts[4] + parts[5]
    ).title()


def _variant(base: str, v: int) -> str:
    """Deterministic perturbation v of a base name. v=0 is identity; all
    variants stay within edit distance ~2 so true pairs are blockable
    and matchable."""
    if v % 7 == 0 or len(base) < 4:
        return base
    k = v % 7
    p = 1 + (v * 2654435761) % (len(base) - 2)
    if k == 1:
        return base.upper()
    if k == 2:
        return base[:p] + base[p + 1 :]  # deletion
    if k == 3:
        return base[:p] + base[p] + base[p:]  # duplication
    if k == 4:
        return base[:p] + "-" + base[p:]  # hyphen insert
    if k == 5:  # accent a char (NFKD-decomposable)
        repl = {"a": "á", "e": "é", "o": "ö", "i": "í", "u": "ü"}
        for i, ch in enumerate(base):
            if ch in repl:
                return base[:i] + repl[ch] + base[i + 1 :]
        return base + "e"
    return base[:p] + base[p + 1 :] + base[p]  # move char to end


def _row(i: int, variants_per_entity: int, n_hot_domains: int) -> tuple:
    cluster_id = i // variants_per_entity
    v = i % variants_per_entity
    title = _variant(_base_name(cluster_id), v)
    # head-heavy domains: even rows land in n_hot_domains, odd spread wide
    if i % 2 == 0:
        domain = f"hot{i % n_hot_domains}.example.com"
    else:
        domain = f"site{(i * 2654435761) % 100000}.example.org"
    url = f"https://{domain}/page/{i}"
    # anchors reference neighboring entities (deterministic)
    anchors = [
        _variant(_base_name((cluster_id + d) % max(1, cluster_id + 7)), (v + d) % 7)
        for d in (1, 2)
    ]
    html = (
        "<html><head><title>"
        + title
        + "</title></head><body>"
        + "".join(f'<a href="/e/{d}">{a}</a>' for d, a in enumerate(anchors))
        + "</body></html>"
    ).encode("utf-8")
    text = title + " " + " ".join(anchors)
    lang = _LANGS[(i * 11) % len(_LANGS)]
    ts = _EPOCH + (i % 86400) * 17
    return (url, ts, html, text, lang, cluster_id, title)


_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("cluster_id", LongType()),
        StructField("title", StringType()),
    ]
)


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    *,
    variants_per_entity: int = 4,
    n_hot_domains: int = 5,
    with_truth: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Synthesize the pages table. ``with_truth`` keeps the generator's
    cluster_id/title columns for F1 evaluation; production schema is
    exactly the input_hint 5 columns."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [_row(int(i), variants_per_entity, n_hot_domains) for i in b["id"]]
            df = pd.DataFrame(
                rows,
                columns=["url", "warc_ts", "html", "text", "lang", "cluster_id", "title"],
            )
            df["warc_ts"] = pd.to_datetime(df["warc_ts"], unit="s")
            yield df

    rng = spark.range(n_rows, numPartitions=num_partitions)
    out = rng.mapInPandas(gen, schema=_SCHEMA)
    if not with_truth:
        out = out.select("url", "warc_ts", "html", "text", "lang")
    return out


def extract_title(html_col) -> F.Column:
    """S0 extract: title string out of the html bytes — pure JVM
    (decode + regexp_extract), byte-identical per url by construction."""
    return F.regexp_extract(
        F.decode(html_col, "UTF-8"), r"<title>(.*?)</title>", 1
    )


def extract_anchor_texts(html_col) -> F.Column:
    """All anchor inner texts as array<string> (regexp_extract_all)."""
    return F.regexp_extract_all(
        F.decode(html_col, "UTF-8"), F.lit(r"<a [^>]*>([^<]*)</a>"), F.lit(1)
    )
