"""Seeded synthetic web-pages corpus, owned by the benchmark.

Produces the pipeline's input schema ``(url, warc_ts, html, text,
lang)`` plus the truth column ``cluster_id`` and writes it to parquet
with pyarrow, without Spark. The recipe follows the library's own
synthetic source (hash-derived multi-syllable entity names, a few
near-duplicate spellings per entity, head-heavy domains) but is a copy,
so a change to the library cannot shift the benchmark's inputs.

The seed picks the entity id range and the perturbation of every page,
so two seeds give disjoint corpora of the same shape.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

SYLLABLES = [
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
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_US = 1609459200 * 1_000_000  # 2021-01-01 UTC
VARIANTS_PER_ENTITY = 4
ACCENTS = {"a": "á", "e": "é", "o": "ö", "i": "í", "u": "ü"}
SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("cluster_id", pa.int64()),
])


def _mix(x: int) -> int:
    """64-bit integer hash (splitmix64 finalizer)."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def base_name(entity: int) -> str:
    """Three two-syllable words; distinct entities differ in ~5.8 of 6
    syllables, far outside the two-edit envelope of a variant."""
    n = _mix(entity)
    parts = []
    for _ in range(6):
        parts.append(SYLLABLES[n % len(SYLLABLES)])
        n //= len(SYLLABLES)
    return (
        parts[0] + parts[1] + " " + parts[2] + parts[3] + " " + parts[4] + parts[5]
    ).title()


def variant(base: str, kind: int, h: int) -> str:
    """Spelling ``kind`` (0 = unchanged, 1-6 = one perturbation) of
    ``base``; hash ``h`` picks the position. Every spelling is within
    two edits of ``base`` after NFKD normalization."""
    if kind == 0 or len(base) < 4:
        return base
    p = 1 + (h >> 8) % (len(base) - 2)
    if kind == 1:
        return base.upper()
    if kind == 2:
        return base[:p] + base[p + 1:]  # deletion
    if kind == 3:
        return base[:p] + base[p] + base[p:]  # duplication
    if kind == 4:
        return base[:p] + "-" + base[p:]  # hyphen insert
    if kind == 5:  # accent one vowel (NFKD-decomposable)
        for i, ch in enumerate(base):
            if ch in ACCENTS:
                return base[:i] + ACCENTS[ch] + base[i + 1:]
        return base + "e"
    return base[:p] + base[p + 1:] + base[p]  # move one char to the end


class Corpus:
    """``n_pages`` pages of ``n_pages / 4`` entities for ``seed``.

    Page ``i`` (0-based) belongs to entity ``i // 4``; ``page_row(i)``
    is a pure function of ``(seed, i)``, so a longer corpus of the same
    seed starts with the pages of a shorter one.
    """

    def __init__(self, seed: int, n_pages: int):
        self.seed = int(seed)
        self.n_pages = int(n_pages)
        # the seed picks a disjoint block of entity ids and page numbers
        self.offset = (self.seed % 1_000_003) * 10_000_000

    def page_row(self, i: int) -> tuple:
        g = self.offset + i  # global page number
        entity = g // VARIANTS_PER_ENTITY
        h = _mix(g ^ (self.seed << 40))
        # the first page of an entity keeps the base spelling, so every
        # other spelling links to it within two edits
        kind = 0 if g % VARIANTS_PER_ENTITY == 0 else 1 + h % 6
        title = variant(base_name(entity), kind, h)
        domain = (
            f"hot{h % 5}.example.com" if g % 2 == 0
            else f"site{(h >> 16) % 100000}.example.org"
        )
        url = f"https://{domain}/page/{g}"
        anchors = [
            variant(base_name(entity + d), (h >> (8 * d)) % 7, h >> (16 * d))
            for d in (1, 2)
        ]
        html = (
            "<html><head><title>" + title + "</title></head><body>"
            + "".join(f'<a href="/e/{d}">{a}</a>' for d, a in enumerate(anchors))
            + "</body></html>"
        ).encode("utf-8")
        text = title + " " + " ".join(anchors)
        lang = LANGS[(h >> 24) % len(LANGS)]
        ts = EPOCH_US + ((h >> 32) % 86400) * 17 * 1_000_000
        return url, ts, html, text, lang, entity

    def table(self) -> pa.Table:
        """Every page as an Arrow table."""
        cols = list(zip(*(self.page_row(i) for i in range(self.n_pages))))
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA
        )

    def titles(self) -> list[str]:
        """Every page's raw title."""
        out = []
        for i in range(self.n_pages):
            html = self.page_row(i)[2].decode("utf-8")
            out.append(html[html.index("<title>") + 7:html.index("</title>")])
        return out


def write_parquet(table: pa.Table, path: str, n_files: int = 8) -> str:
    """Write ``table`` as ``n_files`` parquet files under ``path`` (so a
    Spark read gets several input splits) → sha256 of the Arrow content."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
    return checksum(table)


def checksum(table: pa.Table) -> str:
    """sha256 over every column's values in row order."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        for v in table.column(name).to_pylist():
            h.update(repr(v).encode())
    return h.hexdigest()
