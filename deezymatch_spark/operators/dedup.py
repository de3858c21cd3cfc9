"""Corpus deduplication operators (training-data pipeline).

No reference counterpart; first-class operators for the 100 TB corpus
use-case. Exact dedup is a hash-groupBy; near-dup is MinHash/LSH
bucketing → ngram-Jaccard verification → connected components →
keep cluster representative. SimHash gives an alternative cheap
near-dup key for short texts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import (
    gram_hashes,
    lsh_band_keys,
    md5_long,
    minhash_base,
    minhash_from_base,
    simhash,
)
from ..functions.expr import let_
from ..functions.ngrams import distinct_char_ngrams, lower_ws_words, normalize_basic
from ..functions.textstats import doc_fingerprint
from ..functions.urls import canonical_url
from .blocking import _pair_join, cap_blocks
from .cc import connected_components

__all__ = [
    "exact_dedup",
    "exact_dup_groups",
    "ngram_jaccard",
    "minhash_dup_pairs",
    "minhash_delta_pairs",
    "near_dedup",
    "contaminated_docs",
    "decontaminate",
    "word_ngram_hashes",
    "simhash_dup_pairs",
    "semantic_dedup",
    "url_dup_groups",
    "url_dedup",
    "duplicated_sentences",
    "sentence_dedup",
]


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """→ [fingerprint, n_dups, keep_id] for groups with >1 member.
    Map-side-combinable aggregation — one shuffle on the fingerprint."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per normalized-text fingerprint."""
    w = Window.partitionBy(doc_fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def ngram_jaccard(a, b) -> F.Column:
    """Jaccard |A∩B| / |A∪B| over two array<string> gram-set columns
    (arrays assumed distinct). Accepts Columns or column names."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def _minhash_base_and_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram: int,
    num_hashes: int,
    bands: int,
    max_block_size: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the minhash near-dup family: → (``base``
    [id, grams], ``keys`` [id, block_key] with over-cap buckets
    dropped by ``blocking.cap_blocks`` — the key rows never shuffle for
    the cap).

    Staged projections: base-hash array, signature, band keys each
    evaluated exactly once (see minhash_from_base docstring).
    """
    rows_per_band = num_hashes // bands
    norm = normalize_basic(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        distinct_char_ngrams(norm, gram).alias("grams"),
    ).where(F.size("grams") > 0)

    keys = (
        base.select("id", minhash_base(F.col("grams")).alias("_bh"))
        .select("id", minhash_from_base(F.col("_bh"), num_hashes).alias("_mh"))
        .select(
            "id",
            F.explode(lsh_band_keys(F.col("_mh"), bands, rows_per_band)).alias(
                "block_key"
            ),
        )
    )
    return base, cap_blocks(keys, max_block_size)


def _verify_jaccard(
    cand: DataFrame, base: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact ngram-Jaccard verification of candidate [id1, id2] pairs.
    Gram arrays are re-derived per side after the candidate join so the
    wide arrays never travel through the bucket shuffle."""
    return (
        cand.join(base.select(F.col("id").alias("id1"), F.col("grams").alias("_g1")), "id1")
        .join(base.select(F.col("id").alias("id2"), F.col("grams").alias("_g2")), "id2")
        .withColumn("jaccard", ngram_jaccard("_g1", "_g2"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_block_size: int = 500,
) -> DataFrame:
    """→ [id1, id2, jaccard] near-duplicate pairs (id1 < id2).

    shingle → minhash → LSH band bucket-join → exact ngram-Jaccard
    verification. The bucket join shuffles (id, band_key) rows only.
    """
    base, keys = _minhash_base_and_keys(
        df, id_col, text_col,
        gram=gram, num_hashes=num_hashes, bands=bands,
        max_block_size=max_block_size,
    )
    return _verify_jaccard(_pair_join(keys).distinct(), base, jaccard_threshold)


def minhash_delta_pairs(
    df: DataFrame,
    delta_ids: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_block_size: int = 500,
) -> DataFrame:
    """Near-duplicate pairs that touch a delta: → [id1, id2, jaccard]
    (id1 < id2) where at least one side is in ``delta_ids`` [id].

    The incremental-ingest complement of ``minhash_dup_pairs``: with
    band keys and caps computed over the FULL corpus, this returns
    exactly the full pair set minus the old↔old pairs — so
    ``old_pairs ∪ delta_pairs == batch pairs`` when no bucket exceeds
    the cap, the invariant the incremental-clustering oracle checks
    (caps over a prefix corpus can only differ for buckets that later
    overflow). Feed the result to ``incremental.update_clusters``.

    Scale shape: the delta's key rows are a delta-sized fraction of the
    corpus key table, so the bucket join (``blocking._pair_join``'s
    delta mode) is a BroadcastHashJoin — the corpus key table never
    shuffles. At 10^12 docs the corpus ``keys``/``grams`` tables would
    be read from state parquet rather than recomputed (they're pure
    per-row projections of the text, so recompute-vs-store is a cost
    knob, not semantics).
    """
    base, keys = _minhash_base_and_keys(
        df, id_col, text_col,
        gram=gram, num_hashes=num_hashes, bands=bands,
        max_block_size=max_block_size,
    )
    cand = _pair_join(keys, delta_ids=delta_ids).distinct()
    return _verify_jaccard(cand, base, jaccard_threshold)


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    cosine_threshold: float = 0.05,
    dim: int | None = None,
    num_planes: int = 6,
    num_tables: int = 2,
    exhaustive: bool = False,
) -> DataFrame:
    """→ [id1, id2, cosine] embedding-cosine near-duplicate pairs
    (id1 < id2, cosine distance <= threshold).

    Scale path: sign-LSH bucket self-join (same hyperplane scheme as
    knn.lsh_topk) with exact cosine verification inside buckets.
    ``exhaustive=True`` switches to the O(N²) cross join — the
    oracle-checkable reference semantics for small inputs."""
    from ..functions.distances import cosine_dist
    from .knn import _hyperplane_sig

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if exhaustive:
        a, b = base.alias("a"), base.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                cosine_dist(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
            )
            .where(F.col("cosine") <= cosine_threshold)
        )

    import numpy as np

    if dim is None:
        raise ValueError("dim required for the LSH path")
    rng = np.random.Generator(np.random.Philox(1364))
    parts = []
    for _ in range(num_tables):
        planes = rng.standard_normal((num_planes, dim)).tolist()
        keyed = base.select(
            "id", "vec", _hyperplane_sig(F.col("vec"), planes).alias("_sig")
        )
        a, b = keyed.alias("a"), keyed.alias("b")
        parts.append(
            a.join(b, "_sig")
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                cosine_dist(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.where(F.col("cosine") <= cosine_threshold).dropDuplicates(["id1", "id2"])


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_clusters: int = 16,
    eps: float = 0.05,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning near-duplicates
    within each cluster. → [id, list_id, kept].

    Exact published semantics, re-expressed for Catalyst:

    1. Partition points into ``n_clusters`` clusters by nearest coarse
       centroid (cosine). Centroids are the deterministic md5-min
       reservoir shared with ``knn.ivf_topk`` (kmeans refinement
       affects pruning *quality*, not semantics, and the seedless
       reservoir keeps the whole operator DuckDB-oracle-expressible);
       assignment is a zero-shuffle literal-argmin projection.
    2. Order each cluster's members by distance-to-centroid DESC
       (ties by id): the sweep visits low-similarity-to-centroid
       points first, so the survivor of any duplicate group is the
       one SemDeDup keeps (§3: retaining low-centroid-similarity
       examples).
    3. A point is a duplicate iff its cosine distance to ANY
       earlier-ranked point in its cluster is <= ``eps`` — the upper
       triangle of the paper's per-cluster similarity matrix,
       expressed as a rank-gated self-join on ``list_id``. The drop
       decision deliberately does not depend on the earlier point's
       own kept flag (also the paper's semantics), which is what keeps
       the operator a join instead of a sequential scan.

    Scale: the window and the self-join share one Exchange on
    ``list_id``; the triangular verify is the paper's O(|cluster|²)
    step — size ``n_clusters`` ≈ N / target_cluster_size to bound it
    (the paper runs 11k clusters over 233M points). No floats in the
    output: kept is a boolean, so the result hash-compares exactly.
    Zero-norm vectors have NaN cosine everywhere: NaN <= eps is false,
    so they are never dropped (and never drop others).
    """
    from ..functions.distances import cosine_dist
    from .knn import centroid_dist_array, coarse_centroids

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    centroids = coarse_centroids(base, "id", "vec", n_clusters)
    arr = centroid_dist_array(F.col("vec"), centroids, cosine_dist)
    assigned = base.select("id", "vec", F.array_min(arr).alias("_m")).select(
        "id",
        "vec",
        F.col("_m")["list_id"].alias("list_id"),
        F.col("_m")["d"].alias("_cd"),
    )
    w = Window.partitionBy("list_id").orderBy(F.col("_cd").desc(), F.col("id").asc())
    ranked = assigned.withColumn("_rk", F.row_number().over(w))
    a, b = ranked.alias("a"), ranked.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("b._rk") < F.col("a._rk")),
        )
        .where(cosine_dist(F.col("a.vec"), F.col("b.vec")) <= F.lit(float(eps)))
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return ranked.join(dropped, "id", "left").select(
        "id", "list_id", F.col("_dup").isNull().alias("kept")
    )


def _near_dup_pairs(df, id_col, text_col, method, kwargs):
    """Shared pair-generator dispatch for near_dedup/dedup_keep_best.
    'exact' = the prefix-filtered set-similarity join (ssjoin.py) —
    recall-complete, so it takes no max_block_size (a cap would drop
    true pairs, the opposite of its contract); the arg is accepted and
    ignored so job wiring can pass one uniform kwarg set."""
    if method == "minhash":
        return minhash_dup_pairs(df, id_col, text_col, **kwargs)
    if method == "simhash":
        return simhash_dup_pairs(df, id_col, text_col, **kwargs)
    if method == "exact":
        from .ssjoin import jaccard_join

        kw = dict(kwargs)
        kw.pop("max_block_size", None)
        t = kw.pop("jaccard_threshold", 0.5)
        return jaccard_join(df, id_col, text_col, threshold=t, **kw)
    raise ValueError(f"unknown near-dedup method: {method!r}")


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    method: str = "minhash",
    **kwargs,
) -> DataFrame:
    """Full near-dedup: LSH pairs → transitive closure → keep the min-id
    doc per duplicate cluster. → df minus non-representative dups.

    ``method``: 'minhash' (Jaccard over shingles — robust for longer
    texts), 'simhash' (Hamming over the bit fingerprint — cheaper,
    one BIGINT per doc through the shuffle), or 'exact' (r4: the
    recall-complete prefix-filtered set-similarity join, ssjoin.py —
    every Jaccard>=t pair is found, no LSH misses, no cap drops);
    kwargs pass to the respective pair operator."""
    pairs = _near_dup_pairs(df, id_col, text_col, method, kwargs)
    comps = connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col,
    *,
    method: str = "minhash",
    **kwargs,
) -> DataFrame:
    """Near-dedup keeping the BEST document per duplicate cluster
    instead of the min-id one: rank cluster members by
    (``quality_col`` DESC, id ASC — the deterministic tie-break) and
    keep rank 1. The curation-grade variant of :func:`near_dedup` —
    when a boilerplate page and its well-formatted twin collide, the
    corpus should keep the higher-quality copy, not whichever id
    happened to hash lower (e.g. pass ``quality_score(text)`` or
    ``char_entropy(text)``).

    ``quality_col``: a Column expression or column name evaluated on
    ``df``'s rows.

    Scale shape: the pair/closure stages are identical to
    :func:`near_dedup` (bucketed LSH joins, O(cells) closure). The
    ranking joins the component map (≤ one row per DUPLICATED doc —
    Zipf-small vs the corpus) back to the corpus as a broadcast-able
    side, and only duplicated docs enter the rank-1 window; unique
    docs never shuffle.
    """
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    pairs = _near_dup_pairs(df, id_col, text_col, method, kwargs)
    comps = connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    # only docs that appear in some duplicate cluster carry a component;
    # every other row bypasses the window entirely
    dupd = df.join(
        comps.withColumnRenamed("node", id_col), id_col, "inner"
    ).withColumn("_q", q)
    w = Window.partitionBy("component").orderBy(
        F.col("_q").desc(), F.col(id_col).asc()
    )
    keep_dup = (
        dupd.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_q", "component")
    )
    uniq = df.join(
        comps.select(F.col("node").alias(id_col)), id_col, "left_anti"
    )
    return uniq.unionByName(keep_dup)


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram: int = 4,
    num_bits: int = 32,
    bands: int = 4,
    hamming_max: int = 3,
    max_block_size: int = 500,
) -> DataFrame:
    """→ [id1, id2, hamming] near-duplicate pairs (id1 < id2) by
    SimHash Hamming distance — the Manku et al. (WWW'07) web-dedup
    scheme, completing the near-dup family next to MinHash/Jaccard.

    Pigeonhole bucketing: split the ``num_bits`` fingerprint into
    ``bands`` equal bit-bands; two fingerprints within ``hamming_max``
    differing bits MUST agree on at least one band whenever
    ``bands > hamming_max``, so the band-key self-join finds every
    such pair (no recall loss), and ``bit_count(a ^ b)`` verifies
    exactly. Shuffle profile matches ``minhash_dup_pairs``: only
    (id, band_key) rows move, the hot-bucket cap is a broadcast
    anti-join on the tiny over-cap list (``blocking.cap_blocks``), and
    the band rows carry the 8-byte fingerprint so verification needs
    no join-back.
    """
    if num_bits % bands != 0:
        raise ValueError("num_bits must be divisible by bands")
    if bands <= hamming_max:
        raise ValueError(
            "bands must exceed hamming_max for lossless pigeonhole bucketing"
        )
    width = num_bits // bands
    mask = (1 << width) - 1
    base = df.select(
        F.col(id_col).alias("id"),
        simhash(
            gram_hashes(distinct_char_ngrams(normalize_basic(F.col(text_col)), gram)),
            num_bits,
        ).alias("sh"),
    ).where(F.length(normalize_basic(F.col(text_col))) >= gram)
    keys = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    (
                        F.lit(b << width).cast("long")
                        + F.shiftright(F.col("sh"), b * width).bitwiseAND(
                            F.lit(mask).cast("long")
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("block_key"),
    )
    return (
        _pair_join(cap_blocks(keys, max_block_size), carry=("sh",))
        .select(
            "id1", "id2", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming")
        )
        .where(F.col("hamming") <= hamming_max)
        .dropDuplicates(["id1", "id2"])
    )


def word_ngram_hashes(text_col, n: int) -> F.Column:
    """60-bit hashes of the word-level n-grams of a text column —
    the GPT-3/Llama decontamination unit (13 consecutive words).
    Empty array for docs shorter than n words."""
    from ..functions.expr import let_
    from ..functions.ngrams import lower_ws_words

    words = lower_ws_words(text_col)

    def with_words(w: F.Column) -> F.Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: md5_long(F.array_join(F.slice(w, i, n), " ")),
        )
        # sequence(1, k) with k < 1 counts DOWN in Spark — gate it
        return F.when(F.size(w) >= n, grams).otherwise(
            F.array().cast("array<bigint>")
        )

    return let_(words, with_words)


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    *,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination scan (the GPT-3 appendix-C /
    Llama-style filter): flag every corpus document sharing at least
    one ``n``-word-gram with any benchmark text.

    → [<id_col>, n_hits] (overlapping gram occurrences per flagged
    doc). The benchmark gram set is tiny next to the corpus (eval sets
    are thousands of rows, the corpus 10^12), so it broadcasts and the
    corpus side never shuffles for the probe — the only exchange is
    the per-doc hit count aggregation, which is map-combinable and
    sized by the (rare) contaminated rows.
    """
    bench_text_col = bench_text_col or text_col
    bench = (
        benchmark.select(
            F.explode(word_ngram_hashes(F.col(bench_text_col), n)).alias("_g")
        )
        .distinct()
    )
    hits = (
        docs.select(
            F.col(id_col),
            F.explode(word_ngram_hashes(F.col(text_col), n)).alias("_g"),
        )
        .join(F.broadcast(bench), "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return hits


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide duplicated exact-substring spans at word
    granularity — the detection half of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"
    ExactSubstr, arXiv:2107.06499), which found memorized 50-token
    spans repeat verbatim across web corpora even when documents are
    not near-duplicates.

    → [<id_col>, pos, gram_hash]: every 1-based word position whose
    ``n``-word gram occurs ≥ ``min_count`` times corpus-wide (their
    suffix-array threshold, here as a gram-hash count — hash
    granularity trades the suffix array's arbitrary-length matches for
    a two-shuffle DataFrame plan).

    Scale shape: one map-combinable count over 8-byte gram hashes
    (never the gram text), then the positions stream semi-joins the
    duplicated-hash set — Zipf-small next to the corpus, so AQE
    broadcasts it and the corpus side shuffles only its own count
    aggregation. No UDFs.
    """
    grams = df.select(
        F.col(id_col),
        F.posexplode(word_ngram_hashes(F.col(text_col), n)).alias(
            "pos0", "gram_hash"
        ),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "gram_hash")
    dup = (
        grams.groupBy("gram_hash")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("gram_hash")
    )
    return grams.join(dup, "gram_hash", "left_semi").select(
        id_col, "pos", "gram_hash"
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring exposure — the filterable
    form of :func:`substring_dup_spans` (Gopher/Dolma-style gate:
    drop or down-weight docs whose text is mostly memorized spans).

    → [<id_col>, n_grams, n_dup_grams, dup_frac_micro] for EVERY input
    row (docs shorter than ``n`` words report 0/0/0);
    ``dup_frac_micro`` = exact bigint (n_dup·10⁶) div n_grams, the
    cross-engine-stable integer form used by the other micro metrics.
    """
    grams = df.select(
        F.col(id_col),
        F.explode_outer(word_ngram_hashes(F.col(text_col), n)).alias("gram_hash"),
    )
    dup = (
        grams.where(F.col("gram_hash").isNotNull())
        .groupBy("gram_hash")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("gram_hash", F.lit(1).alias("_dup"))
    )
    return (
        grams.join(dup, "gram_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram_hash").cast("long").alias("n_grams"),
            F.coalesce(F.sum("_dup"), F.lit(0)).cast("long").alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.expr(
                "(n_dup_grams * 1000000) div greatest(n_grams, 1)"
            ).alias("dup_frac_micro"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Remove corpus-duplicated exact substrings from every document —
    the removal half of Lee et al. 2022 ExactSubstr (arXiv:2107.06499):
    every word covered by ANY duplicated ``n``-word gram is cut, and
    the survivors are rejoined with single spaces. Duplicate DETECTION
    is case-insensitive (lowercased grams, matching the other dedup
    operators); the rebuilt text keeps each surviving word's ORIGINAL
    case — only whitespace is normalized (runs collapse to single
    spaces; word-granularity op, the exact bytes inside removed spans
    are gone by construction).

    → [<id_col>, clean_text, n_words, n_removed_words] for every input
    row (docs with no duplicated span pass through with their
    whitespace-normalized text and ``n_removed_words = 0``).

    Plan: :func:`substring_dup_spans` (one map-combined count +
    broadcast semi-join) → per-doc duplicated-position list (shuffles
    only SPAN rows, bounded by the duplicated docs) → join back to the
    corpus as a LEFT join, coverage evaluated as a pure expression
    (``exists`` over the span list per word index — O(|spans|·|words|)
    per affected doc, zero Python).
    """
    spans = substring_dup_spans(
        df, id_col, text_col, n=n, min_count=min_count
    )
    dup_pos = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_dup_pos")
    )
    # original-case tokens for the rebuild; positions align with the
    # lowercased gram stream because lower() commutes with the \s+ split
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+", -1),
        lambda x: x != "",
    )

    def clean(w: F.Column) -> F.Column:
        pos = F.coalesce(
            F.col("_dup_pos"), F.array().cast("array<int>")
        )
        kept = F.filter(
            F.zip_with(
                w,
                F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1))),
                lambda word, j: F.struct(
                    word.alias("w"),
                    (
                        ~F.exists(pos, lambda p: (j >= p) & (j < p + n))
                    ).alias("keep"),
                ),
            ),
            lambda s: s["keep"],
        )
        return F.transform(kept, lambda s: s["w"])

    out = (
        df.select(F.col(id_col), words.alias("_w"))
        .join(dup_pos, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_w"),
            F.when(
                F.size("_w") == 0, F.array().cast("array<string>")
            ).otherwise(let_(F.col("_w"), clean)).alias("_kept"),
        )
    )
    return out.select(
        F.col(id_col),
        F.array_join("_kept", " ").alias("clean_text"),
        F.size("_w").cast("long").alias("n_words"),
        (F.size("_w") - F.size("_kept")).cast("long").alias("n_removed_words"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    *,
    n: int = 13,
) -> DataFrame:
    """→ ``docs`` minus every row flagged by :func:`contaminated_docs`."""
    flagged = contaminated_docs(
        docs, benchmark, id_col, text_col, bench_text_col, n=n
    ).select(id_col)
    return docs.join(flagged, id_col, "left_anti")


def url_dup_groups(
    df: DataFrame, id_col: str, url_col: str, ts_col: str | None = None
) -> DataFrame:
    """URL-level dedup over a crawl table: canonicalize, then one
    map-side-combinable aggregation per canonical URL.

    → [canon_url, n_dups, keep_id] for canonical URLs seen more than
    once. ``keep_id`` is the id of the latest snapshot (max ``ts_col``,
    ties broken by max id) — the row a crawl dedup would retain; with
    no ``ts_col`` it's the max id. Rows with NULL/blank URLs are not
    URL duplicates of each other and are excluded. Single shuffle on
    the canonical-URL key; the canonicalizer itself is a codegen
    projection (`functions/urls.py`), so at 10^12 rows this costs
    exactly one map-combined exchange of (canon_url, partial-agg) rows.
    """
    df = df.where(F.col(url_col).isNotNull() & (F.trim(F.col(url_col)) != ""))
    canon = canonical_url(F.col(url_col)).alias("canon_url")
    order = (
        F.struct(F.col(ts_col), F.col(id_col))
        if ts_col
        else F.struct(F.col(id_col))
    )
    return (
        df.select(canon, F.col(id_col).alias("_id"), order.alias("_ord"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.max_by("_id", F.col("_ord")).alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def url_dedup(
    df: DataFrame, id_col: str, url_col: str, ts_col: str | None = None
) -> DataFrame:
    """Keep one row per canonical URL (latest ``ts_col``, ties → max
    id; no ts → max id). Window over the canonical key — same single
    shuffle as the group-by, but retains full rows.

    Rows with NULL/blank URLs always survive: they fall back to a
    per-row partition key (otherwise every URL-less document would
    collapse into ONE surviving row — silent data loss on any corpus
    with partial URL coverage)."""
    order = (
        [F.col(ts_col).desc(), F.col(id_col).desc()]
        if ts_col
        else [F.col(id_col).desc()]
    )
    blank = F.col(url_col).isNull() | (F.trim(F.col(url_col)) == "")
    key = F.when(
        blank, F.concat(F.lit("\x00id:"), F.col(id_col).cast("string"))
    ).otherwise(canonical_url(F.col(url_col)))
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _sent_key128(col) -> F.Column:
    """128-bit composite sentence key: two independent xxhash64 lanes
    (second lane domain-separated by a prefix byte). Collision odds for
    n distinct sentences ≈ n²/2¹²⁹ — at 10¹² sentences that is ~3e-15,
    an acceptable trade for not shuffling raw sentence text."""
    return F.struct(
        F.xxhash64(col).alias("h1"), F.xxhash64(F.lit("\x01"), col).alias("h2")
    )


def duplicated_sentences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    delim: str = ". ",
    hash_key: bool = False,
) -> DataFrame:
    """Corpus-wide duplicated-sentence table (the CCNet/Dolma
    paragraph-dedup building block): split every document on
    ``delim``, count each distinct sentence across the corpus.

    → [sent, n_occurrences, n_docs] for sentences appearing ≥
    ``min_count`` times (total occurrences; ``n_docs`` distinguishes
    cross-document boilerplate from within-document repetition). One
    map-side-combinable shuffle.

    ``hash_key=True`` — the 100 TB path: aggregate on a 16-byte
    128-bit hash (``sent_key`` struct column replaces ``sent``)
    instead of the raw sentence text, so the exchange carries fixed
    16-byte keys rather than arbitrary-length strings. The text path
    (default) stays bit-exact for oracle verification.
    """
    key = _sent_key128(F.col("sent")).alias("sent_key") if hash_key else F.col("sent")
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), _re_escape(delim), -1)).alias("sent"),
        )
        .where(F.col("sent") != "")
        .select("_id", key)
        .groupBy("sent_key" if hash_key else "sent")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("_id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )


def sentence_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    delim: str = ". ",
    hash_key: bool = False,
) -> DataFrame:
    """Remove every occurrence of corpus-duplicated sentences from
    every document (CCNet-style boilerplate removal: nav bars, cookie
    banners, licence footers repeat across pages and poison training
    data).

    → [<id_col>, clean_text, n_kept, n_removed]; ``clean_text`` is the
    surviving sentences rejoined with ``delim`` in original order
    (empty string when nothing survives — the row is kept so
    downstream joins don't lose documents).

    Plan: posexplode → LEFT ANTI join against the duplicated-sentence
    set → re-aggregate per document. The anti-join's build side is
    only the *duplicated* sentences (Zipf-small vs the corpus), so AQE
    broadcasts it in the common case; the re-aggregation shuffles
    (id, pos, sent) rows once. No UDFs anywhere.

    ``hash_key=True``: the duplicated-sentence aggregation and the
    anti-join key on a 128-bit sentence hash instead of raw text (see
    :func:`duplicated_sentences`) — same output, slimmer exchanges.
    """
    join_key = "sent_key" if hash_key else "sent"
    dup = duplicated_sentences(
        df, id_col, text_col, min_count, delim, hash_key=hash_key
    ).select(join_key)
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re_escape(delim), -1)).alias(
            "pos", "sent"
        ),
    ).where(F.col("sent") != "")
    if hash_key:
        parts = parts.withColumn("sent_key", _sent_key128(F.col("sent")))
    total = parts.groupBy(id_col).agg(F.count("*").alias("_n_total"))
    kept = (
        parts.join(dup, join_key, "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"],
                ),
                delim,
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        df.select(id_col)
        .join(total, id_col, "left")
        .join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (
                F.coalesce("_n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).cast("long").alias("n_removed"),
        )
    )


def _re_escape(s: str) -> str:
    """Escape a literal delimiter for Java-regex ``F.split``."""
    import re

    return re.escape(s)
