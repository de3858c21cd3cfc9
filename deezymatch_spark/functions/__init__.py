"""Function layer: Catalyst expressions (hot path) + Arrow UDFs (parity path)."""

from .distances import cosine_dist, cosine_sim, dot, l2_norm, sq_l2
from .hashing import (
    gram_hashes,
    lsh_band_keys,
    md5_long,
    minhash_base,
    minhash_from_base,
    minhash_signature,
    simhash,
)
from .ngrams import (
    char_ngrams,
    distinct_char_ngrams,
    normalize_basic,
    prefix_ngram_keys,
    word_tokens,
)
from .textstats import (
    GOPHER_STOPWORDS,
    bpe_token_count,
    doc_fingerprint,
    gopher_signals,
    lang_id,
    punct_ratio,
    char_entropy,
    quality_score,
    repetition_stats,
    rolling_fingerprint,
    stopword_ratio,
    whitespace_token_count,
    word_token_count,
)
from .bpe import (
    bpe_count_expr,
    bpe_encode,
    bpe_segment_expr,
    seed_merges,
    train_bpe,
    train_bpe_from_df,
)
from .expr import let_
from .phonetic import soundex_token_keys
from .pii import mask_pii, pii_stats
from .urls import TRACKING_PARAM_REGEX, canonical_url
from .udfs import jaro_winkler, jaro_winkler_udf, normalize_udf, tokenize_udf

__all__ = [
    "cosine_dist", "cosine_sim", "dot", "l2_norm", "sq_l2",
    "gram_hashes", "lsh_band_keys", "md5_long", "minhash_base",
    "minhash_from_base", "minhash_signature", "simhash",
    "char_ngrams", "distinct_char_ngrams", "normalize_basic",
    "prefix_ngram_keys", "soundex_token_keys", "word_tokens",
    "bpe_token_count", "char_entropy", "doc_fingerprint", "lang_id", "punct_ratio", "quality_score",
    "gopher_signals", "GOPHER_STOPWORDS",
    "repetition_stats",
    "rolling_fingerprint", "stopword_ratio", "whitespace_token_count",
    "word_token_count",
    "bpe_count_expr", "bpe_encode", "bpe_segment_expr", "seed_merges",
    "train_bpe", "train_bpe_from_df",
    "canonical_url", "TRACKING_PARAM_REGEX", "let_", "mask_pii", "pii_stats",
    "jaro_winkler", "jaro_winkler_udf", "normalize_udf", "tokenize_udf",
]
