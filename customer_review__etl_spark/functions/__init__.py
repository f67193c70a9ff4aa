from .text import (
    STOPWORDS,
    clean_tokens,
    doc_fingerprint,
    normalize_text,
    quality_score_cols,
    token_count,
    tokens,
)
from .vectors import dot, l2_norm

__all__ = [
    "STOPWORDS",
    "clean_tokens",
    "doc_fingerprint",
    "normalize_text",
    "quality_score_cols",
    "token_count",
    "tokens",
    "dot",
    "l2_norm",
]
