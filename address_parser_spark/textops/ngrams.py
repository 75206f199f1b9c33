"""Character n-gram shingles.

``char_ngrams`` carries the parity contract with the reference's
``generate_ngrams`` (inexus_parser.py:2657-2660): the string is padded with one
space on each side and every sliding window of ``n`` characters is emitted
(duplicates preserved, order preserved). These shingles feed both the blocking
inverted index and the MinHash signatures.
"""

from __future__ import annotations


def char_ngrams(s: str, n: int = 4) -> list[str]:
    """Padded sliding character windows; duplicates kept.

    ``char_ngrams("ha noi")`` → windows of ``" ha noi "``. Strings shorter than
    ``n - 2`` still produce at least one window only when the padded length
    reaches ``n`` (same corner behavior as the reference).
    """
    padded = f" {s} "
    return [padded[i : i + n] for i in range(len(padded) - n + 1)]


def char_ngram_set(s: str) -> set[str]:
    """Distinct 4-gram shingles — the set the Dice coefficient is defined over."""
    return set(char_ngrams(s))
