"""Street-address extraction: original text minus matched component spans.

Behavioral parity with the reference's ``_build_component_signature`` /
``_extract_street_address`` (inexus_parser.py:2475-2655): tokenize the ORIGINAL
(un-normalized) string, mark every token window whose normalized form equals a
signature sequence of the matched province/district/ward, absorb adjacent
generic location words, drop whole comma-segments that contain nothing but
generic/marked tokens (never the first segment), then rebuild the remaining
characters. Part of the byte-identical per-url invariant; golden-tested in
``tests/test_textops_golden.py``.
"""

from __future__ import annotations

import re
from typing import Optional

from address_parser_spark.textops.normalize import normalize_basic, normalize_token

# Generic administrative/location filler tokens (normalized space) that get
# absorbed around a matched component span. Data parity: inexus_parser.py:38-79.
GENERIC_LOCATION_TOKENS: frozenset[str] = frozenset({
    "phuong", "p", "quan", "q", "huyen", "h", "thi", "tran", "xa", "tx", "tt",
    "tinh", "tp", "thanh", "pho", "thixa", "thitran", "thanhpho",
    "khu", "khuvuc", "khupho", "kp", "thon", "thonxom", "xom", "ap", "to",
    "todanpho", "ward", "district", "city", "province", "town", "commune",
    "village", "hamlet", "street", "road", "d", "w",
})

_WORD = re.compile(r"\b\w+\b", re.UNICODE)
_PUNCT_RUN = re.compile(r"[,\.;:]+\s*")
_SPACE_RUN = re.compile(r"\s+")
_TRAILING_VIETNAM = re.compile(r"(?i)\bvi\S*t[\s-]*nam\b\.?$")
_STRIP_CHARS = " ,;.-"


def component_signature(component: Optional[str]) -> tuple[list[list[str]], set[str]]:
    """Token-sequence variants a component can appear as in free text.

    Returns ``(sequences, tokens)``: the normalized word sequence, its glued
    form, and (when ≥2 words) the initials plus ``tp``-prefixed initials —
    e.g. ``"Hồ Chí Minh"`` → ``[["ho","chi","minh"], ["hochiminh"], ["hcm"],
    ["tphcm"], ["tp","hcm"]]``.
    """
    sequences: list[list[str]] = []
    tokens: set[str] = set()
    if not component:
        return sequences, tokens
    std = normalize_basic(component)
    if not std:
        return sequences, tokens
    parts = [p for p in std.split() if p]
    if parts:
        sequences.append(parts)
        tokens.update(parts)
    glued = "".join(parts)
    if glued:
        sequences.append([glued])
        tokens.add(glued)
    initials = "".join(p[0] for p in parts if p)
    if len(initials) >= 2:
        sequences.append([initials])
        tokens.add(initials)
        sequences.append([f"tp{initials}"])
        tokens.add(f"tp{initials}")
        sequences.append(["tp", initials])
    return sequences, tokens


def extract_street(
    original: str,
    province: Optional[str],
    district: Optional[str],
    ward: Optional[str],
) -> str:
    """Remove matched-component spans from *original*; what's left is street."""
    if not original:
        return ""

    all_sequences: list[list[str]] = []
    for component in (province, district, ward):
        seqs, _ = component_signature(component)
        all_sequences.extend(seqs)
    if not all_sequences:
        return original.strip()

    spans = [(m.start(), m.end(), normalize_token(m.group(0))) for m in _WORD.finditer(original)]
    if not spans:
        return original.strip()
    n = len(spans)
    norms = [s[2] for s in spans]

    removed: set[int] = set()

    def mark(start: int, length: int) -> None:
        end = start + length
        if length <= 0 or end > n:
            return
        if any(not norms[i] for i in range(start, end)):
            return
        if length == 1 and norms[start].isdigit():
            prev_generic = start > 0 and norms[start - 1] in GENERIC_LOCATION_TOKENS
            next_generic = end < n and norms[end] in GENERIC_LOCATION_TOKENS
            if not (prev_generic or next_generic):
                return
        removed.update(range(start, end))
        i = start - 1
        while i >= 0 and norms[i] in GENERIC_LOCATION_TOKENS:
            removed.add(i)
            i -= 1
        i = end
        while i < n and norms[i] in GENERIC_LOCATION_TOKENS:
            removed.add(i)
            i += 1

    for seq in all_sequences:
        seq = [item for item in seq if item]
        k = len(seq)
        if k == 0:
            continue
        for start in range(n - k + 1):
            if all(norms[start + j] == seq[j] for j in range(k)):
                mark(start, k)

    # Drop trailing comma-segments made up entirely of generic/marked tokens.
    if n > 1:
        boundaries: list[tuple[int, int]] = []
        seg_start = 0
        for m in re.finditer(",", original):
            boundaries.append((seg_start, m.start()))
            seg_start = m.start() + 1
        boundaries.append((seg_start, len(original)))

        seg_tokens: list[list[int]] = [[] for _ in boundaries]
        for idx, (tok_start, _end, _norm) in enumerate(spans):
            for seg_idx, (lo, hi) in enumerate(boundaries):
                if lo <= tok_start < hi:
                    seg_tokens[seg_idx].append(idx)
                    break
        for seg_idx, idx_list in enumerate(seg_tokens):
            if seg_idx == 0 or not idx_list:
                continue
            touched = any(
                norms[i] in GENERIC_LOCATION_TOKENS or i in removed for i in idx_list
            )
            if not touched:
                continue
            if all(norms[i] in GENERIC_LOCATION_TOKENS or i in removed for i in idx_list):
                removed.update(idx_list)

    if not removed:
        return original.strip()

    keep = bytearray(b"\1") * len(original)
    for idx in removed:
        lo, hi, _ = spans[idx]
        for pos in range(lo, hi):
            keep[pos] = 0
    street = "".join(ch for pos, ch in enumerate(original) if keep[pos])
    street = _PUNCT_RUN.sub(" ", street)
    street = _SPACE_RUN.sub(" ", street).strip(_STRIP_CHARS)
    if street:
        street = _TRAILING_VIETNAM.sub("", street).strip(_STRIP_CHARS)
    return street.strip()
