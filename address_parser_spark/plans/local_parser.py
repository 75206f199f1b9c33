"""Single-string parser facade — the reference ``AddressParser.process``
API surface (fuzz/inexus_parser.py:133-466), backed by the exact same pure
functions the distributed kernel runs (functions.udfs.resolve_one):
normalize → detect → probe → cap → Dice gate → score → argmax → repair
cascade → street extraction.

Useful for (a) the golden-450 parity tests against the reference's own test
set, (b) driver-side spot checks, (c) parity-by-construction between the
Spark pipeline and a per-string call — they share every line of logic.
"""

from __future__ import annotations

from typing import Optional

from address_parser_spark.gazetteer.nodes import (
    alias_registries,
    build_nodes,
    build_repair_state,
)
from address_parser_spark.gazetteer.synth import Gazetteer


class LocalParser:
    """process(text) → the reference's result dict shape (names + codes)."""

    def __init__(self, gaz: Gazetteer):
        from address_parser_spark.functions.udfs import _alias_registries, build_resolver_state

        nodes = build_nodes(gaz)
        self._state = build_resolver_state(nodes, build_repair_state(gaz, nodes))
        self._reg_p, self._reg_d, self._reg_w = _alias_registries(alias_registries(gaz))
        self._score_memo: dict = {}
        self._boost_memo: dict = {}

    def process(self, text: str) -> dict:
        from address_parser_spark.functions.udfs import resolve_one
        from address_parser_spark.textops.detect import detect_by_prefix
        from address_parser_spark.textops.ngrams import char_ngrams
        from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic

        std = normalize_advanced(text)
        basic = normalize_basic(text)
        grams = char_ngrams(std)  # resolve_one dedups; ranking counts distinct grams
        det_p, det_d, det_w = detect_by_prefix(basic, self._reg_p, self._reg_d, self._reg_w)
        from address_parser_spark.functions.udfs import partial_flag

        row = resolve_one(
            self._state, self._score_memo, self._boost_memo,
            text, std, basic, grams, det_p, det_d, det_w, partial_flag(std),
        )
        (nid, level, is_new, province, district, ward,
         p_code, d_code, w_code, cand_std, final, combined, dice,
         street, entity_std) = row

        def comp(name: Optional[str], code: Optional[str]) -> Optional[dict]:
            return {"name": name, "code": code} if name else None

        fmt = "new" if is_new is True else ("old" if is_new is False else "unknown")
        return {
            "province": comp(province, p_code),
            "district": comp(district, d_code),
            "ward": comp(ward, w_code),
            "street_address": street or "",
            "format": fmt,
            "is_new": is_new,
            "node_id": nid,
            "entity_std": entity_std,
        }
