"""Detected-alias validation inside the fused resolve kernel.

The reference only trusts a prefix-detected component when it exists as an
alias key at its level (``_validate_detected_value``, inexus_parser.py:
1900-1905); ``functions.udfs.resolve_one`` applies that rule inline before
prioritization, component boosts, the unsupported-component penalty, the
new-format bonus and the repair cascade. An unregistered alias must therefore
resolve exactly as if nothing had been detected at that level, while a
registered one is evidence that moves the result. Pure Python: no JVM.
"""

from __future__ import annotations

import pytest

from address_parser_spark.functions.udfs import build_resolver_state, partial_flag, resolve_one
from address_parser_spark.gazetteer.nodes import build_nodes, build_repair_state
from address_parser_spark.sources.pages import synth_pages_local
from address_parser_spark.textops.ngrams import char_ngrams
from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic

LEVELS = ("province", "district", "ward")
NONE = (None, None, None)
N_PAGES = 40


@pytest.fixture(scope="module")
def kernel(gaz):
    nodes = build_nodes(gaz)
    state = build_resolver_state(nodes, build_repair_state(gaz, nodes))
    _, golds = synth_pages_local(gaz, N_PAGES)
    mentions = sorted({g[1] for g in golds})
    assert len(mentions) >= 20
    # the kernel's per-worker memos: pure functions of their keys, so shared
    score_memo: dict = {}
    boost_memo: dict = {}

    def row(mention: str, det: tuple) -> tuple:
        std = normalize_advanced(mention)
        return resolve_one(
            state, score_memo, boost_memo,
            mention, std, normalize_basic(mention), char_ngrams(std), *det,
            partial_flag(std),
        )

    return state["inv"], mentions, row


def _unregistered(inv: dict, level: str) -> list[str]:
    """Aliases the kernel must ignore at ``level``: a made-up string, and
    aliases registered at the OTHER levels but not at this one."""
    out = ["khong co dia danh nay"]
    for other in LEVELS:
        if other != level:
            out += sorted(a for a in inv[other] if a not in inv[level])[:2]
    assert all(a not in inv[level] for a in out)
    return out


def _det(level: str, alias: str) -> tuple:
    return tuple(alias if lv == level else None for lv in LEVELS)


def test_unregistered_detected_alias_resolves_like_none(kernel):
    inv, mentions, row = kernel
    checked = 0
    for level in LEVELS:
        for alias in _unregistered(inv, level):
            for mention in mentions:
                assert row(mention, _det(level, alias)) == row(mention, NONE), (
                    level, alias, mention,
                )
                checked += 1
    assert checked >= 3 * 3 * 20


def test_registered_detected_alias_changes_the_row(kernel):
    """Non-vacuous: a registered alias IS evidence — the same mention with a
    registered alias at one level resolves differently than with none."""
    inv, mentions, row = kernel
    changed = {
        level
        for level in LEVELS
        for alias in sorted(inv[level])[:5]
        if any(row(m, _det(level, alias)) != row(m, NONE) for m in mentions)
    }
    assert changed == set(LEVELS)
