"""Mention↔mention blocking keys and string-identity edges.

The pair stage of the north_star: blocking keys = sorted-token key + MinHash-
LSH band keys over char-4-gram shingles (both JVM-side, functions.columns),
then ``equality_edges`` joins two mentions sharing a key when their ``canon``
(sorted token set) AND ``digit_sig`` (role-tagged digits) agree — the edges
connected components clusters on. No similarity scores are computed: looser
rules (overlap-coefficient ≥1, Jaro-Winkler on sorted strings) were tried and
cratered precision at the F1≥0.99 bar.

Scale levers, applied in order:
- **block-size cap**: buckets larger than ``max_block`` are dropped before
  any pair exists (pairing is quadratic in bucket size; classic ER practice
  and the moral equivalent of the reference's TOPK cap,
  inexus_parser.py:114). Dropped buckets are counted by ``dropped_blocks``.
- **small rows**: each member reaches the pair generator as an
  (identity-hash, mid) struct, and only equal-hash combinations are emitted
  — non-matching pairs never materialize.
- **salting is unnecessary here by construction**: capped buckets bound the
  per-key fan-out, so no reducer sees more than ``max_block²`` rows; AQE skew
  handling covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from address_parser_spark.functions.columns import (
    canonical_tokens_col,
    char_ngrams_col,
    gram_hash_col,
    lsh_band_keys_from_hashes,
)

DEFAULT_MAX_BLOCK = 64


def with_blocking_keys(mentions: DataFrame) -> DataFrame:
    """Attach ``canon`` (entity-canonical string) and ``keys array<string>``.

    Four key families per mention, all JVM-side:
    - ``tok#``  sorted non-generic distinct tokens, joined — exact-ish key;
    - ``glue#`` the same tokens glued — catches token-splitting variants
      ("nhuanthanh" vs "nhuan thanh" after sorting);
    - ``init#`` token-initial skeleton — survives glue/split AND single-token
      drops; collision-prone, but oversized blocks are capped downstream;
    - ``b#``    MinHash-LSH band keys over char-4-grams of the canonical
      string (10 bands × 3 rows: ≥98% hit probability at Jaccard 0.7, ~25%
      at 0.3) — fuzzy recall for typos / partial token agreement.
    """
    # KEY tokens drop generic unit words (recall: typed vs untyped renderings
    # share keys); CANON keeps the full token set (precision: generic words
    # like "thanh"/"xa" are also real name syllables — "Thạnh Xá" must not
    # collapse onto a sibling ward). Keys may over-group; edges must not.
    #
    # The token pipeline is staged through real columns: a Column is an
    # expression TREE, so composing the canonical-tokens (or ngram-hash)
    # expression directly into the 30 per-band minhash lambdas pastes and
    # re-evaluates it once PER BAND PER ROW (measured 46 s vs 0.5 s on 4.7k
    # rows for the tokens; ~180 CPU-s for the ngram generation at 11k rows).
    # Digit tokens come from the FULL normalized mention in ORIGINAL order:
    # "phuong 3 quan 10" vs "phuong 10 quan 3" share a sorted token set but
    # are different entities, and when street extraction leaves digits behind
    # the entity_std can degenerate (to just the province) — the edge rule
    # requires digit_sig equality on top of canon equality.
    staged = (
        mentions
        .withColumn("_key_toks", canonical_tokens_col(F.col("entity_std")))
        .withColumn("_key_str", F.concat_ws(" ", F.col("_key_toks")))
        .withColumn("_key_ghash", gram_hash_col(char_ngrams_col(F.col("_key_str"))))
        .withColumn(
            "canon",
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("entity_std"), " ")))),
        )
        .withColumn(
            "digit_sig",
            # must-match signature for string edges: the resolved FORMAT tag
            # (a post-merger new-format ward and its old-format twin share
            # every component name — only is_new separates the entities) plus
            # ROLE-TAGGED digits. Raw std digits are type-stripped, so
            # "quận 4 phường 12" and "phường 4, quận 12" carry the same digit
            # sequence and bridge two different entities; when the resolver
            # assigned components, their per-role digits disambiguate. Fully
            # unresolved mentions fall back to the std digit sequence (only
            # comparable against other unresolved mentions — the coalesced
            # role slots make the two shapes never collide).
            F.when(
                F.col("district").isNotNull() | F.col("ward").isNotNull(),
                F.concat_ws(
                    "|",
                    F.coalesce(F.col("format"), F.lit("?")),
                    F.lit("r"),
                    F.coalesce(F.col("district"), F.lit("")),
                    F.coalesce(F.col("ward"), F.lit("")),
                ),
            ).otherwise(
                F.concat_ws(
                    "|",
                    F.coalesce(F.col("format"), F.lit("?")),
                    F.lit("u"),
                    F.concat_ws(
                        " ",
                        F.filter(F.split(F.col("std"), " "), lambda t: t.rlike("^[0-9]+$")),
                    ),
                ),
            ),
        )
    )
    return (
        staged
        .withColumn(
            "keys",
            F.array_union(
                F.array(
                    F.concat(F.lit("tok#"), F.col("_key_str")),
                    F.concat(F.lit("glue#"), F.concat_ws("", F.col("_key_toks"))),
                    F.concat(
                        F.lit("init#"),
                        F.concat_ws("", F.transform(F.col("_key_toks"), lambda t: F.substring(t, 1, 1))),
                    ),
                ),
                lsh_band_keys_from_hashes(F.col("_key_ghash")),
            ),
        )
        .drop("_key_toks", "_key_str", "_key_ghash")
    )


def equality_edges(keyed: DataFrame, max_block: int = DEFAULT_MAX_BLOCK) -> DataFrame:
    """String-identity edges: within every block of at most ``max_block``
    members, each pair whose canon AND digit_sig are EQUAL, computed without
    materializing non-matching pairs.

    Decide with small rows: each member is reduced to (identity-hash, mid)
    where the hash is ``xxhash64(canon, digit_sig)``, blocks are sized by
    ``df`` (the count of ALL members of the key) before any member list
    exists, and the JVM pair generator emits only equal-hash combinations —
    the struct sort puts equal-hash members adjacent, so ``src < dst``
    orientation falls out of the array order. Duplicate emissions across
    shared keys are NOT deduped here: every consumer (connected_components)
    canonicalizes edges with a distinct already, so a per-pair dedup
    shuffle would buy nothing. The edge SET is pinned against a plain-Python
    string-equality reference by tests/test_pair_generation.py; 64-bit
    identity hashing is the same collision posture as ``mid`` itself
    (xxhash64 of url+mention).
    """
    from address_parser_spark.operators.dedup import _grouped_docs_bounded

    exploded = keyed.select(
        F.xxhash64(F.col("canon"), F.col("digit_sig")).alias("h"),
        F.col("mid"),
        F.explode("keys").alias("key"),
    )
    ms = F.col("ms")
    blocks = (
        _grouped_docs_bounded(
            exploded, "key", max_block, value=F.struct("h", "mid"), out="ms"
        )
        .filter(F.col("df") >= 2)
        .select("ms")
    )
    return (
        blocks.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ms,
                        lambda x, i: F.transform(
                            F.filter(
                                F.slice(ms, i + 2, F.size(ms)),
                                lambda y: y["h"] == x["h"],
                            ),
                            lambda y: F.struct(
                                x["mid"].alias("src"), y["mid"].alias("dst")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .filter(F.col("p.src") != F.col("p.dst"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
    )


def dropped_blocks(keyed: DataFrame, max_block: int = DEFAULT_MAX_BLOCK) -> DataFrame:
    """Oversized buckets excluded from pairing — surfaced for lineage metrics
    (no silent caps)."""
    exploded = keyed.select("mid", F.explode("keys").alias("key")).distinct()
    return (
        exploded.groupBy("key")
        .agg(F.count(F.lit(1)).alias("block_n"))
        .filter(F.col("block_n") > max_block)
    )
