"""Mention → canonical-entity resolution as a DataFrame program.

This is the reference's ``AddressParser.process`` (inexus_parser.py:133-466)
re-planned for Catalyst (SURVEY §3.1). Stages and their physical shape:

1. **extract+normalize** (narrow): trigger-scan extraction UDF → explode;
   advanced + basic normalization UDFs; JVM-side distinct 4-gram shingles;
   prefix-detection UDF (reference ``_detect_by_prefix`` :2685-2762) against
   broadcast alias registries. Each mention gets a compact 64-bit key ``mid``
   so downstream shuffles move longs, not strings.
2. **blocking join** (shuffle on ``mid``): ``explode(grams)`` ⋈ broadcast
   inverted index → ``groupBy(mid, node_id).count()``. The exploded probe
   relation is deliberately two columns wide — at 10^12 documents the shuffle
   volume is (mentions × ~60 grams) × 16 bytes, the narrowest possible. The
   per-pair count IS the distinct-gram intersection (reference
   ``ngram_address_piece_list`` :2670-2680), so Dice (gate ≥0.4, :2824-2827)
   is computed JVM-side BEFORE any Python scoring — the staged predicate
   Catalyst cannot reorder around an opaque UDF (SURVEY §4).
3. **score** (same ``mid`` partitioning, exchange reuse): top-K cap
   (TOPK=400, :114) with deterministic tiebreak, broadcast node attributes,
   Arrow-batched ratio/partial/WRatio blend + component boosts
   (:2855-2912).
4. **argmax**: ``max_by`` over the reference's lexicographic sort key
   (final, combined, specificity, name length; :2926-2934), min-node_id tie.
   One hash agg — no sort, no window.

Skew: gram postings fan out ≤ nodes-per-gram (bounded by the catalog, not the
corpus); hot mentions (identical address strings across pages) stay separate
``mid``s and thus spread. AQE skew-join + coalesce mop up residuals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from address_parser_spark.functions.columns import char_ngrams_col, dice_col
from address_parser_spark.functions.udfs import (
    candidate_score_udf,
    make_extract_features_udf,
    street_and_entity_udf,
)

DICE_GATE = 0.4
TOPK_CANDIDATES = 400
SCORE_CANDIDATES = 120  # reference's max_candidates slice (inexus_parser.py:2878)
PARTIAL_MASS_TOP_N = 5
PARTIAL_MASS_THRESHOLD = 12


def extract_normalize(pages: DataFrame, registries: dict[str, list[str]] | None = None,
                      lang: str = "vi", carry_cols: list[str] | None = None,
                      html_col: str = "html") -> DataFrame:
    """pages → one row per extracted mention: normalized forms, shingles,
    detected components, compact key. Narrow — no shuffle; the scan reads only
    (url, text, lang) plus any ``carry_cols`` (e.g. the event-time column for
    the streaming path).

    When the frame carries an ``html`` column, pages whose ``text`` is
    null/empty take a branch whose fused UDF FIRST extracts text from the
    markup (``make_extract_features_udf(from_html=True)``). Deliberately a
    filtered two-branch union, NOT ``when(need, udf(html))``: Catalyst
    extracts Python UDFs out of CASE branches into an unconditional
    ArrowEvalPython projection, so the ``when`` shape would ship EVERY
    page's html bytes through Arrow. With the union, texted rows never ship
    html bytes to Python, and each branch plans exactly ONE ArrowEvalPython:
    a separate html→text UDF chained in front of the extract UDF put two
    concurrent Python workers per task slot on the miss branch (and ~0.8 s
    of pure overhead at the 1200-page bench even when the miss branch was
    empty)."""
    regs = registries or {"province": [], "district": [], "ward": []}
    features = make_extract_features_udf(regs, spark=pages.sparkSession)
    base = pages.filter(F.col("lang") == lang)
    carry = list(carry_cols or [])
    if html_col in pages.columns:
        features_html = make_extract_features_udf(
            regs, spark=pages.sparkSession, from_html=True
        )
        need = F.col("text").isNull() | (F.col("text") == "")
        exploded = (
            base.filter(~need)
            .select("url", *carry, F.explode(features(F.col("text"))).alias("f"))
            .unionByName(
                base.filter(need)
                .select("url", *carry, F.explode(features_html(F.col(html_col))).alias("f"))
            )
        )
    else:
        exploded = base.select(
            "url", *carry, F.explode(features(F.col("text"))).alias("f")
        )
    return (
        exploded
        .select(
            "url",
            *(carry_cols or []),
            F.col("f.mention").alias("mention"),
            F.col("f.std").alias("std"),
            F.col("f.std_basic").alias("std_basic"),
            F.struct(
                F.col("f.det_p").alias("det_p"),
                F.col("f.det_d").alias("det_d"),
                F.col("f.det_w").alias("det_w"),
            ).alias("det"),
            F.col("f.partial").alias("partial_flag"),
        )
        # DISTINCT gram set: both candidate ranking (reference iterates
        # ``set(input_ngram_list)``, :2674-2676) and Dice (:2812-2824) consume
        # distinct grams; the within-input multiplicity signal (partial flag)
        # is already folded in by the extract UDF.
        .withColumn("grams", char_ngrams_col(F.col("std"), distinct=True))
        .withColumn("n_in", F.size("grams"))
        .withColumn("mid", F.xxhash64("url", "mention"))
    )


def block_candidates(mentions: DataFrame, index_df: DataFrame) -> DataFrame:
    """Blocking join on the narrowest possible probe relation (mid, gram).

    ``grams`` is distinct per mention, so ``inter_rank`` is the count of
    DISTINCT shared grams vs the node's alias-union gram set (the reference
    iterates ``set(input_ngram_list)``, inexus_parser.py:2674-2676); ``inter``
    restricts to primary-form grams (the Dice numerator, :2812-2824)."""
    probe = mentions.select("mid", F.explode("grams").alias("g"))
    # ``inter`` as a CONDITIONAL COUNT, not count_distinct: the join output
    # is already unique per (mid, node_id, g) — mention grams are distinct by
    # construction (extract_normalize char_ngrams_col(distinct=True)) and the
    # index holds one posting per (g, node_id) (nodes' ``ngrams`` is a set,
    # gazetteer/nodes.py) — so the values are equal, but count_distinct plans
    # a two-phase expand aggregation that re-shuffles the full probe-join
    # output with the gram string as part of the key (measured: the final
    # aggregation stage owned ~45% of the relational resolve's 310 CPU-s at
    # 20k pages; the windows the round-5 verdict blamed were ~0).
    return (
        probe.join(F.broadcast(index_df), "g")
        .groupBy("mid", "node_id")
        .agg(
            F.count(F.lit(1)).alias("inter_rank"),
            F.count(F.when(F.col("is_primary"), F.lit(1))).alias("inter"),
            F.first("n_primary").alias("n_primary"),
        )
    )


EARLY_BREAK = 200  # reference scan break (inexus_parser.py:2829-2831)


def _validate_det_cols(mention_attrs: DataFrame, inv: dict) -> DataFrame:
    """Reference ``_validate_detected_value`` (inexus_parser.py:1900-1905): a
    detected alias only counts when it exists as an invert-map key at its
    level. The fused kernel (resolve_one) and the repair UDF both nullify
    unregistered aliases; the relational strategy must see the SAME nullified
    det columns before prioritization, component boosts, the unsupported
    penalty, and the new-format bonus — otherwise the two strategies can pick
    different winners for the same mention. JVM-side: broadcast left-join
    against each level's key set (short strings, catalog-bounded) — no
    Python on this path."""
    from pyspark.sql import types as T

    spark = mention_attrs.sparkSession
    schema = T.StructType([T.StructField("_vk", T.StringType())])
    for col, level in (("det_p", "province"), ("det_d", "district"), ("det_w", "ward")):
        keys = spark.createDataFrame([(k,) for k in inv[level]], schema)
        mention_attrs = (
            mention_attrs
            .join(F.broadcast(keys), F.col(col) == F.col("_vk"), "left")
            .withColumn(col, F.col("_vk"))
            .drop("_vk")
        )
    return mention_attrs


def score_candidates(cands: DataFrame, mentions: DataFrame, nodes_df: DataFrame,
                     inv: dict | None = None) -> DataFrame:
    """Dice gate (with the reference's early break) → prefilter prioritization
    → 120-cap → broadcast node attrs → Arrow scoring + boosts.

    ``inv`` is the per-level alias→node-ids invert map
    (functions.udfs.build_resolver_state()["inv"]); when provided, candidates
    agreeing with ALL detected components are prioritized before the
    120-candidate slice exactly like the reference (:2836-2850), and detected
    aliases missing from the invert map are nullified first
    (``_validate_det_cols`` — parity with the fused kernel)."""
    mention_attrs = mentions.select(
        "mid", "mention", "std", "std_basic", "n_in",
        F.col("det.det_p").alias("det_p"),
        F.col("det.det_d").alias("det_d"),
        F.col("det.det_w").alias("det_w"),
        F.col("partial_flag").alias("partial_input"),
    )
    if inv is not None:
        mention_attrs = _validate_det_cols(mention_attrs, inv)

    # AGGREGATE top-K after a WindowGroupLimit-bounded cap. The previous
    # formulation ran three ranked-window passes (row_number cap, per-mid
    # min for the early break, prioritized re-rank) over the pre-cap
    # candidate relation — the biggest intermediate in the whole pipeline
    # (~500 candidates per mention), each pass a full sort of it, plus a
    # corpus×catalog join with the mention attrs BEFORE any cap. Now ONE
    # window pass performs only the reference's top-400 cap — Spark plans
    # the ``row_number() <= K`` filter as WindowGroupLimit, which keeps a
    # bounded per-group heap on the MAP side of the exchange (so a generic
    # mention matching half a huge catalog neither ships nor buffers more
    # than 400 candidates — collect_list state is ≤400 structs per mention
    # by construction, never catalog-sized), and Dice gate + early break +
    # prioritization + 120-slice become in-array expressions over the
    # collected array: zero further window passes, and the mention-attrs
    # join happens at one row per mention.
    by_hits = Window.partitionBy("mid").orderBy(F.desc("inter_rank"), F.asc("node_id"))
    capped = (
        cands
        # Pre-gate cap: the reference keeps only the 400 most-hit nodes
        # from the inverted-index counter BEFORE the Dice gate
        # (inexus_parser.py:114, 2680). Deterministic tiebreak on node_id.
        .withColumn("rk_pre", F.row_number().over(by_hits))
        .filter(F.col("rk_pre") <= TOPK_CANDIDATES)
    )
    # collect_list rides the window's exchange (same mid clustering); the
    # array is assembled pre-sorted by rank via array_sort on the leading
    # rk_pre field.
    agg = capped.groupBy("mid").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("rk_pre").alias("rk_pre"),
                    F.col("node_id").alias("node_id"),
                    F.col("inter").alias("inter"),
                    F.col("n_primary").alias("n_primary"),
                )
            )
        ).alias("_cs")
    )
    ranked = (
        agg.join(
            mention_attrs.select("mid", "n_in", "partial_input",
                                 "det_p", "det_d", "det_w"),
            "mid",
        )
        .withColumn(
            "_wd",
            F.transform(
                F.col("_cs"),
                lambda c: F.struct(
                    c["rk_pre"].alias("rk_pre"),
                    c["node_id"].alias("node_id"),
                    c["inter"].alias("inter"),
                    dice_col(c["inter"], F.col("n_in"), c["n_primary"]).alias("dice"),
                ),
            ),
        )
        # Early break: the reference stops scanning at the first candidate
        # FAILING the gate at position ≥ 200 (:2829-2831) — everything past
        # that position is dropped, passing or not.
        .withColumn(
            "_fail_cut",
            F.array_min(
                F.transform(
                    F.filter(
                        F.col("_wd"),
                        lambda c: (c["dice"] < DICE_GATE)
                        & (c["rk_pre"] >= EARLY_BREAK),
                    ),
                    lambda c: c["rk_pre"],
                )
            ),
        )
        .withColumn(
            "_gated",
            F.filter(
                F.col("_wd"),
                lambda c: (c["dice"] >= DICE_GATE)
                & (F.col("_fail_cut").isNull() | (c["rk_pre"] < F.col("_fail_cut"))),
            ),
        )
    )
    if inv is not None:
        from address_parser_spark.functions.udfs import make_prioritized_arr_udf

        prio = make_prioritized_arr_udf(inv, spark=cands.sparkSession)
        # Detected-component prefilter reordering (:2836-2850): prioritized
        # candidates move ahead of the 120-slice, original rank order kept
        # within each class. zip_with pairs each gated candidate with its
        # flag; sorting by (NOT prio, rk_pre) is the stable reorder.
        ranked = ranked.withColumn(
            "_prio",
            prio(
                F.col("det_p"), F.col("det_d"), F.col("det_w"),
                F.transform(F.col("_gated"), lambda c: c["node_id"]),
            ),
        ).withColumn(
            "_final",
            F.array_sort(
                F.zip_with(
                    F.col("_gated"),
                    F.col("_prio"),
                    lambda c, p: F.struct(
                        (~p).alias("np"),
                        c["rk_pre"].alias("rk_pre"),
                        c["node_id"].alias("node_id"),
                        c["inter"].alias("inter"),
                        c["dice"].alias("dice"),
                    ),
                )
            ),
        )
    else:
        ranked = ranked.withColumn("_final", F.col("_gated"))
    gated_ids = (
        ranked.select(
            "mid", "partial_input",
            F.explode(F.slice(F.col("_final"), 1, SCORE_CANDIDATES)).alias("c"),
        )
        .select(
            "mid",
            F.col("c.node_id").alias("node_id"),
            F.col("c.inter").alias("inter"),
            F.col("c.dice").alias("dice"),
            "partial_input",
        )
    )
    gated = (
        gated_ids.join(mention_attrs.drop("n_in", "partial_input"), "mid")
        # Distinct-std memoization, the relational analog of the broadcast
        # kernel's trick: equal stds have IDENTICAL gram sets, hence
        # identical candidate sets and (std, cand_std) score pairs, and
        # candidate_score_udf memoizes (std, cand_std, flag) per Arrow
        # batch — but only if equal stds share a batch. Hash-by-mid scatter
        # gives the memo ~zero hits; an explicit std repartition (a count
        # AQE never coalesces — this stage is python-CPU-bound, tiny in
        # bytes) turns n street-variant duplicates of one entity into one
        # scored set + (n-1) memo hits. Output-identical by construction;
        # pinned by tests/test_strategy_parity.py.
        .repartition(
            2 * cands.sparkSession.sparkContext.defaultParallelism, F.col("std")
        )
    )

    node_side = F.broadcast(
        nodes_df.select(
            "node_id", "level", "is_new", "province", "district", "ward",
            "province_code", "district_code", "ward_code",
            "p_std", "d_std", "w_std",
            F.col("std_name").alias("cand_std"),
        )
    )
    return (
        gated
        .join(node_side, "node_id")
        # explode(array(udf)): generator boundary — downstream consumers
        # (final_score, argmax keys) reference sc.* repeatedly and would
        # otherwise re-plant the scoring UDF into chained ArrowEvalPython
        # nodes (see the broadcast-kernel note in resolve_mentions)
        .select(
            "*",
            F.explode(
                F.array(
                    candidate_score_udf(
                        F.col("std"), F.col("std_basic"), F.col("cand_std"),
                        F.coalesce("partial_input", F.lit(False)),
                        F.col("det_p"), F.col("det_d"), F.col("det_w"),
                        F.col("p_std"), F.col("d_std"), F.col("w_std"),
                    )
                )
            ).alias("sc"),
        )
        .withColumn(
            "comps",
            F.col("province").isNotNull().cast("int")
            + F.col("district").isNotNull().cast("int")
            + F.col("ward").isNotNull().cast("int"),
        )
        .withColumn("has_ward", F.col("ward").isNotNull().cast("int"))
        .withColumn(
            "final_score",
            F.col("sc.combined") + F.col("sc.boost")
            + F.col("comps") * 1.5 + F.col("has_ward") * 1.0 + F.col("dice") * 10.0
            # district-less input prefers the new-format reading (see the
            # fused kernel in functions/udfs.py — both paths must agree)
            + F.when(
                F.col("is_new") & F.col("det_d").isNull(), F.lit(1.5)
            ).otherwise(F.lit(0.0)),
        )
    )


def pick_winners(scored: DataFrame) -> DataFrame:
    """Argmax per mention over the reference's sort key — one ``max_by`` agg."""
    order_key = F.struct(
        F.col("final_score").alias("s1"),
        F.col("sc.combined").alias("s2"),
        F.col("comps").alias("s3"),
        F.col("has_ward").alias("s4"),
        F.length("cand_std").alias("s5"),
        (-F.col("node_id")).alias("s6"),
    )
    payload = F.struct(
        "node_id", "level", "is_new", "province", "district", "ward",
        "province_code", "district_code", "ward_code", "cand_std",
        "final_score", F.col("sc.combined").alias("combined"), "dice",
    )
    return (
        scored.groupBy("mid")
        .agg(
            F.max_by(payload, order_key).alias("w"),
            F.first("mention").alias("mention"),
            F.first("std").alias("std"),
        )
        .select("mid", "mention", "std", "w.*")
    )


def _with_format_and_key(winners: DataFrame) -> DataFrame:
    """Format tag + canonical entity key (pure column logic, shared by both
    resolve strategies)."""
    return (
        winners
        .withColumn(
            "format",
            F.when(F.col("is_new") == True, F.lit("new"))  # noqa: E712 (tri-state)
            .when(F.col("is_new") == False, F.lit("old"))  # noqa: E712
            .otherwise(F.lit("unknown")),
        )
        .withColumn(
            "entity_key",
            F.concat_ws(
                "|",
                F.coalesce("province_code", F.lit("")),
                # New-format entities have NO district level; the repair
                # cascade still infers one for display parity with the
                # reference, but which old-catalog twin it picks varies with
                # the mention text — keying on it would split the entity.
                F.when(F.col("is_new") == True, F.lit(""))  # noqa: E712
                .otherwise(F.coalesce("district_code", F.lit(""))),
                F.coalesce("ward_code", F.lit("")),
                F.coalesce(F.col("is_new").cast("string"), F.lit("unknown")),
            ),
        )
    )


def attach_street(winners: DataFrame) -> DataFrame:
    """Row-local street extraction + format tag + entity key (steps 7-8).

    ``entity_std`` is the normalized mention with the street tokens removed —
    the entity-bearing portion. Blocking keys and pair scoring downstream run
    on it (two mentions of the same ward with different street addresses must
    land in the same block); computed as a JVM array_except, no extra UDF pass
    beyond normalizing the extracted street.
    """
    return _with_format_and_key(
        winners
        # explode(array(udf)): generator boundary against python-UDF
        # re-evaluation by the two field extractions (see resolve_mentions)
        .select(
            "*",
            F.explode(
                F.array(
                    street_and_entity_udf(
                        F.col("mention"), F.col("std"),
                        F.col("province"), F.col("district"), F.col("ward"),
                        F.col("is_new"),
                    )
                )
            ).alias("se"),
        )
        .withColumn("street_address", F.col("se.street_address"))
        .withColumn("entity_std", F.col("se.entity_std"))
        .drop("se")
    )


def resolve_mentions(
    pages: DataFrame,
    nodes_df: DataFrame,
    index_df: DataFrame,
    registries: dict[str, list[str]] | None = None,
    strategy: str = "broadcast",
    nodes: list[dict] | None = None,
    repair_state: dict | None = None,
) -> DataFrame:
    """Full extract → dedup → resolve (block/gate/score/argmax/street)
    pipeline; winners joined back onto the (url, mention) fact rows.

    **Distinct-mention resolution.** The entire resolve is a pure function of
    the mention TEXT (the reference's ``process()`` is a per-string function,
    inexus_parser.py:133), so the expensive stages run once per DISTINCT
    mention. On web corpora the same address string repeats across pages
    (boilerplate footers, mirrored listings); the back-join keys on the raw
    string (collision-proof).

    **Strategies** (same output, asserted equal in tests):

    - ``broadcast`` (default): the gazetteer + inverted index is a BROADCAST
      DIMENSION (tens of MB); one fused Arrow kernel per distinct mention
      probes it map-side (functions.udfs.make_resolve_udf). Zero shuffles
      between extraction and the fact join — the shape SURVEY §3.2 calls
      "embarrassingly parallel". The relational form shuffled corpus×catalog
      candidate rows (~90% 1-shared-gram noise, measured 28M rows for 36k
      mentions) through a groupBy and three window passes.
    - ``relational``: blocking equi-join against the exploded posting index +
      JVM Dice gate + windowed caps + scoring UDF + max_by argmax. The right
      strategy when the reference catalog is too large to broadcast —
      measured 7.1× slower than the broadcast kernel at equal width
      (407 vs 2,910 pages/sec, 150k pages @ 16 cores; BASELINE.md
      §"Final-code stage attribution"), the price of the candidate shuffle.

    ``mentions`` feeds both the distinct projection and the final fact join —
    checkpointed EAGERLY: AQE runs query-stage futures concurrently, and a
    lazy checkpoint referenced by several in-flight futures is recomputed by
    each of them (measured: the extract UDF chain re-executing up to 4× with
    AQE-dependent variance).
    """
    mentions = extract_normalize(pages, registries).localCheckpoint(eager=True)

    # dropDuplicates, not a pre-repartitioned groupBy: a round-6 variant
    # fused the dedup onto the kernel's std exchange (repartition(std) →
    # groupBy(std, mention)), which saved one distinct-mention-sized
    # exchange but shipped EVERY occurrence through the std exchange at
    # full width — dropDuplicates' map-side partial aggregate ships at most
    # one copy per input partition, which is the winning shape on exactly
    # the boilerplate-heavy corpora this dedup exists for (the same mention
    # repeated thousands of times across pages). Measured equal at the
    # 1200-page bench; the partial-agg shape is the scale-correct one.
    spark = pages.sparkSession
    uniq = (
        mentions
        .dropDuplicates(["mention"])
        .select(
            F.xxhash64("mention").alias("mid"),
            "mention", "std", "std_basic", "det", "grams", "n_in", "partial_flag",
        )
    )

    if nodes is None:
        nodes = [r.asDict() for r in nodes_df.collect()]

    if strategy == "broadcast":
        from address_parser_spark.functions.udfs import build_resolver_state, make_resolve_udf

        resolve = make_resolve_udf(
            build_resolver_state(nodes), spark=spark, repair_state=repair_state
        )
        winners = (
            uniq
            # Distinct mentions sharing a normalized std (street-level
            # variants of one entity) score against the same candidates; the
            # kernel memoizes (std, cand_std) per worker process, so
            # co-locating equal stds makes the memo hit rate match a global
            # memo (measured 1.75×→~6× effective speedup at 8 workers).
            # EXPLICIT partition count: this stage is python-CPU-bound but
            # tiny in bytes — AQE's byte-driven coalescing would serialize it
            # (an explicit repartition count is never AQE-coalesced).
            .repartition(2 * spark.sparkContext.defaultParallelism, F.col("std"))
            # explode(array(udf)) plants a GENERATOR between the kernel and
            # the downstream filter/projection: without it Catalyst's python-
            # UDF extraction materializes TWO chained ArrowEvalPython nodes
            # (one for the filter predicate, one for the projection) and every
            # row pays the kernel twice — measured 11 s → 34 s on the 40k-page
            # profile, the single largest serial term in the scaling story.
            .select(
                "mention", "std",
                F.explode(
                    F.array(
                        resolve(
                            F.col("mention"), F.col("std"), F.col("std_basic"),
                            F.col("grams"),
                            F.col("det.det_p"), F.col("det.det_d"), F.col("det.det_w"),
                            F.coalesce("partial_flag", F.lit(False)),
                        )
                    )
                ).alias("w"),
            )
            .filter(
                F.col("w.node_id").isNotNull()
                | F.col("w.province").isNotNull()
                | F.col("w.district").isNotNull()
                | F.col("w.ward").isNotNull()
            )
            .select("mention", "std", "w.*")
        )
        winners = _with_format_and_key(winners)
        # Isolate the python-CPU-bound kernel into its own job: embedded
        # in the fact-join plan it inherits that plan's (byte-driven)
        # parallelism decisions — measured 52s vs 11s for the identical
        # kernel at local[32]. The frame is distinct-mention-sized.
        #
        # The broadcast-gate metrics (row count + serialized-byte
        # estimate, consumed below) ride on THIS materialization via
        # observe — the gate previously ran its own full-frame
        # aggregation job after the checkpoint, one more driver barrier
        # in the serial floor.
        from pyspark.sql import Observation

        gate_obs = Observation("winners_gate")
        winners = winners.observe(
            gate_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                sum(
                    # octet_length: UTF-8 BYTES, not code points —
                    # accented Vietnamese text is ~1.5-2× its character
                    # count on the wire.
                    (F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
                     + F.lit(8)
                     for c in winners.columns),
                    F.lit(0),
                )
            ).alias("b"),
        ).localCheckpoint(eager=True)
    else:
        from address_parser_spark.functions.udfs import build_resolver_state

        uniq = uniq.localCheckpoint(eager=True)
        inv = build_resolver_state(nodes)["inv"]
        cands = block_candidates(uniq, index_df)
        scored = score_candidates(cands, uniq, nodes_df, inv=inv)
        if repair_state is None:
            winners = attach_street(pick_winners(scored)).drop("mid")
        else:
            from address_parser_spark.functions.udfs import make_repair_street_udf

            repair = make_repair_street_udf(repair_state, spark=spark)
            extras = uniq.select(
                "mention", "std_basic",
                F.col("det.det_p").alias("det_p"),
                F.col("det.det_d").alias("det_d"),
                F.col("det.det_w").alias("det_w"),
            )
            # LEFT join: mentions with no surviving candidate still run the
            # cascade from an empty winner (reference process() starts from
            # an empty AddressNode) — exact parity with the fused kernel.
            joined = extras.join(
                pick_winners(scored).drop("mid", "std"), "mention", "left"
            ).join(uniq.select("mention", "std"), "mention")
            # explode(array(udf)): generator boundary so the downstream
            # filter/expansion never duplicates the repair UDF into chained
            # ArrowEvalPython nodes (same trap as the broadcast kernel above)
            repaired = joined.select(
                "*",
                F.explode(
                    F.array(
                        repair(
                            F.col("mention"), F.col("std"), F.col("std_basic"),
                            F.col("det_p"), F.col("det_d"), F.col("det_w"),
                            F.col("province"), F.col("district"), F.col("ward"),
                            F.col("province_code"), F.col("district_code"),
                            F.col("ward_code"), F.col("is_new"),
                        )
                    )
                ).alias("rs"),
            )
            winners = (
                repaired
                .drop("province", "district", "ward",
                      "province_code", "district_code", "ward_code", "is_new",
                      "std_basic", "det_p", "det_d", "det_w")
                .select("*", "rs.*")
                .drop("rs")
                .filter(
                    F.col("node_id").isNotNull()
                    | F.col("province").isNotNull()
                    | F.col("district").isNotNull()
                    | F.col("ward").isNotNull()
                )
            )
            winners = _with_format_and_key(winners)

    # Fact join: winners is DISTINCT-MENTION-sized (the whole point of the
    # dedup), so when small enough it ships as a broadcast and the fact table
    # never shuffles at all. Otherwise the join keys on xxhash64(mention)
    # FIRST — partition routing and sort comparisons on an 8-byte long, with
    # the mention string kept as an equality conjunct (collision-proof).
    fact = mentions.select("mid", "url", "mention")
    broadcast_winners = False
    if strategy == "broadcast":
        # Gate on ESTIMATED BYTES, not rows: winners carries 15+ string
        # columns, so a row-count cap alone could ship a multi-GB broadcast
        # to the driver and every executor (OOM on clusters whose executors
        # are smaller than the local driver). EXACT byte sum over the whole
        # (checkpointed, ≤2M-row) frame, kept under ~200 MB serialized —
        # well inside executor memory even at HashedRelation's ~2-4×
        # in-memory expansion. A limit()-sample average would read only the
        # first partition: heavy-tailed mention lengths concentrated
        # elsewhere could slip a multi-hundred-MB broadcast past an average
        # extrapolated from short rows.
        # ZERO extra jobs: both metrics were observed on the checkpoint
        # materialization above (the gate previously ran its own
        # driver-blocking full-frame aggregation).
        gate = gate_obs.get
        n_winners = int(gate["n"] or 0)
        total_bytes = int(gate["b"] or 0)
        broadcast_winners = (
            0 < n_winners <= 2_000_000 and total_bytes <= 200 * 1024 * 1024
        )
    fact_k = fact.withColumn("_mk", F.xxhash64("mention"))
    winners_k = winners.withColumn("_mk", F.xxhash64("mention"))
    if broadcast_winners:
        winners_k = F.broadcast(winners_k)
    return fact_k.join(winners_k, ["_mk", "mention"]).drop("_mk")
