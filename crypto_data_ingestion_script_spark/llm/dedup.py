"""Deduplication operators (SURVEY §2.L): exact, MinHash+LSH near-dup,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

The scale architecture is the same for every near-dup variant: compute a
compact per-document signature with engine-native hashes (one scan, pure
expressions), band/bucket the signature, equi-join on bucket to generate
candidate pairs, then verify candidates exactly. Nothing is ever pairwise
over the full corpus — the only quadratic work is within buckets.

The pair-emitting variants first collapse documents with identical
comparison keys (shingle set, token set, block + head, vector) into one
group. Collapsing is exact because members of a group share every score:
whatever one member scores against another document, all of them do. So
candidate generation and verify run once per distinct group, and member
expansion afterwards gives the same output as member-grain work. The
shared steps are one helper each: ``_collapse`` (group + checkpoint),
``_shingle_sets`` / ``_token_sets`` (the two set builders),
``_minhash_bands``, ``_verify_set_pairs`` (the set-similarity verify,
scored by the caller), ``_within_pairs`` and ``_cross_pairs`` (member
expansion). Candidate generation stays with each operator: banding,
jaccard's symmetric prefix join, containment's one-sided prefix join,
the levenshtein block join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query
from .similarity import _DOT_SQL, cosine_pairs, cosine_sql, fetch_probes

def _tokens():
    return F.split(F.col("text"), " ")


#: Vocabulary-cardinality guard for the set-similarity joins' token->rank
#: dictionary. Below this many distinct tokens the dictionary is ranked
#: with a single-partition row_number window and BROADCAST to the
#: tokenize fact (summary-scale: 5M (tok, int) rows is tens of MB); above
#: it — a web-crawl corpus with hundreds of millions of distinct tokens —
#: both the window funnel and the driver-side broadcast build would blow
#: up, so the rank comes from ranking.global_row_number's two-pass range
#: plan and joins back by SHUFFLE. Both paths emit identical ranks
#: ((df, tok) is a total order); equivalence is property-tested and both
#: guard branches are plan-pinned in tests/test_token_rank.py.
VOCAB_BROADCAST_CAP = 5_000_000


def token_rank(tok: DataFrame, broadcast_cap: int | None = None):
    """Rarity-ranked integer keys for a ``(doc_id, tok)`` exploded token
    table: returns ``(rank_df[tok, r], strategy)`` where ``r`` is the
    1-based row_number of the token in ascending ``(document frequency,
    token)`` order, and ``strategy`` names the guard branch taken
    (``"broadcast-window"`` or ``"two-pass-range"``).

    Prefix-filter correctness needs only a CONSISTENT total order over
    tokens; rarity order is the performance choice (rare tokens seed few
    candidates). The df aggregate is localCheckpoint'ed once so the
    cardinality probe, the rank, and the join-back all reuse one
    materialization of the tokenize chain instead of recomputing it.

    Retention note: each call leaves one checkpointed vocabulary aggregate
    (|vocab| rows of (tok, df) — summary-scale, MEMORY_AND_DISK) in
    executor storage until the plan that references it is garbage-
    collected (ContextCleaner) or the session ends — the same retention
    contract as the `sets` localCheckpoint in the callers. Repeated bench
    trials therefore accumulate a bounded few-MB block per call;
    unpersisting eagerly here would instead recompute the tokenize chain
    in the caller's later stages.
    """
    from ..ranking import global_row_number

    cap = VOCAB_BROADCAST_CAP if broadcast_cap is None else broadcast_cap
    dfagg = (
        tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).localCheckpoint()
    )
    n_vocab = dfagg.count()  # cheap: counts the checkpointed aggregate
    if n_vocab <= cap:
        from pyspark.sql import Window

        rank = (
            dfagg.withColumn("r", F.row_number().over(Window.orderBy("df", "tok")))
            .select("tok", F.col("r").cast("bigint").alias("r"))
        )
        return F.broadcast(rank), "broadcast-window"
    rank = global_row_number(dfagg, "df", "tok", out_col="r").select(
        "tok", F.col("r").cast("bigint").alias("r")
    )
    return rank, "two-pass-range"


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text)          AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*)           AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest, keep the smallest
    doc_id per group (deterministic survivor policy). One shuffle on the
    digest — the 100 TB-safe formulation of ``dropDuplicates(text)``."""
    t = load(spark, sf_dir)
    return t.documents.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingles(tokens_col, n: int = 3):
    """Word n-gram shingles as strings (JVM-side lambda over the token
    array).

    One ``slice`` per shingle, not n ``element_at`` calls: higher-order
    lambdas evaluate interpreted (no codegen) and Catalyst inlines
    ``tokens_col`` into EVERY reference, so the element_at form
    re-evaluates the underlying split() n times per gram position
    (measured 8.6 s → 0.7 s on the 8-gram contamination scan at sf0.1).
    Same output: slice past the array end truncates, exactly as
    element_at past the end yields NULLs that concat_ws drops."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tokens_col) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i + 1, n)),
    )


def minhash_signature(shingle_col, num_hashes: int = 16):
    """MinHash signature: for seed s, min over shingles of xxhash64(sh, s).
    Pure expressions — no MLlib, no UDF, deterministic across clusters.

    Spelled as ONE fold over the shingles (element-wise least against a
    MAX_LONG-initialized accumulator) rather than num_hashes independent
    array_min passes: the per-seed formulation re-evaluates the shingle
    expression once per seed (Catalyst inlines, it does not CSE across
    lambdas), which measured ~10× slower at 32 hashes. Identical values
    for any non-empty shingle array (shingles() always emits ≥ 1)."""
    max_long = (1 << 63) - 1
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingle_col,
        F.array_repeat(F.lit(max_long).cast("bigint"), num_hashes),
        lambda acc, sh: F.zip_with(
            acc,
            F.transform(seeds, lambda s: F.xxhash64(sh, s)),
            lambda a, b: F.least(a, b),
        ),
    )


def _collapse(df: DataFrame, id_col: str, *keys: str, **derived) -> DataFrame:
    """Identical-key collapse: one row per distinct ``keys`` value with
    ``gid`` = min ``id_col`` and the sorted ``members`` list, plus any
    ``derived`` columns computed before the one ``localCheckpoint`` that
    every consumer (candidate sides, verify sides, member expansions)
    then shares. Widening is left to the caller: AQE coalesces the small
    aggregate to one partition, and some plans widen only their probe
    side."""
    groups = df.groupBy(*keys).agg(
        F.min(id_col).alias("gid"),
        F.sort_array(F.collect_list(id_col)).alias("members"),
    )
    for name, col in derived.items():
        groups = groups.withColumn(name, col)
    return groups.localCheckpoint()


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """Distinct 3-shingle sets of a ``documents``-shaped relation,
    collapsed: ``(sh_set, gid, members)``. The parallelism guard runs
    before the shingling (one task on a single-row-group file otherwise)
    and again on the checkpointed collapse, ahead of the signature fold
    and verify intersections."""
    from ..partitioning import ensure_parallelism

    corpus = ensure_parallelism(docs).select(
        "doc_id", F.array_distinct(shingles(_tokens())).alias("sh_set")
    )
    return ensure_parallelism(_collapse(corpus, "doc_id", "sh_set"))


def _minhash_bands(sets: DataFrame) -> DataFrame:
    """``(gid, band_id, band_hash)``: 32-hash MinHash of each distinct
    ``sh_set`` in 16 bands of 2. The signature is checkpointed before
    banding: CollapseProject would otherwise inline the whole 32-hash
    fold into each of the 16 band lambdas (24 s → ~2 s at sf0.01)."""
    sig = sets.select(
        "gid", minhash_signature(F.col("sh_set"), num_hashes=32).alias("sig")
    ).localCheckpoint()
    return sig.select(
        "gid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda b: F.xxhash64(
                    F.concat_ws(",", F.slice(F.col("sig"), b * 2 + 1, 2)), b
                ),
            )
        ).alias("band_id", "band_hash"),
    )


def _within_pairs(sets: DataFrame, a: str, b: str) -> DataFrame:
    """Every unordered pair inside each group's sorted ``members`` as
    ``(a, b)`` with a < b: each member pairs with its strict suffix, so
    the work is output-sized and needs no join."""
    return (
        sets.filter(F.size("members") >= 2)
        .select(F.posexplode("members").alias("i", a), "members")
        .select(a, F.explode(F.expr("slice(members, i + 2, size(members))")).alias(b))
    )


def _cross_pairs(
    pairs: DataFrame, ma: str, mb: str, a: str, b: str, score: str
) -> DataFrame:
    """Expand verified group pairs to member pairs: ``ma`` × ``mb`` as
    ``(a, b, score)`` with a < b. Every member of a group shares the
    group's score, so one verdict per group pair covers all of them."""
    return (
        pairs.select(F.explode(ma).alias("da"), mb, score)
        .select("da", F.explode(mb).alias("db"), score)
        .select(
            F.least("da", "db").alias(a), F.greatest("da", "db").alias(b), score
        )
    )


def _token_sets(docs: DataFrame, tau: float) -> DataFrame:
    """Distinct lower-cased token sets as sorted rarity-rank arrays,
    collapsed and widened: ``(rs, gid, members, n, plen)`` where ``n`` =
    |set| and ``plen`` = n - ceil(tau·n) + 1 is the prefix length at
    threshold ``tau``. Rank keys come from :func:`token_rank`'s
    vocabulary-cardinality guard; token → rank is injective, so
    intersect sizes on rank arrays equal token-set overlaps."""
    from ..partitioning import ensure_parallelism

    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias(
            "tok"
        ),
    )
    rank, _strategy = token_rank(tok)
    toksets = (
        tok.join(rank, "tok")
        .select("doc_id", F.col("r").alias("k"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("k")).alias("rs"))
    )
    n = F.col("n")
    return ensure_parallelism(
        _collapse(
            toksets, "doc_id", "rs",
            n=F.size("rs"),
            plen=n - F.ceil(F.lit(tau) * n).cast("int") + 1,
        )
    )


def _verify_set_pairs(
    cand: DataFrame, sets: DataFrame, tau: float, name: str, score
) -> DataFrame:
    """Exact verify of candidate set pairs ``(ga, gb)`` from
    :func:`_token_sets`: ``(ga, gb, ma, mb, <name>)`` for pairs whose
    ``score`` reaches ``tau``. ``score`` is an expression over ``inter``
    (= |A∩B|, one integer array_intersect per pair), ``na`` and ``nb``."""
    sa = sets.select(F.col("gid").alias("ga"), F.col("rs").alias("ra"),
                     F.col("members").alias("ma"), F.col("n").alias("na"))
    sb = sets.select(F.col("gid").alias("gb"), F.col("rs").alias("rb"),
                     F.col("members").alias("mb"), F.col("n").alias("nb"))
    return (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .withColumn("inter", F.size(F.array_intersect("ra", "rb")))
        .withColumn(name, score)
        .filter(F.col(name) >= tau)
        .select("ga", "gb", "ma", "mb", name)
    )


@query(
    "q_dedup_near",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2])
             )) AS s
      FROM documents),
    grams AS (SELECT doc_id, unnest(s) AS gram FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    -- inverted-index enumeration (pairs sharing >=1 shingle) with
    -- inclusion-exclusion union size: identical output to the all-pairs
    -- list_intersect formulation at ~12x less oracle runtime.
    SELECT i.a_id, i.b_id,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
                 JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE i.n_common * 10 >= (sa.n + sb.n - i.n_common) * 8
    """,
    tags=("llm", "dedup", "approx"),
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 3-word shingles → 32-hash MinHash signature →
    16 bands of 2 → band-hash equi-join → candidate pairs → EXACT
    verification (distinct-shingle Jaccard) → pairs at ≥ 0.8. The generate-
    candidates-then-verify-exactly shape is the production pattern: the
    bucketed join bounds work (quadratic only within bands, never
    all-pairs), the verify step makes the output exact, so the oracle can
    enumerate the same pairs by brute force at test scale. 16×2 banding
    puts the LSH S-curve far left of the 0.8 verify threshold
    (P[miss | j=0.8] = (1-j²)^16 ≈ 3e-9), so candidate recall at the
    output threshold is effectively exact — measured zero misses at both
    test scales. The integer cross-multiplied threshold avoids a float
    boundary between engines.

    Identical shingle sets COLLAPSE before banding (the same move as
    q_jaccard_join): byte-identical documents — the dominant duplicate
    class in crawl corpora — share the signature, hence every band, so a
    k-document cluster would put k ids behind each of its 16 band hashes
    and pay k² candidate rows per band. Grouped, it pays 1. The collapse
    is output-EQUIVALENT, not an approximation: two docs share a band
    iff their shingle sets' signatures do, so banding distinct sets
    loses no candidate pair; within-group pairs are emitted directly at
    jaccard 1.0 (identical sets), cross-group matches verify once per
    set pair and expand members_a × members_b."""
    t = load(spark, sf_dir)
    return near_dup_pairs(t.documents)


def near_dup_pairs(documents: DataFrame) -> DataFrame:
    """MinHash+LSH near-dup pair core: (a_id, b_id, jaccard) with
    a_id < b_id and exact distinct-3-shingle Jaccard >= 0.8 over any
    `documents`-shaped relation (doc_id, text, ...). Factored out of
    q_dedup_near (whose docstring carries the full design rationale) so
    composed pipelines (q_pipeline_pretrain) run the IDENTICAL pair
    semantics over an already-filtered survivor set."""
    sets = _shingle_sets(documents)
    # Within-group pairs: identical shingle sets, jaccard exactly 1.0.
    within = _within_pairs(sets, "a_id", "b_id").withColumn("jaccard", F.lit(1.0))
    # MinHash over the distinct set (min over a set equals min over the
    # multiset, so values are unchanged), then 16×2 banding per gid.
    bands = _minhash_bands(sets)
    a = bands.select(F.col("gid").alias("ga"), "band_id", "band_hash")
    b = bands.select(F.col("gid").alias("gb"), "band_id", "band_hash")
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("ga") < F.col("gb"))
        .select("ga", "gb")
        .distinct()
    )
    sa = sets.select(F.col("gid").alias("ga"), F.col("sh_set").alias("a_sh"),
                     F.col("members").alias("ma"))
    sb = sets.select(F.col("gid").alias("gb"), F.col("sh_set").alias("b_sh"),
                     F.col("members").alias("mb"))
    n_common = F.size(F.array_intersect("a_sh", "b_sh"))
    n_union = F.size("a_sh") + F.size("b_sh") - n_common
    verified = (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .filter(n_common * 10 >= n_union * 8)
        .select(
            F.round(n_common.cast("double") / n_union, 6).alias("jaccard"), "ma", "mb"
        )
    )
    cross = _cross_pairs(verified, "ma", "mb", "a_id", "b_id", "jaccard")
    return within.unionByName(cross).select("a_id", "b_id", "jaccard")


def exact_dup_pairs(documents: DataFrame) -> DataFrame:
    """EXACT >= 0.8 distinct-3-shingle-Jaccard pair enumeration via the
    set-grain gram inverted index — no LSH anywhere in the candidate
    path. Ground truth for q_minhash_accuracy (ADVICE r11): the sketch
    AUDIT must not draw its pair set from the sketch-adjacent banding
    pipeline it audits (near_dup_pairs' banding has ~3e-9 candidate
    miss probability at j=0.8, and because the audit's mae/bias/max are
    whole-corpus windows, one missed pair would shift EVERY output
    row). This is byte-for-byte the oracle's enumeration: identical
    shingle sets collapse first, candidates are set pairs sharing >= 1
    gram, verified by exact intersection counting.

    Scale shape: candidate cardinality is bounded by the gram inverted
    index (sum over grams of pairs sharing that gram — one shuffle at
    gram grain, groupBy at pair grain); the set-grain collapse removes
    the duplicate-depth blowup (the 183 s -> 3.6 s oracle lesson). This
    is exact-enumeration work by DESIGN — at 100 TB the audit runs on a
    bounded corpus sample, and q_jaccard_join's PPJoin prefix filter is
    the in-repo escape path if the full corpus must be enumerated."""
    sets = _shingle_sets(documents)
    within = _within_pairs(sets, "a_id", "b_id").withColumn("jaccard", F.lit(1.0))
    grams = sets.select("gid", F.explode("sh_set").alias("gram"))
    inter = (
        grams.select(F.col("gid").alias("ga"), "gram")
        .join(grams.select(F.col("gid").alias("gb"), "gram"), "gram")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sets.select(
        F.col("gid").alias("ga"),
        F.size("sh_set").alias("na"),
        F.col("members").alias("ma"),
    )
    sb = sets.select(
        F.col("gid").alias("gb"),
        F.size("sh_set").alias("nb"),
        F.col("members").alias("mb"),
    )
    n_union = F.col("na") + F.col("nb") - F.col("n_common")
    verified = (
        inter.join(sa, "ga")
        .join(sb, "gb")
        .filter(F.col("n_common") * 10 >= n_union * 8)
        .select(
            F.round(F.col("n_common").cast("double") / n_union, 6).alias(
                "jaccard"
            ),
            "ma",
            "mb",
        )
    )
    return _cross_pairs(verified, "ma", "mb", "a_id", "b_id", "jaccard").unionByName(
        within
    )


def simhash_token_bits(tok):
    """Per-token ±1 vote vector over the 64 bit positions of xxhash64."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (F.getbit(F.xxhash64(tok), i) * 2 - 1).cast("bigint"),
    )


def simhash_votes(tokens_col):
    """The SimHash vote vector (array<bigint> of 64 signed sums) — the
    expensive fold, split out so callers needing several fingerprint
    variants materialize it ONCE: Catalyst does not CSE across
    higher-order-function lambdas, so each textual reference re-runs the
    whole |tokens|×64 interpreted fold (the q_dedup_near lesson)."""
    return F.aggregate(
        tokens_col,
        F.array_repeat(F.lit(0).cast("bigint"), 64),
        lambda acc, tok: F.zip_with(
            acc, simhash_token_bits(tok), lambda a, b: a + b
        ),
    )


def simhash_pack(votes):
    """Sign the vote vector and pack into one bigint.

    ANSI-safe packing: a single acc*2+bit fold arithmetic-overflows once
    the MSB is set (a driver-owned ANSI session turns that into a query
    failure), so each 32-bit half packs arithmetically (max 2^32-1, no
    overflow) and the halves combine with shiftleft/bitwiseOR — bitwise
    ops wrap instead of throwing."""
    sign_bits = F.transform(
        votes, lambda v: F.when(v >= 0, 1).otherwise(0).cast("bigint")
    )

    def pack32(half):
        return F.aggregate(
            half, F.lit(0).cast("bigint"), lambda acc, bit: acc * 2 + bit
        )

    return F.shiftleft(pack32(F.slice(sign_bits, 1, 32)), 32).bitwiseOR(
        pack32(F.slice(sign_bits, 33, 32))
    )


@query(
    "q_simhash",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           TRUE AS order_invariant,
           TRUE AS edit_locality_ok
    FROM documents
    """,
    tags=("llm", "dedup"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint (near-dup blocking by Hamming distance —
    16-bit-chunk self-join at scale: any equal chunk → candidate, Hamming
    ≤ 3 guarantees a chunk match by pigeonhole). The raw fingerprint is
    xxhash64-specific, so the driver-checkable output verifies SimHash's
    two defining algebraic properties per document, each computed two
    independent ways inside the engine:

    - ``order_invariant``: the vote fold is commutative, so the fingerprint
      of the sorted token array must equal the original's — a
      sequence-dependent (i.e. broken) implementation flips this;
    - ``edit_locality_ok``: appending one token flips only bit positions
      whose vote margin was ≤ 1, so the Hamming distance to the edited
      fingerprint stays small (≤ 20; measured max 14 across scales, vs ~32
      expected for unrelated docs) — a fingerprint without locality (e.g.
      hashing the whole text) fails this. The check is skipped (vacuously
      TRUE) for docs under 24 tokens: with n tokens the per-bit flip
      probability is ~0.5·√(2/πn) (the vote-margin random walk), so short
      docs put the Binomial(64, p) flip count near or above 20 on a
      *correct* implementation (n=1: mean 16, sd 3.5) — at n≥24 the mean
      is ≤5.3 and 20 sits beyond 6σ, making the bound scale-safe for any
      testdata regeneration.

    ``n_tokens`` anchors the check to real per-row data (oracle recomputes
    it exactly).

    Cost shape: the |tokens|×64 vote fold is THE expense, and Catalyst
    re-evaluates it per textual reference (no CSE through lambdas), so
    the base and sorted vote vectors materialize once via
    localCheckpoint and every fingerprint derives from the stored
    columns. The edited fingerprint adds the probe token's ±1 vector to
    the STORED votes — bit-identical to refolding the appended array
    (the fold is commutative vote addition; that commutativity is
    exactly what order_invariant independently re-proves with its full
    second fold over the sorted array). 3 folds → 2, and no
    re-evaluation: 2.5 s → ~1.5 s at sf0.01."""
    t = load(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        F.size(_tokens()).cast("bigint").alias("n_tokens"),
        simhash_votes(_tokens()).alias("v0"),
        simhash_votes(F.array_sort(_tokens())).alias("vs"),
    ).localCheckpoint()
    h0 = simhash_pack(F.col("v0"))
    h_sorted = simhash_pack(F.col("vs"))
    h_edit = simhash_pack(
        F.zip_with(
            F.col("v0"),
            simhash_token_bits(F.lit("zzz-probe")),
            lambda a, b: a + b,
        )
    )
    return base.select(
        "doc_id",
        "n_tokens",
        (h0 == h_sorted).alias("order_invariant"),
        F.when(F.col("n_tokens") < 24, F.lit(True))
        .otherwise(F.bit_count(h0.bitwiseXOR(h_edit)) <= 20)
        .alias("edit_locality_ok"),
    )


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT doc_id, gram
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(string_split(text,' ')) - 1, 1) + 1),
                 i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1])
               ))) AS gram
        FROM documents WHERE doc_id < 60
      )
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    inter AS (
      SELECT g1.doc_id AS a_id, g2.doc_id AS b_id, count(*) AS n_common
      FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
      GROUP BY g1.doc_id, g2.doc_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_common AS BIGINT) AS n_common,
           round(i.n_common / CAST(sa.n_grams + sb.n_grams - i.n_common AS DOUBLE), 8)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE i.n_common >= 3
    """,
    tags=("llm", "dedup"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard between documents (subset doc_id < 60):
    explode distinct bigrams, self-join on gram (inverted-index pattern —
    the join is on gram, never all-pairs), |A∩B| from the join, |A∪B| by
    inclusion-exclusion. The SQL-checked exact twin of q_dedup_near."""
    t = load(spark, sf_dir)
    docs = t.documents.filter(F.col("doc_id") < 60)
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(_tokens(), n=2))).alias("gram"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    g1 = grams.select(F.col("doc_id").alias("a_id"), "gram")
    g2 = grams.select(F.col("doc_id").alias("b_id"), "gram")
    inter = (
        g1.join(g2, "gram")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_grams").alias("a_n"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_grams").alias("b_n"))
    return (
        inter.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .filter(F.col("n_common") >= 3)
        .select(
            "a_id",
            "b_id",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("a_n") + F.col("b_n") - F.col("n_common")).cast("double"),
                8,
            ).alias("jaccard"),
        )
    )


@query(
    "q_dedup_embedding",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < 25),
    scored AS (
      SELECT q.q_id, e.vec_id AS nn_id,
             {cosine_sql('q.q_emb', 'e.embedding')} AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, nn_id, round(cos_sim, 8) AS nn_sim,
           cos_sim >= 0.9 AS is_dup
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos_sim DESC, nn_id) AS rn
          FROM scored)
    WHERE rn = 1
    """,
    tags=("llm", "dedup", "approx"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: for each probe document (vec_id < 25),
    find its nearest neighbor in the corpus and decide duplicate-ness by
    threshold (0.9) — the NN-plus-threshold decision is THE embedding-dedup
    primitive. Computed with the one-scan Arrow-batch matmul (the probe
    matrix ships in the closure; the corpus never shuffles). At 100 TB the
    exact scan swaps for q_ann_lsh's multi-table candidate generation +
    exact rerank of candidates only — same output contract, sublinear
    search; the exact scan here is also the recall ground truth that path
    is measured against (tests/test_ann_recall.py)."""
    t = load(spark, sf_dir)
    q_ids, Q, _ = fetch_probes(sf_dir, t.embeddings, {"vec_id": 25})
    scored = cosine_pairs(t.embeddings, q_ids, Q).select(
        "q_id", F.col("cand_id").alias("nn_id"), "cos_sim"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("nn_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            "nn_id",
            F.round("cos_sim", 8).alias("nn_sim"),
            (F.col("cos_sim") >= 0.9).alias("is_dup"),
        )
    )


_SEM_TAU = 0.45

#: Per-worker budget (bytes) for ONE sims buffer in cone_blocked_edges'
#: block rerank. Blocks are ~block_target rows so most matmuls run in a
#: single chunk; the budget only bites when a caller raises block_target
#: (or k=1 puts the whole corpus in the diagonal block), where an
#: unchunked n×n double matrix would be O(n²) worker memory (ADVICE r5
#: item 4). Module-level so tests can shrink it to force the chunked
#: path on small inputs.
SIMS_BLOCK_BUDGET_BYTES = 128 * 1024 * 1024


def cone_blocked_edges(
    vectors: DataFrame,
    tau: float,
    k: int | None = None,
    stats: dict | None = None,
    block_target: int = 3000,
) -> DataFrame:
    """EXACT cosine-threshold self-join (all pairs with cos ≥ tau),
    distributed as a cone-blocked block-matrix product over IVF cells —
    candidate generation + exact rerank with a PROVEN-complete candidate
    set:

    1. k-means centroids from `kmeans_centroids` — the driver holds ONLY
       the k×d centroid matrix, trained on an O(sample_cap) hash-ranked
       sample (never the corpus).
    2. One corpus scan assigns each vector to its max-cosine cell and
       records cos to its home centroid; a k-row aggregate gives each
       cell's angular radius r_c = max member angle.
    3. Cell-pair blocks are PRUNED by the spherical triangle inequality:
       vectors u∈c1, v∈c2 with angle(u,v) ≤ θ_τ imply
       angle(c1,c2) ≤ θ_τ + r_1 + r_2, so any block violating that bound
       provably contains no edge and is skipped — exactness is free, no
       τ-boundary probing needed. Pruning is data-adaptive: sublinear
       exactly when the corpus is angularly clusterable (the regime of
       real embedding corpora); worst case it degrades to a distributed
       block-matrix product, never to a driver bottleneck.
    4. Each surviving block exact-reranks with one numpy matmul inside
       `applyInPandas` — per-task memory is O(block), replication ≤ k,
       and a pair (u,v) lands in exactly one block (the (min,max) of its
       two home cells), so edges are emitted once with no distinct().

    vectors: (gid bigint, embedding array<float>); returns (a, b) with
    a < b. ``stats``, if given, receives n_cells / n_blocks /
    n_blocks_total for observability and tests.

    ``k=None`` (the default) sizes the cell count to the corpus:
    k = clamp(n / block_target, 1, 256). The blocking machinery
    (k-means, assignment scan, radii aggregate, block join) only pays
    for itself when cells are meaningfully smaller than the corpus; for
    a corpus that fits one ~block_target cell the exact answer is a
    single diagonal-block matmul, and spending 136 tiny tasks on it
    quintuples the wall time (measured at sf0.01). The cap keeps the
    driver-held centroid matrix trivially small (256×d floats)."""
    import math

    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from .similarity import kmeans_centroids

    spark = vectors.sparkSession
    if k is None:
        k = max(1, min(256, vectors.count() // block_target))

    sims_budget = SIMS_BLOCK_BUDGET_BYTES

    def block_edges(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        En = E / np.sqrt((E * E).sum(axis=1))[:, None]
        ids = pdf["gid"].to_numpy()
        if key[0] == key[1]:  # diagonal block: upper triangle once
            Ln, Lids = En, ids
            Rn, Rids = En, ids
            diagonal = True
        else:  # cross block: home-of-ca side × home-of-cb side
            sa = pdf["side"].to_numpy() == 0
            Ln, Lids = En[sa], ids[sa]
            Rn, Rids = En[~sa], ids[~sa]
            diagonal = False
        # Row-chunked matmul: memory is O(chunk × |R|) regardless of
        # block size, never O(n²) — the ADVICE-4 k=1 hazard. The 64-row
        # floor can exceed sims_budget when |R| > budget/512 (very wide
        # R, e.g. k=1 on a multi-million-row corpus): the budget is a
        # soft target, and the floor's 512·|R|-byte buffer is the same
        # order as the block's own materialized embedding matrix
        # (8·d·|R| bytes, d ≥ 64), so the floor never dominates worker
        # memory — it only caps the chunking overhead.
        chunk = max(64, sims_budget // (8 * max(1, len(Rids))))
        outs = []
        for s in range(0, len(Lids), chunk):
            sims = Ln[s : s + chunk] @ Rn.T
            ai, bj = np.nonzero(sims >= tau)
            ai = ai + s
            if diagonal:  # upper triangle once
                keep = ai < bj
                ai, bj = ai[keep], bj[keep]
            a, b = Lids[ai], Rids[bj]
            outs.append(
                pd.DataFrame({"a": np.minimum(a, b), "b": np.maximum(a, b)})
            )
        if not outs:
            return pd.DataFrame({"a": ids[:0], "b": ids[:0]})
        return pd.concat(outs, ignore_index=True)

    if k == 1:
        if stats is not None:
            stats["n_cells"] = 1
            stats["n_blocks"] = 1
            stats["n_blocks_total"] = 1
        one = vectors.select(
            F.lit(0).alias("ca"), F.lit(0).alias("cb"),
            F.lit(0).alias("side"), "gid", "embedding",
        )
        return one.groupBy("ca", "cb").applyInPandas(
            block_edges, schema="a bigint, b bigint"
        )

    C = kmeans_centroids(vectors, id_col="gid", vec_col="embedding", k=k)
    Cn = C / np.sqrt((C * C).sum(axis=1))[:, None]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            En = E / np.sqrt((E * E).sum(axis=1))[:, None]
            sims = En @ Cn.T
            yield pd.DataFrame(
                {
                    "gid": pdf["gid"],
                    "embedding": pdf["embedding"],
                    "cell": sims.argmax(axis=1).astype("int32"),
                    "cos_home": sims.max(axis=1),
                }
            )

    assigned = (
        vectors.select("gid", "embedding")
        .mapInPandas(
            assign,
            schema="gid bigint, embedding array<float>, cell int, cos_home double",
        )
        .localCheckpoint()  # reused 3×: radii agg + both block-join sides
    )

    def _ang(c: float) -> float:
        return math.acos(max(-1.0, min(1.0, c)))

    # Per-cell angular radius: a k-row collect (bounded by k, not corpus).
    radii = {
        int(row["cell"]): _ang(row["min_cos"])
        for row in assigned.groupBy("cell")
        .agg(F.min("cos_home").alias("min_cos"))
        .collect()
    }
    theta_tau = _ang(tau)
    cc = Cn @ Cn.T
    cells = sorted(radii)
    blocks = [
        (ci, cj)
        for ci in cells
        for cj in cells
        if ci <= cj
        and _ang(cc[ci, cj]) <= theta_tau + radii[ci] + radii[cj] + 1e-9
    ]
    if stats is not None:
        stats["n_cells"] = len(cells)
        stats["n_blocks"] = len(blocks)
        stats["n_blocks_total"] = len(cells) * (len(cells) + 1) // 2
    blocks_df = spark.createDataFrame(blocks, "ca int, cb int")

    left = assigned.join(
        F.broadcast(blocks_df), assigned.cell == blocks_df.ca
    ).select("ca", "cb", F.lit(0).alias("side"), "gid", "embedding")
    right = assigned.join(
        F.broadcast(blocks_df.filter(F.col("ca") != F.col("cb"))),
        assigned.cell == blocks_df.cb,
    ).select("ca", "cb", F.lit(1).alias("side"), "gid", "embedding")

    return (
        left.unionByName(right)
        .groupBy("ca", "cb")
        .applyInPandas(block_edges, schema="a bigint, b bigint")
    )


@query(
    "q_dedup_semantic",
    # r13: the all-pairs edge CTE now runs at DISTINCT-VECTOR grain
    # (byte-identical embeddings share every cosine, exactly the
    # engine's own collapse) and member lists expand the labels at the
    # end — a doc-quadratic oracle (1.25e9 64-dim dots at sf1, the
    # reason this op was rows+checksum-only in SIM_sf1) becomes
    # distinct-vector-quadratic, value-identical: gid = min member, so
    # min-label over gids IS min vec_id over the member closure.
    oracle=f"""
    WITH RECURSIVE dv AS MATERIALIZED (
      SELECT embedding, CAST(min(vec_id) AS BIGINT) AS gid,
             list(vec_id) AS members
      FROM embeddings GROUP BY embedding
    ),
    norms AS MATERIALIZED (
      SELECT gid, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM dv
    ),
    edges AS MATERIALIZED (
      SELECT a.gid AS a, b.gid AS b
      FROM norms a JOIN norms b ON a.gid < b.gid
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
            / (a.nrm * b.nrm) >= {_SEM_TAU}
    ),
    sym AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    reach AS (
      SELECT gid AS node, gid AS lbl FROM dv
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    ),
    labels AS (
      SELECT node AS gid, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT unnest(d.members) AS vec_id, l.cluster_id
    FROM labels l JOIN dv d ON d.gid = l.gid
    """,
    tags=("llm", "dedup", "iterative"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic clustering: vectors whose cosine meets the
    threshold form a graph; connected components give cluster ids (min
    vec_id per component); 'keep one per cluster' is then a
    groupBy(cluster_id).

    The threshold graph is EXACT and fully distributed —
    `cone_blocked_edges`, the candidate-generation + exact-rerank
    architecture the round-3 verdict demanded, with a PROVEN-complete
    candidate set instead of a recall contract: IVF cells from a bounded
    driver-side k-means (driver holds only the k×d centroid matrix),
    spherical-triangle-inequality pruning of cell-pair blocks, and one
    numpy matmul per surviving block inside applyInPandas. (At τ=0.45 on
    isotropic 64-dim unit vectors sign-LSH has almost no contrast
    between edge and non-edge collision rates, so cone-bound blocking —
    which prunes by the data's ACTUAL angular spread — is the right
    candidate generator; worst case it degrades to a distributed
    block-matrix product, never to a driver bottleneck.)

    Unlike the fuzzy family there is NO static blocking invariant (an
    embedding edge can connect any two vectors), so clustering uses the
    general iterative ``connected_components`` — the operator the blocked
    union-find path cannot serve. Cosines are computed in float64 on
    both engines; the nearest pairwise sim sits ~6e-4 from tau at the
    test scales — nine orders of magnitude above float64
    summation-order noise (~1e-13), so the boundary cannot flip between
    engines."""
    from ..partitioning import ensure_parallelism

    t = load(spark, sf_dir)
    # Identical-vector collapse first (the round-3 dedup-family move):
    # byte-identical embeddings are trivially cosine-1 cliques, so the
    # graph runs over DISTINCT vectors — gid = min member, and since
    # cos(u, x) is the same for every member of a group, group edges
    # reproduce member edges exactly. Member lists expand the labels at
    # the end.
    sets = ensure_parallelism(
        _collapse(t.embeddings.select("vec_id", "embedding"), "vec_id", "embedding")
    )
    edges = cone_blocked_edges(sets.select("gid", "embedding"), _SEM_TAU)
    nodes = sets.select(F.col("gid").alias("id"))
    glabels = connected_components(nodes, edges)
    return (
        glabels.join(sets.select(F.col("gid").alias("id"), "members"), "id")
        .select(
            F.explode("members").alias("vec_id"),
            F.col("label").cast("bigint").alias("cluster_id"),
        )
    )


@query(
    "q_dedup_fuzzy",
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars // 50 AS len_bucket,
                      substring(text, 1, 30) AS head FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 5
    """,
    tags=("llm", "dedup"),
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup candidates by edit distance — with BLOCKING: pairs
    are only formed inside (lang, length-bucket) blocks, so the quadratic
    levenshtein cost is bounded per block instead of corpus-wide (the
    standard entity-resolution shape; a full crossJoin at 100 TB is not a
    plan). JVM-side levenshtein, equi-join on block keys — one shuffle.

    The edit distance depends only on the 30-char head, so documents
    with IDENTICAL (block key, head) COLLAPSE into one group before the
    pairwise join (the q_jaccard_join move): a k-duplicate cluster —
    dominant in crawl corpora — costs 1 levenshtein row instead of k²
    per block. Within-group pairs emit directly at edit_dist 0;
    cross-group pairs compute the distance once per distinct head pair
    and expand members_a × members_b. AQE coalesces the small group
    aggregate to ONE partition before the checkpoint freezes it, so the
    probe side passes through ``ensure_parallelism`` — the per-pair
    levenshtein gets the session's parallelism at any input layout."""
    from ..partitioning import ensure_parallelism

    t = load(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / F.lit(50)).cast("int").alias("len_bucket"),
        F.substring("text", 1, 30).alias("head"),
    )
    groups = _collapse(d, "doc_id", "lang", "len_bucket", "head")
    within = _within_pairs(groups, "id_a", "id_b").withColumn(
        "edit_dist", F.lit(0).cast("bigint")
    )
    cols = ["lang", "len_bucket", "head", "gid", "members"]
    a = ensure_parallelism(groups).select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = groups.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    gpairs = (
        a.join(
            b,
            (F.col("a_lang") == F.col("b_lang"))
            & (F.col("a_len_bucket") == F.col("b_len_bucket"))
            & (F.col("a_gid") < F.col("b_gid")),
        )
        .select(
            "a_members",
            "b_members",
            F.levenshtein("a_head", "b_head").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
    )
    cross = _cross_pairs(gpairs, "a_members", "b_members", "id_a", "id_b", "edit_dist")
    return within.unionByName(cross)


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 15,
    small_edge_cap: int = 200_000
) -> DataFrame:
    """Connected components by iterative min-label propagation: every node
    starts labeled with its own id; each round, a node adopts the minimum
    label among itself and its neighbors; converged when no label changes.

    Scale notes: each round is one shuffle (join on node id) + one
    aggregation; rounds needed = graph diameter (near-dup clusters are
    shallow, a handful of rounds). The symmetrized edge table is
    ``localCheckpoint``-ed ONCE up front — it is scanned every round, and
    without the checkpoint each round would re-execute the caller's whole
    edge-generation lineage (for q_dedup_semantic that is the full
    cone-blocked matmul, once per round). Per-round ``localCheckpoint``
    on labels truncates the iterative plan's lineage — without it the
    plan nests one join per round and planning cost explodes. Driver
    holds only the convergence counter, never the data.

    Adaptive small-graph path (the same runtime adaptivity AQE applies
    when it converts a sort-merge join to broadcast): the checkpointed
    edge count is already known, and when it is ≤ ``small_edge_cap`` the
    component structure involves at most 2·cap node ids — a
    driver-side union-find over a provably bounded edge list, broadcast
    back and left-joined onto the (arbitrarily large) node table, beats
    diameter-many distributed rounds. Nodes outside every edge keep
    their own id via coalesce and never leave the cluster. Above the cap
    the fully distributed iterative path runs unchanged.

    nodes: (id bigint); edges: (a bigint, b bigint) undirected.
    """
    # One materialization, reused every round (or once by the fast path).
    edges = edges.select("a", "b").localCheckpoint()
    n_edges = edges.count()
    if n_edges <= small_edge_cap:
        spark = nodes.sparkSession
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.toPandas().itertuples(index=False):
            x, y = int(row.a), int(row.b)
            parent.setdefault(x, x)
            parent.setdefault(y, y)
            rx, ry = find(x), find(y)
            if rx != ry:  # union by min: root is always the min id
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        if not parent:
            return nodes.selectExpr("id", "id AS label")
        import pandas as pd

        # Arrow path: up to 2·cap rows ship as one batch, not 400k
        # pickled tuples.
        mpdf = pd.DataFrame(
            {"id": list(parent), "label": [find(x) for x in parent]},
            dtype="int64",
        )
        mdf = spark.createDataFrame(mpdf)
        return nodes.join(F.broadcast(mdf), "id", "left").select(
            "id", F.coalesce("label", F.col("id")).alias("label")
        )
    sym = edges.selectExpr("a AS src", "b AS dst").unionByName(
        edges.selectExpr("b AS src", "a AS dst")
    )
    labels = nodes.selectExpr("id", "id AS label")
    prev_sum = None
    for _ in range(max_iter):
        # One round = neighbor messages (join on src) unioned with each
        # node's own label, then a min per node: 2 shuffles, not 3 (the
        # old shape did join -> agg -> second join back to labels).
        msgs = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # Labels only ever decrease under min-propagation, so the label
        # SUM is a strictly decreasing potential: unchanged sum ==
        # fixpoint. A scalar aggregate over the just-checkpointed table
        # replaces the old old-vs-new join for change detection. Summed
        # in decimal(38,0): with 64-bit snowflake-style ids the int64 sum
        # can overflow (wrapping silently in non-ANSI mode, throwing
        # under spark.sql.ansi.enabled=true); the widened sum costs one
        # labels-table-sized aggregate either way.
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM (SELECT doc_id, lang, n_chars // 50 AS lb,
                   substring(text, 1, 30) AS head FROM documents) a
      JOIN (SELECT doc_id, lang, n_chars // 50 AS lb,
                   substring(text, 1, 30) AS head FROM documents) b
        ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
      WHERE levenshtein(a.head, b.head) <= 5
    ),
    sym AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    )
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
    tags=("llm", "dedup", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: blocked fuzzy pairs → connected
    components → (doc_id, cluster_id = min doc id in component). The
    'keep one per cluster' dedup decision is then a groupBy(cluster_id).
    Oracle: recursive CTE computing min reachable id — same fixpoint.

    Components are computed BLOCK-LOCALLY: every edge requires equal
    (lang, length-bucket) block keys, so no component can span two blocks
    — the global fixpoint decomposes exactly into per-block fixpoints.
    That turns the iterative min-label propagation (one join + one
    aggregation SHUFFLE PER ROUND, rounds = diameter) into a single
    shuffle: group nodes+edges by block key, union-find per block inside
    ``applyInPandas`` (union-by-min, path halving — O(E α(N)) per block).
    Per-block memory is the block's edge list, the same bound the
    candidate join that PRODUCES those edges already imposes; the
    blocking contract that makes q_dedup_fuzzy scale is exactly what
    makes this exact single-pass clustering legal. For graphs WITHOUT a
    blocking invariant, ``connected_components`` above remains the
    general iterative path (equivalence on random blocked graphs is
    property-tested in tests/test_properties.py)."""
    import pandas as pd

    from ..partitioning import ensure_parallelism

    t = load(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / F.lit(50)).cast("int").alias("lb"),
        F.substring("text", 1, 30).alias("head"),
    )
    # Identical-(block, head) documents collapse into one GROUP node (the
    # q_dedup_fuzzy move): a group's members are mutually edit-distance 0,
    # so they are one clique — union-find runs over group representatives
    # and the k² per-duplicate-cluster levenshtein cost drops to 1. The
    # group id is the min member doc_id, so the component's min-gid root
    # IS the component's min doc_id and member labels expand directly.
    groups = _collapse(d, "doc_id", "lang", "lb", "head")
    cols = ["lang", "lb", "head", "gid"]
    # AQE coalesces the small group aggregate to one partition before the
    # checkpoint freezes it; widen the levenshtein probe side.
    a = ensure_parallelism(groups).select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = groups.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    edges = (
        a.join(
            b,
            (F.col("a_lang") == F.col("b_lang"))
            & (F.col("a_lb") == F.col("b_lb"))
            & (F.col("a_gid") < F.col("b_gid")),
        )
        .filter(F.levenshtein("a_head", "b_head") <= 5)
        .select(
            F.col("a_lang").alias("lang"),
            F.col("a_lb").alias("lb"),
            F.col("a_gid").alias("a"),
            F.col("b_gid").alias("b"),
        )
    )
    # Group nodes ride along as edge rows with b = -1 (a sentinel, NOT
    # NULL) so singleton groups still get a label; one unionByName keeps
    # it a single grouped input. The sentinel matters at scale: Arrow
    # converts a NULLABLE int64 column to pandas float64, and float64
    # holds only 53 bits of integer precision — 64-bit snowflake-style
    # ids above 2^53 would round silently and corrupt labels. An
    # all-non-null bigint column stays int64 end to end.
    graph = groups.select(
        "lang", "lb", F.col("gid").alias("a"), F.lit(-1).cast("bigint").alias("b")
    ).unionByName(edges)

    def _union_find(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for x in pdf["a"]:
            parent.setdefault(int(x), int(x))
        for x, y in zip(pdf["a"], pdf["b"]):
            if y < 0:  # singleton sentinel (see graph build above)
                continue
            rx, ry = find(int(x)), find(int(y))
            if rx != ry:
                # union-by-min: the root IS the component's min id, so no
                # second pass is needed to compute the cluster label.
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        nodes = sorted({int(x) for x in pdf["a"]})
        return pd.DataFrame(
            {"gid": nodes, "cluster_id": [find(n) for n in nodes]}
        )

    glabels = graph.groupBy("lang", "lb").applyInPandas(
        _union_find, schema="gid bigint, cluster_id bigint"
    )
    return (
        glabels.join(groups.select("gid", "members"), "gid")
        .select(F.explode("members").alias("doc_id"), "cluster_id")
    )


@query(
    "q_jaccard_join",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
    """,
    tags=("dedup", "similarity-join"),
)
def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (token Jaccard >= 0.9) via prefix
    filtering (PPJoin family, Chaudhuri/Xiao et al.) — the exact
    complement to the MinHash-LSH approximate path (q_dedup_near): same
    candidate-pruning idea, but with a zero-false-negative guarantee, so
    the output is checkable against the quadratic oracle value-for-value.

    Two structural defenses against the quadratic blowups of a naive
    prefix join, both standard in the set-similarity-join literature:

    1. **Identical-set collapse first.** Docs are grouped by their exact
       token set; the prefix join runs over DISTINCT sets only. A cluster
       of k byte-identical documents (the common case in crawl corpora —
       this repo's testdata has a 248-doc cluster at sf0.1) would
       otherwise put k docs behind each of its prefix tokens and pay k^2
       rows per token in the candidate join; collapsed, it costs 1.
       Within-group pairs are emitted directly at jaccard = 1.0 by
       expanding the sorted member list (output-sized compute, no join),
       and cross-group matches expand members_a x members_b after
       verification.
    2. **Rarity-ordered integer keys from the vocabulary aggregate.**
       Prefix-filter correctness needs only a CONSISTENT total order over
       tokens; rarity order (ascending document frequency, token string
       as tiebreak) is the performance choice. The rank comes from
       ``token_rank``'s vocabulary-cardinality guard: below
       ``VOCAB_BROADCAST_CAP`` distinct tokens the dictionary is ranked
       with a summary-scale window and broadcast back to the fact; above
       it (web-crawl vocabularies: hundreds of millions of tokens) the
       rank is ranking.py's two-pass range plan and the join back is a
       shuffle join — no single task and no driver broadcast build ever
       holds the whole vocabulary. Integer
       keys make the candidate equi-join and the verify-stage
       array_intersect integer-typed — measured ~5x faster than
       struct<df,tok> element comparisons. Token -> rank is injective, so
       intersect sizes on rank arrays equal token-set overlap exactly,
       and |A u B| = |A| + |B| - |A n B| avoids a second array pass.
    3. **Positional filter (the 'PP' in PPJoin).** A candidate seeded by
       a prefix match at 1-based positions (pa, pb) with no earlier
       common element has overlap at most 1 + min(|A|-pa, |B|-pb); the
       pair can reach Jaccard tau only if that bound >= tau/(1+tau) *
       (|A|+|B|). Applied per-occurrence this is still exact: common
       prefix elements appear in the same relative order on both sides,
       so the occurrence with minimal positions carries the loosest
       bound, and a pair is pruned only if even that bound fails — in
       which case true overlap (<= the minimal-occurrence bound) fails
       too. At n~23, tau=0.9 this kills every candidate seeded at prefix
       position 3+, a ~2x candidate cut on this corpus.

    Each distinct set emits its first |A| - ceil(tau*|A|) + 1 rarest keys
    as join keys; two sets with disjoint prefixes provably cannot reach
    Jaccard tau (proved against brute force in
    tests/test_properties.py:258). Candidates join on the prefix key plus
    the length filter (tau*|A| <= |B| <= |A|/tau) and the positional
    filter, dedup on the id pair ALONE (no array payload through the
    shuffle), re-fetch their key arrays by joining the distinct-set table
    back (planner broadcasts it at this scale; plain shuffle join at
    vocabulary scale), and verify with one integer array_intersect per
    distinct-set pair. At 100 TB: the df dictionary is vocabulary-sized
    (broadcast below VOCAB_BROADCAST_CAP, two-pass-ranked + shuffle-joined
    above it); the only fact-scale shuffles are the doc-token groupBys,
    the distinct-set groupBy, and the candidate equi-join on rare keys.
    The distinct-set table is localCheckpoint'ed once (bounded: one row
    per distinct set) so the a/b prefix branches and the member
    expansions don't recompute the tokenize-join-aggregate chain four
    times.
    """
    return jaccard_pairs(load(spark, sf_dir).documents, 0.9)


def jaccard_set_core(docs: DataFrame, tau: float):
    """SET-grain PPJoin prefix-filter core shared by
    :func:`jaccard_pairs` (which expands to member pairs) and
    q_jaccard_sweep (which aggregates WITHOUT ever expanding — r12):
    returns ``(sets, cross_sets)`` where ``sets`` is one row per
    DISTINCT token set (gid, rs, members, n) and ``cross_sets`` is
    every set pair at Jaccard >= tau as (ga, gb, ma, mb, jaccard
    [unrounded exact ratio]). Identical-set collapse happens FIRST, so
    candidate work is independent of duplicate DEPTH; consumers that
    only need counts multiply member-list sizes instead of exploding
    (measured r12: the member-pair explosion at benchdata/sf10 — 100x
    duplicate depth, ~10^4 member pairs per set pair — wedged the sf10
    scale leg; the set-grain aggregate runs in seconds)."""
    sets = _token_sets(docs, tau)
    prefixes = sets.select(
        "gid",
        "n",
        F.posexplode(F.expr("slice(rs, 1, plen)")).alias("p0", "pkey"),
    ).select("gid", "n", (F.col("p0") + 1).alias("pos"), "pkey")
    a = prefixes.select(
        F.col("gid").alias("ga"),
        F.col("n").alias("na"),
        F.col("pos").alias("pa"),
        F.col("pkey"),
    )
    b = prefixes.select(
        F.col("gid").alias("gb"),
        F.col("n").alias("nb"),
        F.col("pos").alias("pb"),
        F.col("pkey"),
    )
    # required overlap o(tau, na, nb) = tau/(1+tau) * (na+nb); epsilon slack
    # keeps float rounding from wrongly pruning a borderline-equal bound.
    req = F.lit(tau / (1.0 + tau)) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    cand = (
        a.join(
            b,
            (a["pkey"] == b["pkey"])
            & (F.col("ga") < F.col("gb"))
            # length filter: jaccard <= min(|A|,|B|)/max(|A|,|B|) < tau
            # whenever the sizes differ by more than the tau ratio.
            & (F.col("nb") >= F.ceil(F.lit(tau) * F.col("na")))
            & (F.col("na") >= F.ceil(F.lit(tau) * F.col("nb")))
            # positional filter: see docstring item 3.
            & (
                (1 + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")))
                >= req
            ),
        )
        .select("ga", "gb")
        .dropDuplicates(["ga", "gb"])
    )
    inter = F.col("inter")
    jaccard = inter / (F.col("na") + F.col("nb") - inter)
    return sets, _verify_set_pairs(cand, sets, tau, "jaccard", jaccard)


def jaccard_pairs(
    docs: DataFrame, tau: float, rounded: bool = True
) -> DataFrame:
    """PPJoin prefix-filter set-similarity self-join core of
    :func:`q_jaccard_join` (semantics and scale defenses documented
    there), parameterized by the Jaccard threshold so tuning sweeps
    can run it once at their loosest cut. Returns (doc_a, doc_b,
    jaccard) unordered; ``rounded=True`` (the default, what
    q_jaccard_join's oracle compares) rounds jaccard to 6dp,
    ``rounded=False`` keeps the exact |∩|/|∪| ratio so downstream
    threshold comparisons classify a pair the same way an unrounded
    oracle does even when the true ratio sits within 5e-7 of a cut.
    Member-grain expansion of :func:`jaccard_set_core`."""
    sets, cross_sets = jaccard_set_core(docs, tau)
    within = _within_pairs(sets, "doc_a", "doc_b").withColumn("jaccard", F.lit(1.0))
    cross = _cross_pairs(cross_sets, "ma", "mb", "doc_a", "doc_b", "jaccard")
    # No output orderBy: a global sort of the pair list costs a full
    # range-partition + sort of the (at sf1) 96.7M-row output for pure
    # presentation — the driver's compare is order-insensitive, and at
    # 100 TB sorting the pair list is exactly the exchange this plan
    # exists to avoid (r7: the equivalent sort on q_containment_join's
    # 828M rows was ~10 s of its 23 s wall).
    jac = F.round("jaccard", 6) if rounded else F.col("jaccard")
    return within.unionByName(cross).select(
        "doc_a", "doc_b", jac.alias("jaccard")
    )


@query(
    "q_containment_join",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(a.s), 6) AS containment
    FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
    """,
    tags=("dedup", "similarity-join"),
)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-CONTAINMENT self-join: directional pairs (A, B) with
    C(A,B) = |A∩B| / |A| >= 0.9 — the asymmetric complement of
    q_jaccard_join. Jaccard misses the quote/sub-document case (a small
    doc fully contained in a much larger one scores |A|/|B| ≈ 0), which
    is exactly what contamination and quotation detection in training
    corpora need; containment has no upper length filter on B.

    Same structural defenses as q_jaccard_join, adapted to the
    directional bound:

    - **Identical-set collapse**: the join runs over DISTINCT token
      sets; within-group ordered pairs are containment 1.0 by
      definition (emitted directly, output-sized), cross-group verdicts
      expand members_a × members_b afterward.
    - **Prefix filter, one-sided**: A can miss at most
      |A| - ceil(tau·|A|) of its tokens, so if C(A,B) >= tau then B
      contains one of A's (|A| - ceil(tau·|A|) + 1) rarest tokens. Only
      the PROBE side is prefix-pruned; the INDEX side must post all its
      tokens (containment puts no upper bound on |B| — that asymmetry
      is the operator). Rarity-ranked integer keys come from the same
      vocabulary-scale aggregate as q_jaccard_join.
    - **Length filter**: |B| >= ceil(tau·|A|) (B must hold tau·|A|
      common tokens).

    At 100 TB the fact-scale work is the tokenize groupBys, the
    distinct-set collapse, and the prefix⋈index equi-join on rare
    integer keys; the df dictionary rides ``token_rank``'s
    vocabulary-cardinality guard (broadcast below the cap, two-pass
    range rank + shuffle join above it) and the verify stage touches
    candidate pairs only.

    Reference scope note: the reference engine has no similarity ops —
    this extends SURVEY §2.M's training-data family
    (`q_jaccard_join`, `q_contamination`)."""
    docs = load(spark, sf_dir).documents
    sets, verified = _containment_sets_verified(docs, tau=0.9)
    # Identical sets: every ORDERED pair within a group is containment 1.0
    # (both directions — the relation is not symmetric, unlike jaccard's
    # a<b canonical form).
    within = (
        sets.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .withColumn("containment", F.lit(1.0))
    )
    cross = (
        verified
        .select(F.explode("ma").alias("doc_a"), "mb", "containment")
        .select("doc_a", F.explode("mb").alias("doc_b"), "containment")
    )
    # No output orderBy (see q_jaccard_join): globally sorting the 828M-row
    # sf1 pair list cost ~10 s of the query's 23 s wall for presentation
    # only — the driver's compare is order-insensitive.
    return within.unionByName(cross).select(
        "doc_a", "doc_b", F.round("containment", 6).alias("containment")
    )


def _containment_candidates(sets: DataFrame, tau: float) -> DataFrame:
    """Containment candidate set pairs ``(ga, gb)`` over
    :func:`_token_sets`: A's one-sided prefix probes the FULL token
    index of every other set, with the length filter |B| >= ceil(tau·|A|)
    (see q_containment_join)."""
    probe = sets.select(
        F.col("gid").alias("ga"),
        F.col("n").alias("na"),
        F.explode(F.expr("slice(rs, 1, plen)")).alias("pkey"),
    )
    index = sets.select(
        F.col("gid").alias("gb"),
        F.col("n").alias("nb"),
        F.explode("rs").alias("pkey"),
    )
    return (
        probe.join(
            index,
            (probe["pkey"] == index["pkey"])
            & (F.col("ga") != F.col("gb"))
            & (F.col("nb") >= F.ceil(F.lit(tau) * F.col("na"))),
        )
        .select("ga", "gb")
        .dropDuplicates(["ga", "gb"])
    )


def _containment_sets_verified(docs: DataFrame, tau: float):
    """Shared machinery of the containment family: distinct token sets
    (collapsed, checkpointed, with sorted ``members``) plus the VERIFIED
    cross-group pairs ``(ga, gb, ma, mb, containment)`` at GROUP
    granularity — i.e. before any member expansion, so callers choose how
    much output to materialize (full pair list vs capped top-k)."""
    sets = _token_sets(docs, tau)
    cand = _containment_candidates(sets, tau)
    containment = F.col("inter") / F.col("na")
    return sets, _verify_set_pairs(cand, sets, tau, "containment", containment)


@query(
    "q_containment_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS c
      FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
    ),
    ranked AS (
      SELECT da, db, c,
             row_number() OVER (PARTITION BY da ORDER BY c DESC, db) AS rk
      FROM pairs
    )
    SELECT da AS doc_a, db AS doc_b, round(c, 6) AS containment,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_a, rk
    """,
    tags=("dedup", "similarity-join"),
)
def q_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped containment screen: the TOP-3 containing
    documents per probe doc (score desc, doc_b asc tie-break) instead of
    the full directional pair list. q_containment_join's output at sf1 is
    ~8M pairs on the replicated corpus — the pair LIST is what a 100 TB
    contamination pass must never materialize; the decision surface it
    actually needs is per-doc: "is this doc contained somewhere, and
    where (a few witnesses)?". Output here is corpus-bounded (≤3 rows per
    probe doc).

    The cap is applied at GROUP granularity, before any member
    expansion — the asymmetric prefix-filter/verify machinery is shared
    with q_containment_join (``_containment_sets_verified``):

    - within-group witnesses (identical sets, containment 1.0): each doc
      needs only the 3 smallest OTHER member ids, which all live in the
      first 4 elements of the group's sorted member list — expansion is
      ≤4 rows per doc by construction, never m² per group;
    - cross-group witnesses: every member of probe group A sees the same
      candidate groups, and within one candidate group B every member
      scores the same containment, so the top-3 docs FOR THE WHOLE GROUP
      are slice(sorted mb, 1, 3) ranked per-ga — group-level row_number,
      then a ≤3-rows-per-group expansion to members;
    - the final per-doc rank merges the two ≤-constant candidate lists
      with a doc-partitioned window (never single-partition).

    Every step between the verify stage and the output is bounded by
    k=3 × corpus size, independent of how many pairs pass the threshold.
    """
    from pyspark.sql import Window

    k = 3
    docs = load(spark, sf_dir).documents
    sets, verified = _containment_sets_verified(docs, tau=0.9)
    # Within-group: all scores are 1.0 and the tie-break is doc_b asc, so
    # a doc's best k witnesses among its m-1 twins are the k smallest
    # other ids — all inside the first k+1 elements of the sorted member
    # list. (Docs beyond position k+1 still only need those first k+1.)
    within = (
        sets.filter(F.size("members") >= 2)
        .select(
            F.explode("members").alias("doc_a"),
            F.expr(f"slice(members, 1, {k + 1})").alias("head"),
        )
        .select("doc_a", F.explode("head").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .withColumn("containment", F.lit(1.0))
    )
    # Cross-group: group-level top-k first (members of one candidate
    # group share a score; doc_b asc prefers its k smallest ids), then
    # expand the ≤k surviving witnesses to the probe group's members.
    w_g = Window.partitionBy("ga").orderBy(F.desc("containment"), "doc_b")
    cross = (
        verified.select(
            "ga", "ma", "containment",
            F.explode(F.expr(f"slice(mb, 1, {k})")).alias("doc_b"),
        )
        .withColumn("g_rk", F.row_number().over(w_g))
        .filter(F.col("g_rk") <= k)
        .select(F.explode("ma").alias("doc_a"), "doc_b", "containment")
    )
    w_d = Window.partitionBy("doc_a").orderBy(F.desc("containment"), "doc_b")
    return (
        within.unionByName(cross)
        .withColumn("rk", F.row_number().over(w_d).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select(
            "doc_a", "doc_b", F.round("containment", 6).alias("containment"), "rk"
        )
        .orderBy("doc_a", "rk")
    )


#: q_dedup_incremental's deterministic batch split: documents with
#: doc_id % BATCH_MOD == BATCH_REM play the "new crawl batch", the rest
#: the existing corpus (a ~10% batch at every scale factor).
BATCH_MOD = 10
BATCH_REM = 7


#: Shared by q_dedup_incremental and its streaming-delivery twin
#: q_stream_incremental_dedup (streaming/jobs.py): same semantics, same
#: oracle — stream ≡ batch is the streaming correctness contract.
INCREMENTAL_DEDUP_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        i -> concat_ws(' ', string_split(text, ' ')[i],
                       string_split(text, ' ')[i+1],
                       string_split(text, ' ')[i+2])
      )) AS s
      FROM documents
    ),
    batch  AS (SELECT * FROM sh WHERE doc_id % {BATCH_MOD} = {BATCH_REM}),
    corpus AS (SELECT * FROM sh WHERE doc_id % {BATCH_MOD} <> {BATCH_REM}),
    bg AS (SELECT doc_id, unnest(s) AS gram FROM batch),
    cg AS (SELECT doc_id, unnest(s) AS gram FROM corpus),
    sizes_b AS (SELECT doc_id, len(s) AS n FROM batch),
    sizes_c AS (SELECT doc_id, len(s) AS n FROM corpus),
    inter AS (
      SELECT b.doc_id AS b_id, c.doc_id AS c_id, count(*) AS n_common
      FROM bg b JOIN cg c ON b.gram = c.gram
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT i.b_id, i.c_id,
             round(CAST(i.n_common AS DOUBLE)
                   / (sb.n + sc.n - i.n_common), 6) AS j
      FROM inter i JOIN sizes_b sb ON sb.doc_id = i.b_id
                   JOIN sizes_c sc ON sc.doc_id = i.c_id
      WHERE i.n_common * 10 >= (sb.n + sc.n - i.n_common) * 8
    ),
    agg AS (
      SELECT b_id, count(*) AS n_matches, max(j) AS best_jaccard,
             min(c_id) AS first_match_id
      FROM matches GROUP BY b_id
    )
    SELECT d.doc_id,
           coalesce(a.n_matches, 0) AS n_matches,
           a.best_jaccard,
           a.first_match_id,
           a.b_id IS NULL AS is_novel
    FROM (SELECT doc_id FROM batch) d LEFT JOIN agg a ON a.b_id = d.doc_id
    """


@query(
    "q_dedup_incremental",
    oracle=INCREMENTAL_DEDUP_ORACLE,
    tags=("llm", "dedup", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus near-dedup (VERDICT r7 item 3): a new
    crawl BATCH screened against the EXISTING corpus — the recurring-crawl
    production shape (reference analog: the restart-idempotency contract,
    dataCollector.py:73, where a re-poll must not re-insert what the
    store already holds). Per batch document: how many corpus documents
    it near-duplicates (exact distinct-3-shingle Jaccard >= 0.8), the
    best score, the smallest matching corpus id, and the `is_novel`
    verdict the ingest decision consumes (novel docs append; matched docs
    drop or link). The batch here is the deterministic ~10% slice
    doc_id % {BATCH_MOD} == {BATCH_REM}; production passes any two
    relations to `incremental_near_dedup`.

    Batch-size invariance (pinned in tests/test_dedup.py): each batch
    document's row depends ONLY on that document and the corpus — never
    on what else rides in the batch — so screening in one batch or many
    yields identical verdicts.

    Scale shape: both sides collapse to DISTINCT shingle sets, MinHash
    32 → 16×2 band hashes, and candidates come from the band-hash
    EQUI-join (batch bands × corpus bands — never a batch×corpus
    all-pairs; plan-pinned). In production the corpus side's signatures
    are computed once per crawl and stored, so the recurring cost is
    banding the batch + one shuffle join keyed on band hashes; the
    exact-verify step touches only candidate set pairs."""
    t = load(spark, sf_dir)
    batch = t.documents.filter(F.col("doc_id") % BATCH_MOD == BATCH_REM)
    corpus = t.documents.filter(F.col("doc_id") % BATCH_MOD != BATCH_REM)
    return incremental_near_dedup(batch, corpus)


def incremental_near_dedup(
    batch_docs: DataFrame, corpus_docs: DataFrame
) -> DataFrame:
    """Asymmetric MinHash+LSH screen of `batch_docs` against
    `corpus_docs` (both `documents`-shaped): one row PER BATCH DOC —
    (doc_id, n_matches, best_jaccard, first_match_id, is_novel), matches
    at exact distinct-shingle Jaccard >= 0.8. Same collapse / band /
    verify machinery as near_dup_pairs, split by side."""
    bsets, csets = _shingle_sets(batch_docs), _shingle_sets(corpus_docs)
    cand = (
        _minhash_bands(bsets)
        .select(F.col("gid").alias("bgid"), "band_id", "band_hash")
        .join(
            _minhash_bands(csets).select(
                F.col("gid").alias("cgid"), "band_id", "band_hash"
            ),
            ["band_id", "band_hash"],
        )
        .select("bgid", "cgid")
        .distinct()
    )
    n_common = F.size(F.array_intersect("b_sh", "c_sh"))
    n_union = F.size("b_sh") + F.size("c_sh") - n_common
    matched = (
        cand.join(
            bsets.select(F.col("gid").alias("bgid"), F.col("sh_set").alias("b_sh")),
            "bgid",
        )
        .join(
            csets.select(
                F.col("gid").alias("cgid"),
                F.col("sh_set").alias("c_sh"),
                F.col("members").alias("c_members"),
            ),
            "cgid",
        )
        .filter(n_common * 10 >= n_union * 8)
        .select(
            "bgid",
            F.round(n_common.cast("double") / n_union, 6).alias("j"),
            F.size("c_members").alias("c_n"),
            F.array_min("c_members").alias("c_min"),
        )
    )
    # Per batch SET: every member of a corpus set scores the same jaccard
    # against it, so doc-level aggregates fold from set-level ones.
    agg = matched.groupBy("bgid").agg(
        F.sum("c_n").cast("bigint").alias("n_matches"),
        F.max("j").alias("best_jaccard"),
        F.min("c_min").alias("first_match_id"),
    )
    return (
        bsets.select(F.col("gid").alias("bgid"), F.explode("members").alias("doc_id"))
        .join(agg, "bgid", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias(
                "n_matches"
            ),
            "best_jaccard",
            "first_match_id",
            F.col("n_matches").isNull().alias("is_novel"),
        )
    )


#: Substring-dedup window width in tokens. 8 matches the contamination
#: n-gram unit; Lee et al. 2022 use 50-token windows at web scale — the
#: width is a constant in every cost term below.
SUBSTR_WIN = 8

#: The two polynomial-hash legs (base, modulus). Both engines fold the
#: identical arithmetic, so window fingerprints are engine-neutral; the
#: packed pair lives in ~2^60 space (collision-safe to ~1e9 windows; a
#: 100 TB corpus adds a third leg the same way).
_POLY1 = (131, 1_000_000_007)
_POLY2 = (137, 1_000_000_009)


def packed_window_hash(sl):
    """Both polynomial-hash legs in ONE fold over a token-code slice (a
    struct accumulator halves the interpreted-lambda work vs two passes),
    packed into the ~2^60 pair space in the finish step. Shared by
    q_substring_dup and q_winnowing so their fingerprints agree."""
    return F.aggregate(
        sl,
        F.struct(
            F.lit(0).cast("bigint").alias("a"),
            F.lit(0).cast("bigint").alias("b"),
        ),
        lambda acc, c: F.struct(
            ((acc["a"] * _POLY1[0] + c) % _POLY1[1]).alias("a"),
            ((acc["b"] * _POLY2[0] + c) % _POLY2[1]).alias("b"),
        ),
        lambda acc: acc["a"] * _POLY2[1] + acc["b"],
    )


@query(
    "q_substring_dup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            t -> CAST(length(t) * 31 + ascii(t) AS BIGINT))
               AS codes,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    w0 AS (
      SELECT doc_id, codes,
             unnest(generate_series(1, CAST(n - {SUBSTR_WIN - 1} AS INTEGER)))
               AS pos
      FROM d WHERE n >= {SUBSTR_WIN}
    ),
    wins AS (
      SELECT doc_id, pos,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                         codes[pos:pos+{SUBSTR_WIN - 1}]),
                         (a, c) -> (a * {_POLY1[0]} + c) % {_POLY1[1]})
               * {_POLY2[1]}
             + list_reduce(list_prepend(CAST(0 AS BIGINT),
                           codes[pos:pos+{SUBSTR_WIN - 1}]),
                           (a, c) -> (a * {_POLY2[0]} + c) % {_POLY2[1]})
               AS h
      FROM w0
    ),
    dup AS (
      SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dwin AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)),
    cov AS (
      SELECT doc_id, pos,
             least({SUBSTR_WIN},
                   coalesce(lead(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) - pos,
                            {SUBSTR_WIN})) AS covered
      FROM dwin
    ),
    perdoc AS (
      SELECT doc_id, count(*) AS n_dup_windows,
             CAST(sum(covered) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(greatest(d.n - {SUBSTR_WIN - 1}, 0) AS BIGINT) AS n_windows,
           coalesce(p.n_dup_windows, 0) AS n_dup_windows,
           coalesce(p.dup_tokens, 0) AS dup_tokens,
           round(coalesce(p.dup_tokens, 0) / CAST(d.n AS DOUBLE), 6)
             AS dup_token_frac
    FROM d LEFT JOIN perdoc p USING (doc_id)
    """,
    tags=("llm", "dedup", "substring"),
)
def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, the Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") shape at sub-document
    granularity: fingerprint every {SUBSTR_WIN}-token window with a
    rolling polynomial hash, mark windows whose fingerprint occurs in
    ≥2 DISTINCT documents, and report per document the duplicated-span
    coverage — window count, duplicated-window count, tokens covered by
    the union of duplicated windows (interval-union sweep via lead()),
    and the covered fraction. This catches quote/boilerplate repetition
    that whole-document Jaccard (q_dedup_near) and even containment
    (q_containment_join) miss when the shared span is a small slice of
    both documents; dropping or clipping the flagged spans is the
    consumer's call, as in the paper.

    Engine-neutral fingerprints: two polynomial legs over the
    q_fingerprint token codes (length*31 + ascii), folded mod 1e9+7 /
    1e9+9 and packed into ~2^60 — both engines compute identical
    arithmetic (no engine-native hash), so the oracle reproduces every
    window hash exactly.

    Scale shape — linear, never quadratic: one scan emits n-W+1 windows
    per doc (the window fold is O(W) per position with W constant; a
    production 50-token window uses the prefix-difference rolling form
    to make it O(1)); duplicated fingerprints come from ONE
    groupBy(hash) with map-side partial count-distinct; the mark-back is
    an equi-join on the same hash key (partitioning reused, no second
    shuffle of the window list); the coverage sweep is a per-doc window
    function over only the DUPLICATED windows. Compare the suffix-array
    construction the paper uses single-node: the hash formulation is the
    shuffle-friendly equivalent a 1000-executor cluster wants."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    codes = F.transform(
        _tokens(), lambda tok: (F.length(tok) * 31 + F.ascii(tok)).cast("bigint")
    )
    d = t.documents.select(
        "doc_id",
        codes.alias("codes"),
        F.size(_tokens()).cast("bigint").alias("n"),
    ).localCheckpoint()

    wins = (
        d.filter(F.col("n") >= SUBSTR_WIN)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), (F.col("n") - (SUBSTR_WIN - 1)).cast("int")),
                    lambda i: F.struct(
                        i.alias("pos"),
                        packed_window_hash(F.slice("codes", i, SUBSTR_WIN)).alias("h"),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    # Cross-doc duplication = the fingerprint's doc_id span is non-trivial:
    # min(doc_id) != max(doc_id) over the h-partition. ONE window pass over
    # ONE evaluation of the window list — the groupBy(h) + join-back twin
    # evaluates the O(n·W) fingerprint fold twice (measured slower at
    # sf0.1) and shuffles the window list a second time for the join.
    w_h = Window.partitionBy("h")
    dwin = (
        wins.withColumn("_span", F.min("doc_id").over(w_h) != F.max("doc_id").over(w_h))
        .filter(F.col("_span"))
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    cov = dwin.withColumn(
        "covered",
        F.least(
            F.lit(SUBSTR_WIN),
            F.coalesce(
                F.lead("pos").over(w_doc) - F.col("pos"), F.lit(SUBSTR_WIN)
            ),
        ),
    )
    perdoc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.sum("covered").cast("bigint").alias("dup_tokens"),
    )
    return d.join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.greatest(F.col("n") - (SUBSTR_WIN - 1), F.lit(0)).cast("bigint").alias(
            "n_windows"
        ),
        F.coalesce("n_dup_windows", F.lit(0).cast("bigint")).alias(
            "n_dup_windows"
        ),
        F.coalesce("dup_tokens", F.lit(0).cast("bigint")).alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0).cast("bigint"))
            / F.col("n").cast("double"),
            6,
        ).alias("dup_token_frac"),
    )


#: Winnowing parameters (Schleimer et al. 2003, the MOSS fingerprinter):
#: token-gram width K and winnow window W over consecutive gram hashes.
#: Guarantee: any shared substring of length >= K + W - 1 tokens shares a
#: selected fingerprint; expected density 2/(W+1).
WINNOW_K = 5
WINNOW_W = 4


@query(
    "q_winnowing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            t -> CAST(length(t) * 31 + ascii(t) AS BIGINT))
               AS codes,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(
               range(1, CAST(n - {WINNOW_K - 1} AS INTEGER) + 1),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      codes[i:i+{WINNOW_K - 1}]),
                      (a, c) -> (a * {_POLY1[0]} + c) % {_POLY1[1]})
                    * {_POLY2[1]}
                  + list_reduce(list_prepend(CAST(0 AS BIGINT),
                      codes[i:i+{WINNOW_K - 1}]),
                      (a, c) -> (a * {_POLY2[0]} + c) % {_POLY2[1]})
             ) AS hs
      FROM d WHERE n >= {WINNOW_K}
    ),
    sel AS (
      SELECT doc_id, len(hs) AS n_grams, hs,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
               j -> CAST(j - 1
                    + len(hs[j:j+{WINNOW_W - 1}])
                    - list_position(list_reverse(hs[j:j+{WINNOW_W - 1}]),
                                    list_min(hs[j:j+{WINNOW_W - 1}]))
                    + 1 AS BIGINT)
             )) AS fp_pos
      FROM g
    ),
    perdoc AS (
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
             CAST(len(fp_pos) AS BIGINT) AS n_fingerprints,
             round(len(fp_pos) / CAST(n_grams AS DOUBLE), 6) AS fp_density,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(fp_pos, p -> hs[CAST(p AS INTEGER)] + p)),
               (a, b) -> xor(a, b)) AS fp_xor
      FROM sel
    )
    SELECT d.doc_id,
           CAST(greatest(d.n - {WINNOW_K - 1}, 0) AS BIGINT) AS n_grams,
           coalesce(p.n_fingerprints, 0) AS n_fingerprints,
           coalesce(p.fp_density, 0.0) AS fp_density,
           coalesce(p.fp_xor, 0) AS fp_xor
    FROM d LEFT JOIN perdoc p USING (doc_id)
    """,
    tags=("llm", "dedup", "fingerprint"),
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003 — the MOSS
    algorithm): hash every {WINNOW_K}-token gram (the shared
    packed_window_hash legs, so fingerprints agree with q_substring_dup's
    hash space), then in every window of {WINNOW_W} consecutive gram
    hashes select the minimum — rightmost on ties, the "robust
    winnowing" rule — and keep the distinct selected (position, hash)
    set. The guarantee that makes this the plagiarism/near-dup
    fingerprinter of record: any substring match of length ≥
    {WINNOW_K}+{WINNOW_W}-1 tokens is CAUGHT by a shared selected
    fingerprint, at an expected density of only 2/({WINNOW_W}+1) of the
    gram stream — the tunable sketch between "store every gram"
    (q_substring_dup) and "one hash per doc" (q_fingerprint). Emits per
    doc the gram count, selected-fingerprint count, density, and an
    order-insensitive XOR checksum of (hash + position) pinning the
    exact selection cross-engine.

    Scale shape: map-only — one scan, zero shuffles, zero joins (the doc
    spine rides through a left self-map, not a join: short docs emit
    zero-fingerprint rows). All array work is per-document with O(n·W)
    constant-bounded lambdas; a corpus-level duplicate screen then
    groupBys the EMITTED fingerprints (q_substring_dup's shape) at ~29%
    of the gram volume."""
    t = load(spark, sf_dir)
    # Token codes materialize FIRST (the q_substring_dup shape): the hash
    # lambda slices `codes` once per window, and Catalyst inlines an
    # unmaterialized codes expression into every reference — an O(n^2)
    # re-tokenization per document without this checkpoint.
    d = t.documents.select(
        "doc_id",
        F.transform(
            _tokens(),
            lambda tok: (F.length(tok) * 31 + F.ascii(tok)).cast("bigint"),
        ).alias("codes"),
    ).localCheckpoint()
    n = F.size("codes")
    hs = F.when(
        n >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), (n - (WINNOW_K - 1)).cast("int")),
            lambda i: packed_window_hash(F.slice("codes", i, WINNOW_K)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))

    def win(j):
        return F.slice(F.col("hs"), j, WINNOW_W)

    sel = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("hs") - (WINNOW_W - 1), F.lit(1)).cast("int"),
            ),
            lambda j: F.struct(
                (
                    j.cast("bigint")
                    - 1
                    + F.size(win(j))
                    - F.array_position(F.reverse(win(j)), F.array_min(win(j)))
                    + 1
                ).alias("pos"),
                F.array_min(win(j)).alias("h"),
            ),
        )
    )
    # Materialize the gram-hash arrays ONCE: Catalyst collapses projections
    # and would inline the O(n·K) hash fold into EVERY downstream reference
    # (the selection lambda reads hs 4x per window, the xor fold once per
    # fingerprint) — the q_dedup_near CSE lesson. Measured 6.4 -> ~1.5 s
    # at sf0.1.
    base = d.select("doc_id", hs.alias("hs")).localCheckpoint()
    return base.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_grams"),
        F.when(F.size("hs") >= 1, sel).otherwise(
            F.array().cast("array<struct<pos:bigint,h:bigint>>")
        ).alias("fps"),
    ).select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.when(
            F.col("n_grams") >= 1,
            F.round(F.size("fps") / F.col("n_grams").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("fp_density"),
        F.aggregate(
            "fps",
            F.lit(0).cast("bigint"),
            lambda acc, s: acc.bitwiseXOR(s["h"] + s["pos"]),
        ).alias("fp_xor"),
    )


#: Bloom screen sizing: m bits, k hash probes. At the test corpus (~450
#: distinct texts) fp ≈ (1 - e^(-kn/m))^k ≈ 4e-8; production sizes m per
#: corpus cardinality the same way.
BLOOM_M = 1 << 16
BLOOM_K = 4


@query(
    "q_bloom_screen",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE doc_id % {BATCH_MOD} = {BATCH_REM}
    ),
    c AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE doc_id % {BATCH_MOD} <> {BATCH_REM}
    )
    SELECT b.doc_id,
           (c.h IS NOT NULL) AS in_corpus_exact,
           TRUE AS no_false_negative
    FROM b LEFT JOIN c ON b.h = c.h
    """,
    tags=("llm", "dedup", "sketch"),
)
def q_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter exact-duplicate pre-screen of a new crawl batch
    against the existing corpus — the constant-memory membership sketch
    every recurring ingest runs BEFORE the expensive near-dup pass
    (q_dedup_incremental): k={BLOOM_K} xxhash64 probes into an
    m={BLOOM_M}-bit filter built from the corpus's content digests. The
    filter is built DISTRIBUTIVELY as a distinct bit-position table
    (bounded at m rows regardless of corpus size → broadcast; a
    production variant packs positions into a bitmap with a
    groupBy(word) bit-OR, same plan shape) — Spark's internal
    bloom_filter_agg is not SQL-exposed in this build, and this
    formulation is engine-deterministic rather than probabilistic.

    Driver-checkable form (the sketch-family convention,
    q_approx_count_distinct): the filter's raw hits are
    implementation-defined, so the output carries the EXACT membership
    flag next to the `no_false_negative` verdict — a Bloom filter may
    false-positive but must NEVER miss a true member, so the verdict is
    an invariant, literal TRUE in the oracle; a broken filter (wrong
    probe seeds, truncated bit table) flips it and fails the hash.

    Scale shape: corpus side is one digest projection + a ≤m-row
    distinct (map-side partials collapse it); the probe explodes
    {BLOOM_K} positions per batch doc and joins the BROADCAST bit table
    map-side; exact membership is a broadcast-or-shuffle semi-join on
    the digest. No fact-scale shuffle of the corpus beyond the bit-table
    fold."""
    t = load(spark, sf_dir)
    batch = t.documents.filter(F.col("doc_id") % BATCH_MOD == BATCH_REM)
    corpus = t.documents.filter(F.col("doc_id") % BATCH_MOD != BATCH_REM)

    def positions(h):
        return F.array_distinct(
            F.array(
                *[
                    F.pmod(F.xxhash64(h, F.lit(seed)), F.lit(BLOOM_M))
                    for seed in range(BLOOM_K)
                ]
            )
        )

    bits = (
        corpus.select(F.explode(positions(F.md5("text"))).alias("bit"))
        .distinct()
    )
    probe = batch.select(
        "doc_id",
        F.md5("text").alias("h"),
        positions(F.md5("text")).alias("pos"),
    )
    matched = (
        probe.select("doc_id", F.size("pos").alias("n_pos"), F.explode("pos").alias("bit"))
        .join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "n_pos")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select("doc_id", (F.col("n_hit") == F.col("n_pos")).alias("bloom_hit"))
    )
    exact = corpus.select(F.md5("text").alias("h")).distinct().withColumn(
        "_in", F.lit(True)
    )
    return (
        probe.join(matched, "doc_id", "left")
        .join(exact, "h", "left")
        .select(
            "doc_id",
            F.coalesce("_in", F.lit(False)).alias("in_corpus_exact"),
            (
                ~F.coalesce("_in", F.lit(False))
                | F.coalesce("bloom_hit", F.lit(False))
            ).alias("no_false_negative"),
        )
    )


#: Segment-dedup granularity: consecutive non-overlapping token windows of
#: this many tokens (the CCNet/FineWeb "paragraph" unit, mapped onto this
#: corpus's newline-free token soup).
SEG_LEN = 8


@query(
    "q_segment_dedup",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    seg AS (
      SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
             array_to_string(
               list_slice(toks, i * {SEG_LEN} + 1, i * {SEG_LEN} + {SEG_LEN}),
               ' ') AS seg_text
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(
                     0, (len(toks) + {SEG_LEN} - 1) // {SEG_LEN} - 1)) AS i
            FROM tl)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           round(count(*) FILTER (WHERE rn = 1) * 1.0 / count(*), 6)
             AS kept_frac,
           coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                      FILTER (WHERE rn = 1), '') AS cleaned_text
    FROM ranked GROUP BY doc_id
    """,
    tags=("llm", "dedup"),
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document segment-level exact dedup — the CCNet/FineWeb
    paragraph-dedup stage: each document splits into consecutive
    {SEG_LEN}-token segments, a segment duplicated ANYWHERE in the corpus
    keeps only its globally-first occurrence (ordered by doc_id, then
    position — the greedy keep-first policy q_dedup_near uses at document
    grain), and every document re-assembles from its surviving segments.
    This is the removal-granularity between q_dedup_exact (whole doc) and
    q_substring_dup (overlapping windows, detection only): boilerplate is
    actually CUT from otherwise-unique documents, and the output carries
    the cleaned text plus per-doc retention stats.

    Scale shape: segmentation is pure per-row array expressions (no
    shuffle); the first-occurrence rank is a window PARTITIONED BY the
    segment digest — key-partitioned shuffle, each hash group is tiny
    (the duplicate multiplicity), no global sort funnel; reassembly is
    one groupBy(doc_id) whose collect_list holds only the doc's own
    ~n_tokens/{SEG_LEN} kept segments (bounded per-row state, like
    q_pack_sequences). Two exchanges total at any corpus size; a 100 TB
    run additionally range-partitions the digest space so hot boilerplate
    segments (the skew risk) spread via AQE skew-split."""
    return segment_dedup(load(spark, sf_dir).documents)


def segment_dedup(docs: DataFrame, seg_len: int = SEG_LEN) -> DataFrame:
    """Segment-level dedup of a ``(doc_id, text)`` corpus — the
    composable form of :func:`q_segment_dedup` (semantics documented
    there); exposed so tests can pin the keep-first policy on a toy
    corpus and pipelines can run it on intermediate stages."""
    from pyspark.sql import Window

    toks = _tokens()
    nseg = F.ceil(F.size(toks) / F.lit(seg_len)).cast("int")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * seg_len + 1, seg_len), " "
                ),
            )
        ).alias("seg_idx", "seg_text"),
    )
    w = Window.partitionBy(F.md5("seg_text")).orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.round(
            F.sum(kept.cast("double")) / F.count(F.lit(1)), 6
        ).alias("kept_frac"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(kept, F.struct("seg_idx", "seg_text"))
                    )
                ),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


@query(
    "q_bloom_bitmap",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE doc_id % {BATCH_MOD} = {BATCH_REM}
    ),
    c AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE doc_id % {BATCH_MOD} <> {BATCH_REM}
    )
    SELECT b.doc_id,
           (c.h IS NOT NULL) AS in_corpus_exact,
           TRUE AS no_false_negative
    FROM b LEFT JOIN c ON b.h = c.h
    """,
    tags=("llm", "dedup", "sketch"),
)
def q_bloom_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PACKED-bitmap Bloom pre-screen — q_bloom_screen's production
    layout: instead of a distinct bit-position table, the m={BLOOM_M}-bit
    filter packs into m/64 64-bit words via ``groupBy(word)
    bit_or(shiftleft(1, bit))`` (map-side partial ORs collapse the
    fact before the exchange — the filter build shuffles at most m/64
    rows per map partition regardless of corpus size), and the probe
    tests membership with ``(word >>> bit) & 1`` against the ≤{BLOOM_M}/64-row
    BROADCAST word table. Same verdict contract as q_bloom_screen (the
    sketch-family convention): raw Bloom hits are implementation-defined
    (xxhash64 probes), so the output carries the EXACT membership flag
    plus the may-false-positive-never-miss invariant, literal TRUE in
    the oracle — a wrong shift direction, a signed >> on bit 63, or a
    dropped word row flips it.

    ANSI note (verify-skill r2 lesson): bit packing uses shiftleft /
    bitwiseOR / shiftrightunsigned — bitwise ops wrap where `*`/`+`
    packing would raise under ansi.enabled; bit 63's set word is
    negative as a signed long and harmless."""
    t = load(spark, sf_dir)
    batch = t.documents.filter(F.col("doc_id") % BATCH_MOD == BATCH_REM)
    corpus = t.documents.filter(F.col("doc_id") % BATCH_MOD != BATCH_REM)
    return bloom_bitmap_screen(batch, corpus)


def bloom_bitmap_screen(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Packed-bitmap Bloom screen of ``batch(doc_id, text)`` against
    ``corpus(doc_id, text)`` — the body of :func:`q_bloom_bitmap`
    (semantics + ANSI notes there); exposed so tests can exercise the
    positive (true-member) probe path on a corpus with known
    duplicates."""

    def positions(h):
        return F.array_distinct(
            F.array(
                *[
                    F.pmod(F.xxhash64(h, F.lit(seed)), F.lit(BLOOM_M))
                    for seed in range(BLOOM_K)
                ]
            )
        )

    pos = F.col("pos")
    words = (
        corpus.select(F.explode(positions(F.md5("text"))).alias("pos"))
        .select(
            (pos / 64).cast("bigint").alias("word"),
            # F.shiftleft only takes a literal shift — the SQL form takes
            # a column.
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )
    probe = batch.select(
        "doc_id",
        F.md5("text").alias("h"),
        positions(F.md5("text")).alias("ps"),
    )
    hit = (
        probe.select("doc_id", F.explode("ps").alias("pos"))
        .select(
            "doc_id",
            (pos / 64).cast("bigint").alias("word"),
            (pos % 64).cast("int").alias("bit"),
        )
        .join(F.broadcast(words), "word", "left")
        .select(
            "doc_id",
            (
                F.col("mask").isNotNull()
                & (F.expr("shiftrightunsigned(mask, bit) & CAST(1 AS BIGINT)") == 1)
            ).alias("bit_set"),
        )
        .groupBy("doc_id")
        .agg(F.min("bit_set").alias("bloom_hit"))
    )
    exact = corpus.select(F.md5("text").alias("h")).distinct().withColumn(
        "_in", F.lit(True)
    )
    return (
        probe.join(hit, "doc_id", "left")
        .join(exact, "h", "left")
        .select(
            "doc_id",
            F.coalesce("_in", F.lit(False)).alias("in_corpus_exact"),
            (
                ~F.coalesce("_in", F.lit(False))
                | F.coalesce("bloom_hit", F.lit(False))
            ).alias("no_false_negative"),
        )
    )


#: q_simhash_join: Hamming radius for near-duplicates (Manku et al.,
#: WWW 2007 use 3 on 64-bit fingerprints for 8B-page web dedup) and the
#: band layout that guarantees recall at that radius: HAM_MAX + 1 = 4
#: disjoint 16-bit bands — <= 3 differing bits leave >= 1 band intact.
SIMHASH_HAM_MAX = 3
SIMHASH_BANDS = 4


@query(
    "q_simhash_join",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    th AS (
      SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT)
                  AS BIGINT) AS h1,
             CAST(CAST(concat('0x', substr(md5(tok), 9, 8)) AS UBIGINT)
                  AS BIGINT) AS h2
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             sum(CASE WHEN b.b < 32
                      THEN CASE WHEN (h1 >> b.b) & 1 = 1 THEN 1 ELSE -1 END
                      ELSE CASE WHEN (h2 >> (b.b - 32)) & 1 = 1
                                THEN 1 ELSE -1 END END) AS v
      FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) b
      GROUP BY 1, 2
    ),
    sh AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 AND b < 32
                      THEN 1::BIGINT << b ELSE 0 END) AS lo,
             sum(CASE WHEN v > 0 AND b >= 32
                      THEN 1::BIGINT << (b - 32) ELSE 0 END) AS hi
      FROM votes GROUP BY 1
    )
    -- The banded candidate join is output-equivalent to all-pairs at
    -- radius {SIMHASH_HAM_MAX} (pigeonhole: 4 disjoint bands, <= 3 bit
    -- flips => some band equal), so the oracle states the SEMANTICS
    -- (every pair within the radius) and the engine proves the blocked
    -- plan finds exactly that set. r13: pair enumeration collapses to
    -- DISTINCT-SIGNATURE grain first (the q_jaccard_sweep set-grain
    -- lesson) — identical texts share a fingerprint, so the all-pairs
    -- radius check runs over distinct (lo, hi) values and expands back
    -- through the doc-grain table; this turns a doc-quadratic oracle
    -- (1.25e9 pairs at sf1, the reason this op was rows+checksum-only
    -- in SIM_sf1) into a signature-quadratic one, value-identical.
    , sig AS MATERIALIZED (SELECT DISTINCT lo, hi FROM sh),
    cross_p AS MATERIALIZED (
      SELECT a.lo AS alo, a.hi AS ahi, b.lo AS blo, b.hi AS bhi,
             CAST(bit_count(xor(a.lo, b.lo))
                  + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b
        ON (a.lo < b.lo OR (a.lo = b.lo AND a.hi < b.hi))
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            <= {SIMHASH_HAM_MAX}
    )
    SELECT least(x.doc_id, y.doc_id) AS doc_a,
           greatest(x.doc_id, y.doc_id) AS doc_b, p.hamming
    FROM cross_p p
    JOIN sh x ON x.lo = p.alo AND x.hi = p.ahi
    JOIN sh y ON y.lo = p.blo AND y.hi = p.bhi
    UNION ALL
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
    FROM sh x JOIN sh y
      ON x.lo = y.lo AND x.hi = y.hi AND x.doc_id < y.doc_id
    """,
    tags=("llm", "dedup", "approx"),
)
def q_simhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate JOIN — the Manku/Jain/Sarma web-dedup
    pipeline (WWW 2007) end-to-end: 64-bit engine-neutral SimHash per
    document (md5-derived per-token bits, so the oracle reproduces the
    exact fingerprints — the q_sample_hash technique; q_simhash's
    xxhash64 fingerprint is faster but engine-private), then ALL pairs
    within Hamming radius {SIMHASH_HAM_MAX} found by pigeonhole banding:
    {SIMHASH_BANDS} disjoint 16-bit bands, any pair within the radius
    agrees on >= 1 whole band, so a per-band equi-join enumerates a
    candidate superset and an exact bit_count verify keeps true matches.
    This is the sketch-join counterpart of q_dedup_near (MinHash/Jaccard
    grain) at constant 16 bytes of state per document.

    Scale shape: the vote fold is ONE fact-scale groupBy(doc_id) whose 64
    conditional sums collapse map-side (all codegen — no interpreted
    higher-order fold, no per-bit shuffle; the 64-way CASE fan-out is a
    projection); fingerprints checkpoint at 2 longs/doc; the band join
    shuffles only the {SIMHASH_BANDS}x-banded fingerprint table (tiny
    rows), never the corpus, and each band bucket holds ~n/2^16 docs so
    candidate enumeration stays near-linear (measured 191k candidates /
    12.5M possible pairs at sf0.1; a hot bucket — boilerplate-heavy
    shards — splits via AQE skew-join like q_segment_dedup). The oracle
    is the unblocked all-pairs statement of the same radius (equivalence
    argument above)."""
    t = load(spark, sf_dir)
    sh = simhash64(t.documents)
    bands = sh.select(
        "doc_id",
        "lo",
        "hi",
        F.posexplode(
            F.array(
                F.col("lo").bitwiseAND(65535),
                F.shiftright("lo", 16).bitwiseAND(65535),
                F.col("hi").bitwiseAND(65535),
                F.shiftright("hi", 16).bitwiseAND(65535),
            )
        ).alias("k", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo"))) + F.bit_count(
        F.col("a.hi").bitwiseXOR(F.col("b.hi"))
    )
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= SIMHASH_HAM_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


def simhash64(documents: DataFrame) -> DataFrame:
    """Engine-neutral 64-bit SimHash fingerprints ``(doc_id, lo, hi)``,
    checkpointed (the vote fold is the expensive pass; both the band
    explode and any verification join re-consume it). Semantics and plan
    shape documented in :func:`q_simhash_join`."""
    tok = documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    md5 = F.md5("tok")
    th = tok.select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h1" if b < 32 else "h2"), b % 32)
                .bitwiseAND(1) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = th.groupBy("doc_id").agg(*votes)
    def _pack(bits):
        acc = F.lit(0).cast("bigint")
        for i, b in enumerate(bits):
            acc = acc.bitwiseOR(
                F.when(F.col(f"v{b}") > 0, F.lit(1 << i).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint"))
            )
        return acc
    return agg.select(
        "doc_id",
        _pack(range(32)).alias("lo"),
        _pack(range(32, 64)).alias("hi"),
    ).localCheckpoint()


#: q_boilerplate_lines: a segment is boilerplate when it occurs in at
#: least this many DISTINCT documents (CCNet cuts paragraphs seen in many
#: shards; 3 is the smallest count that separates template text from the
#: incidental two-doc collision).
BOILER_DF = 3


@query(
    "q_boilerplate_lines",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    seg AS (
      SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
             array_to_string(
               list_slice(toks, i * {SEG_LEN} + 1, i * {SEG_LEN} + {SEG_LEN}),
               ' ') AS seg_text
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(
                     0, (len(toks) + {SEG_LEN} - 1) // {SEG_LEN} - 1)) AS i
            FROM tl)
    ),
    dfreq AS (
      SELECT md5(seg_text) AS h, count(DISTINCT doc_id) AS df
      FROM seg GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(*) FILTER (WHERE df >= {BOILER_DF}) AS BIGINT)
             AS n_boiler,
           round(count(*) FILTER (WHERE df < {BOILER_DF}) * 1.0 / count(*), 6)
             AS kept_frac,
           coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                      FILTER (WHERE df < {BOILER_DF}), '') AS cleaned_text
    FROM seg JOIN dfreq ON dfreq.h = md5(seg.seg_text)
    GROUP BY doc_id
    """,
    tags=("llm", "dedup", "quality"),
)
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-segment removal — the CCNet/RefinedWeb filter that
    q_segment_dedup is NOT: a {SEG_LEN}-token segment counts its
    document frequency corpus-wide, and a segment in >= {BOILER_DF}
    distinct documents (navigation chrome, cookie banners, license
    headers) is cut from EVERY document including the first — keep-first
    dedup keeps one copy of template text; a boilerplate filter keeps
    none, which is why pipelines run both (dedup for storage, this for
    training quality). Output carries per-doc retention stats plus the
    reassembled cleaned text.

    Scale shape: segmentation is map-only (the q_segment_dedup shape);
    document frequency is ONE fact-scale groupBy(digest) whose
    countDistinct(doc_id) partials collapse map-side after the
    per-partition (digest, doc_id) expansion; the df table joins back
    keyed on the SAME digest (both sides hash-partition on the join key —
    co-located exchange, no broadcast assumption since segment vocabulary
    scales with the corpus); reassembly is one groupBy(doc_id) holding
    only the doc's own kept segments. Three key-partitioned exchanges
    total, none a global sort; hot template digests (the skew case —
    that's what boilerplate IS) split via AQE skew-join."""
    return boilerplate_filter(load(spark, sf_dir).documents)


def boilerplate_filter(docs: DataFrame, min_df: int = BOILER_DF) -> DataFrame:
    """Boilerplate-segment removal core over a ``(doc_id, text)`` corpus —
    the composable form of :func:`q_boilerplate_lines` (semantics there);
    exposed so tests can pin the drop-ALL-copies policy on toy corpora."""
    toks = F.split("text", " ")
    nseg = F.ceil(F.size(toks) / F.lit(SEG_LEN)).cast("int")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * SEG_LEN + 1, SEG_LEN), " "
                ),
            )
        ).alias("seg_idx", "seg_text"),
    ).withColumn("h", F.md5("seg_text"))
    dfreq = segs.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    boiler = F.col("df") >= min_df
    return (
        segs.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(boiler.cast("bigint")).alias("n_boiler"),
            F.round(
                F.sum((~boiler).cast("double")) / F.count(F.lit(1)), 6
            ).alias("kept_frac"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~boiler, F.struct("seg_idx", "seg_text"))
                        )
                    ),
                    lambda s: s["seg_text"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


#: q_suffix_lcp: suffix-key cap in tokens (bounds sort-key width; the
#: published construction prefix-doubles past any cap — 24 comfortably
#: exceeds the match threshold below) and the minimum cross-document
#: match length reported (Lee et al. 2022 use 50 BPE tokens on real
#: corpora; 6 fits this corpus's ~54-token documents).
SUFFIX_CAP = 24
LCP_MIN = 6


@query(
    "q_suffix_lcp",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    suf AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             list_slice(tk, i, i + {SUFFIX_CAP - 1}) AS kt,
             array_to_string(list_slice(tk, i, i + {SUFFIX_CAP - 1}), ' ')
               AS skey
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tok)
    ),
    ord1 AS (
      SELECT *, row_number() OVER (ORDER BY skey, doc_id, pos) AS rn FROM suf
    ),
    adj AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.kt AS ka, b.kt AS kb
      FROM ord1 a JOIN ord1 b ON b.rn = a.rn + 1 AND a.doc_id <> b.doc_id
    ),
    l AS (
      SELECT da, db,
        (SELECT coalesce(nullif(list_position(e, 0), 0) - 1, len(e)) FROM
          (SELECT list_transform(range(1, greatest(len(ka), len(kb)) + 1),
             i -> CASE WHEN ka[i] IS NOT DISTINCT FROM kb[i]
                            AND ka[i] IS NOT NULL
                       THEN 1 ELSE 0 END) AS e)) AS lcp
      FROM adj
    )
    SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
           CAST(max(lcp) AS BIGINT) AS max_lcp
    FROM l WHERE lcp >= {LCP_MIN} GROUP BY 1, 2
    """,
    tags=("llm", "dedup"),
)
def q_suffix_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array substring-duplication detection (the ExactSubstr pass
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): every token-position suffix (capped at {SUFFIX_CAP}
    tokens) enters ONE global lexicographic order; suffixes sharing a
    long prefix land adjacent, so scanning ADJACENT pairs from different
    documents with token-LCP >= {LCP_MIN} DETECTS every cross-document
    duplicated substring at that length: all suffixes sharing the
    substring form one contiguous run, and every document in a
    multi-document run is adjacent to a foreign suffix somewhere inside
    it — so each affected document surfaces in >= 1 reported pair, with
    variable-length matches where q_substring_dup's fixed windows and
    q_winnowing's sampled fingerprints both quantize. (Pair ATTRIBUTION
    is to adjacent runs: a substring shared by three docs reports the
    adjacent pairings, not all three pairwise combinations, and a pair's
    max_lcp is the largest ADJACENT observation — a true common-substring
    length, i.e. a tight-in-practice lower bound of the pairwise max;
    tests/test_dedup.py pins both properties against a quadratic
    reference.) Ties between equal keys are totally ordered by
    (key, doc_id, pos), so adjacency — and hence the output — is
    engine-deterministic.

    Scale shape: NO global sort. Any adjacent pair that clears the
    LCP_MIN={LCP_MIN} report threshold shares its first {LCP_MIN} tokens,
    and (token characters all being > 0x20) every suffix sharing that
    {LCP_MIN}-token prefix forms one CONTIGUOUS block of the global
    lexicographic order — so partitioning by the prefix and sorting each
    bucket locally reproduces the global order's qualifying adjacencies
    exactly, while every pair the buckets split apart is sub-threshold
    by construction (different prefix => token-LCP < {LCP_MIN}). That
    turns the published construction's suffix sort into ONE hash
    exchange on the prefix + per-bucket local sorts (a WindowExec whose
    lag() IS the adjacency — the rn/rn+1 self-join disappears with the
    global ranks; this replaced the two-pass range-sort plan at 2.3x
    less wall, r9). Suffix blowup is x~avg-doc-length rows but each
    carries only the capped key — the corpus is scanned once; at 100 TB
    the cap drops the key bytes and a hot boilerplate prefix is a
    bounded bucket (run length of one duplicated substring), further
    splittable by widening the bucket key to the first 2*{LCP_MIN}
    tokens of LCP_MIN-or-longer runs."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir).documents
    tk = F.split("text", " ")
    # Only (doc_id, pos, bucket, skey) rides the exchange — the token
    # array re-derives from skey after the window (split is cheap; the
    # array would double every shuffled row's key bytes).
    suf = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk)),
                lambda i: F.array_join(F.slice(tk, i, SUFFIX_CAP), " "),
            )
        ).alias("p0", "skey"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("bigint").alias("pos"),
        F.array_join(F.slice(F.split("skey", " "), 1, LCP_MIN), " ").alias(
            "bucket"
        ),
        "skey",
    )
    w = Window.partitionBy("bucket").orderBy("skey", "doc_id", "pos")
    adj = suf.select(
        F.col("doc_id").alias("da"),
        "skey",
        F.lag("doc_id").over(w).alias("db"),
        F.lag("skey").over(w).alias("sb"),
    ).filter(F.col("db").isNotNull() & (F.col("da") != F.col("db")))
    eq = F.zip_with(
        F.split("skey", " "),
        F.split("sb", " "),
        lambda x, y: F.when(x.eqNullSafe(y) & x.isNotNull(), 1).otherwise(0),
    )
    pos0 = F.array_position(eq, 0)
    lcp = F.when(pos0 == 0, F.size(eq)).otherwise(pos0 - 1)
    return (
        adj.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            lcp.alias("lcp"),
        )
        .filter(F.col("lcp") >= LCP_MIN)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("lcp").cast("bigint").alias("max_lcp"))
    )


#: FastSS edit-distance threshold for the vocabulary variant join.
FASTSS_D = 2


def _del1(col):
    """All 1-character-deletion variants of a string column, as an array —
    JVM-side lambda (no UDF): variant i = chars before i ++ chars after i."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            F.substring(col, i + 1, F.length(col)),
        ),
    )


@query(
    "q_fastss_join",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w, count(*) AS n FROM tok WHERE w <> '' GROUP BY w
    )
    SELECT a.w AS tok_a, b.w AS tok_b,
           CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM vocab a JOIN vocab b
      ON a.w < b.w AND levenshtein(a.w, b.w) <= {FASTSS_D}
    """,
    tags=("llm", "dedup", "text"),
)
def q_fastss_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant detection over the corpus token vocabulary: every
    token pair within edit distance {FASTSS_D}, with corpus occurrence
    counts — the vocab-normalization / typo-clustering pass of a text
    pipeline. Candidates come from FastSS deletion neighborhoods
    (Bocek et al. 2007): if ed(a,b) <= d, an optimal alignment deletes
    <= d chars from EACH side to reach a common string, so the
    <= d-deletion variant sets intersect — banding by variant hash is a
    complete (zero-false-negative) candidate generator; an exact
    levenshtein verify on candidates removes the false positives.

    Scale shape: the fact-scale work is ONE token-count shuffle to vocab
    grain (Heaps'-law sublinear in corpus size); neighborhood expansion
    (<= 1+L+L^2 variants per distinct token) and the variant equi-join
    run at vocab grain — never all-pairs, never fact-scale. The verify
    touches candidate pairs only. This is the same band-then-verify
    architecture as the MinHash/SimHash joins, specialized to edit
    distance."""
    t = load(spark, sf_dir)
    vocab = (
        t.documents.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()  # vocab grain; scanned twice (both join sides)
    )
    return fastss_pairs(vocab)


def fastss_pairs(vocab: DataFrame) -> DataFrame:
    """FastSS band-then-verify over ``vocab(w, n)`` — the body of
    :func:`q_fastss_join` (semantics + completeness argument there);
    exposed so tests can pin zero-false-negatives against a brute-force
    all-pairs ground truth on toy vocabularies."""
    del1 = _del1(F.col("w"))
    variants = vocab.select(
        "w",
        "n",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("w")),
                    del1,
                    F.flatten(F.transform(del1, lambda v: _del1(v))),
                )
            )
        ).alias("variant"),
    )
    cand = (
        variants.alias("a")
        .join(
            variants.select(
                F.col("w").alias("wb"), F.col("n").alias("nb"), "variant"
            ).alias("b"),
            "variant",
        )
        .filter(F.col("a.w") < F.col("wb"))
        .select(
            F.col("a.w").alias("tok_a"),
            F.col("wb").alias("tok_b"),
            F.col("a.n").alias("n_a"),
            F.col("nb").alias("n_b"),
        )
        .dropDuplicates(["tok_a", "tok_b"])
    )
    return (
        cand.withColumn("dist", F.levenshtein("tok_a", "tok_b"))
        .filter(F.col("dist") <= FASTSS_D)
        .select("tok_a", "tok_b", "dist", "n_a", "n_b")
    )


@query(
    "q_dup_profile",
    oracle="""
    WITH dup AS (
      SELECT md5(text) AS h, count(*) AS dup_count
      FROM documents GROUP BY md5(text)
    ),
    tot AS (SELECT count(*) AS n_docs FROM documents)
    SELECT dup_count,
           count(*)                                   AS n_clusters,
           CAST(dup_count * count(*) AS BIGINT)       AS n_docs,
           round(dup_count * count(*)
                 / CAST((SELECT n_docs FROM tot) AS DOUBLE), 8) AS doc_share,
           round(count(*) * 1.0
                 / CAST(dup_count * count(*) AS DOUBLE), 8)     AS survival_rate
    FROM dup
    GROUP BY dup_count
    """,
    tags=("llm", "dedup", "audit"),
)
def q_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile — the audit table a dedup decision is made
    from: for each exact-duplicate multiplicity k, how many content
    clusters have exactly k copies, how many documents they hold, their
    corpus share, and the survival rate keep-first dedup would leave
    (1/k). The "how duplicated is this crawl really" histogram (the
    first figure of every dedup paper), at digest grain.

    Scale shape: one digest-grain hash aggregation (the q_dedup_exact
    shuffle), then a second aggregation at multiplicity grain (dozens of
    rows); the corpus-size scalar rides a 1-row broadcast. Nothing
    fact-scale after the first shuffle."""
    t = load(spark, sf_dir)
    dup = t.documents.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    tot = t.documents.agg(F.count(F.lit(1)).alias("n_docs_tot"))
    return (
        dup.groupBy("dup_count")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            "dup_count",
            "n_clusters",
            (F.col("dup_count") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            F.round(
                (F.col("dup_count") * F.col("n_clusters"))
                / F.col("n_docs_tot").cast("double"),
                8,
            ).alias("doc_share"),
            F.round(
                F.col("n_clusters")
                / (F.col("dup_count") * F.col("n_clusters")).cast("double"),
                8,
            ).alias("survival_rate"),
        )
    )


#: URL synthesis shared by q_dedup_url's two engines: a deterministic mix of
#: scheme/host case noise, a default port, a www prefix, tracking params,
#: param-order shuffling and fragments — the exact variant axes crawl
#: frontiers must collapse (rules follow RFC 3986 §6 normalization plus the
#: utm-strip convention every web-corpus pipeline applies).
_URL_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/Docs/' "
    "|| CAST(doc_id % 40 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 "
    "  THEN '?utm_source=feed&utm_campaign=x&id=' "
    "       || CAST(doc_id % 5 AS VARCHAR) "
    "WHEN doc_id % 3 = 1 "
    "  THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_medium=social' "
    "ELSE '?id=' || CAST(doc_id % 5 AS VARCHAR) END || "
    "CASE WHEN doc_id % 2 = 0 "
    "  THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END"
)


@query(
    "q_dedup_url",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, source, {_URL_SQL} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_replace(
               regexp_replace(
                 lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                 '^www\\.', ''),
               ':443$', '') AS host,
             regexp_replace(
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
               '/$', '') AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM raw
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' || host || path ||
             CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
      FROM (
        SELECT doc_id, scheme, host, path,
               array_to_string(
                 list_sort(list_filter(string_split(query, '&'),
                                       x -> NOT starts_with(x, 'utm_'))),
                 '&') AS cq
        FROM parts
      )
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_dups,
           min(doc_id) AS keep_id
    FROM canon
    GROUP BY canonical_url
    HAVING count(*) >= 2
    ORDER BY canonical_url
    """,
    tags=("llm", "dedup", "url"),
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact dedup — the crawl-frontier stage that
    runs BEFORE any content dedup at 100 TB (collapsing URL variants is
    ~free and removes whole fetches; content dedup costs a corpus pass).
    Rules: lowercase scheme+host, strip leading www., strip the default
    :443 port, drop the fragment, strip the trailing path slash, remove
    utm_* tracking params, and sort surviving query params — RFC 3986 §6
    normalization plus the tracking-param strip every web pipeline adds.

    Everything is ONE map-side projection (regexp field extraction +
    higher-order filter/sort on the param array — no explode, no UDF)
    followed by the q_dedup_exact policy (min doc_id per canonical key).
    At 100 TB the only exchange is the canonical-key groupBy; the raw
    URL string never shuffles (the canonical form is strictly shorter).
    The synthetic URL derivation is shared verbatim with the oracle, so
    the test exercises the CANONICALIZER, not the generator."""
    t = load(spark, sf_dir)
    # identical derivation; Spark spells the string cast STRING, not VARCHAR
    url = F.expr(_URL_SQL.replace("AS VARCHAR", "AS STRING"))
    raw = t.documents.select("doc_id", "source", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        r"/$",
        "",
    )
    qparams = F.array_sort(
        F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda x: ~x.startswith("utm_"),
        )
    )
    cq = F.array_join(qparams, "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(cq == "", "").otherwise(F.concat(F.lit("?"), cq)),
    )
    return (
        raw.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") >= 2)
        .orderBy("canonical_url")
    )


#: Content-defined chunking: a token whose 32-bit md5 prefix is ≡ 0 mod
#: CDC_MOD CLOSES the current chunk — the boundary token is the chunk's
#: last token and the NEXT token starts a new chunk (exclusive prefix
#: sum of boundary flags; expected chunk length = CDC_MOD tokens).
CDC_MOD = 8


@query(
    "q_chunk_cdc",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id, i AS pos, toks[i] AS tok,
             CASE WHEN CAST(CAST(concat('0x', substr(md5(toks[i]), 1, 8))
                             AS UBIGINT) AS BIGINT) % {CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM tl, unnest(generate_series(1, len(toks))) AS t(i)
    ),
    assigned AS (
      SELECT doc_id, pos, tok,
             coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS chunk_idx
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, chunk_idx,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
             count(*) AS n_toks
      FROM assigned GROUP BY doc_id, chunk_idx
    ),
    by_fp AS (
      SELECT md5(chunk_text) AS fp, count(*) AS mult,
             min(n_toks) AS n_toks
      FROM chunks GROUP BY md5(chunk_text)
    ),
    tot AS (SELECT sum(mult) AS n_total FROM by_fp)
    SELECT CAST(mult AS BIGINT) AS dup_count,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(mult * count(*) AS BIGINT) AS n_instances,
           round(mult * count(*) / CAST(n_total AS DOUBLE), 8)
             AS instance_share,
           round(avg(n_toks), 6) AS avg_tokens
    FROM by_fp CROSS JOIN tot
    GROUP BY mult, n_total ORDER BY dup_count
    """,
    tags=("llm", "dedup"),
)
def q_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC idea at token grain):
    a token with md5(token) ≡ 0 mod {CDC_MOD} CLOSES the current chunk
    (it is the chunk's last token; the next token starts a new chunk —
    exclusive prefix sum of boundary flags, identically in both
    engines), so boundaries depend on CONTENT, not position — insert one word at the
    top of a near-duplicate document and every q_segment_dedup fixed
    window shifts and misses, while CDC chunks realign immediately after
    the edit. This is the storage-dedup / shift-robust-near-dup
    primitive; output is the corpus chunk-multiplicity profile (the
    q_dup_profile grain, at sub-document resolution).

    Scale shape: tokenize+boundary is map-side; chunk assignment is an
    exclusive prefix sum over ONE doc-keyed window (each partition is a
    single document — bounded state); reassembly groups by (doc, chunk);
    the multiplicity profile re-keys by chunk digest, where hot
    boilerplate chunks are exactly the AQE-skew-split case q_segment_dedup
    documents. No stage ever holds more than a document or a digest
    group."""
    t = load(spark, sf_dir)
    chunks = cdc_chunks(t.documents)
    by_fp = chunks.groupBy(
        F.md5(F.encode(F.col("chunk_text"), "UTF-8")).alias("fp")
    ).agg(
        F.count(F.lit(1)).alias("mult"), F.min("n_toks").alias("n_toks")
    )
    tot = by_fp.agg(F.sum("mult").alias("n_total"))
    return (
        by_fp.crossJoin(F.broadcast(tot))
        .groupBy("mult", "n_total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.round(F.avg("n_toks"), 6).alias("avg_tokens"),
        )
        .select(
            F.col("mult").cast("bigint").alias("dup_count"),
            "n_chunks",
            (F.col("mult") * F.col("n_chunks"))
            .cast("bigint")
            .alias("n_instances"),
            F.round(
                F.col("mult") * F.col("n_chunks")
                / F.col("n_total").cast("double"),
                8,
            ).alias("instance_share"),
            "avg_tokens",
        )
        .orderBy("dup_count")
    )


def cdc_chunks(docs: DataFrame, mod: int = CDC_MOD) -> DataFrame:
    """Content-defined chunking of a ``(doc_id, text)`` corpus into
    ``(doc_id, chunk_idx, chunk_text, n_toks)`` — the composable core of
    :func:`q_chunk_cdc` (semantics documented there); exposed so tests
    can pin the shift-robustness property (an edit realigns at the next
    boundary) on a toy corpus."""
    from pyspark.sql import Window

    toks = F.split(F.col("text"), " ")
    tok = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    ).select(
        "doc_id",
        "pos",
        "tok",
        F.when(
            F.conv(F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, 8),
                   16, 10).cast("bigint")
            % mod
            == 0,
            1,
        )
        .otherwise(0)
        .alias("boundary"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = tok.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum("boundary").over(w), F.lit(0)).alias("chunk_idx"),
    )
    return assigned.groupBy("doc_id", "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk_text"),
        F.count(F.lit(1)).alias("n_toks"),
    )


@query(
    "q_source_overlap",
    oracle="""
    WITH sd AS (
      SELECT DISTINCT md5(text) AS digest, source FROM documents
    ),
    src AS (
      SELECT source, count(*) AS n_digests FROM sd GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared_texts
      FROM sd a JOIN sd b ON a.digest = b.digest
      WHERE a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           CAST(shared_texts AS BIGINT) AS shared_texts,
           CAST(sa.n_digests AS BIGINT) AS n_a,
           CAST(sb.n_digests AS BIGINT) AS n_b,
           round(shared_texts /
                 CAST(sa.n_digests + sb.n_digests - shared_texts AS DOUBLE),
                 8) AS jaccard
    FROM pairs
    JOIN src sa ON sa.source = pairs.source_a
    JOIN src sb ON sb.source = pairs.source_b
    ORDER BY source_a, source_b
    """,
    tags=("llm", "dedup", "audit"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-overlap matrix: for every source pair, how
    many distinct texts they SHARE, and the Jaccard of their digest sets
    — the dataset-composition audit run before mixing corpora (CC vs C4
    vs Books overlap is the canonical example: double-counting shared
    mass silently re-weights the mixture and double-trains on dups).

    Shape: digests dedup to (digest, source) grain first (one exchange),
    then the overlap join runs DIGEST-keyed — each digest group is the
    handful of sources carrying that text (≤|sources|, never corpus-
    sized), so the 'self-join' is output-proportional, and the per-source
    totals broadcast back. At 100 TB this is the q_dedup_exact shuffle
    plus a bounded-fanout join; the |sources|² matrix is the output, not
    the work."""
    t = load(spark, sf_dir)
    sd = t.documents.select(
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("digest"), "source"
    ).distinct()
    src = sd.groupBy("source").agg(F.count(F.lit(1)).alias("n_digests"))
    a = sd.select("digest", F.col("source").alias("source_a"))
    b = sd.select("digest", F.col("source").alias("source_b"))
    pairs = (
        a.join(b, "digest")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_texts"))
    )
    return (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("source").alias("source_a"),
                    F.col("n_digests").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("source").alias("source_b"),
                    F.col("n_digests").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_texts",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("shared_texts")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("shared_texts")
                ).cast("double"),
                8,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


#: Jaccard-threshold tuning sweep grid (loosest first — the single
#: prefix-filter pass runs at SWEEP_TAUS[0]).
SWEEP_TAUS = (0.7, 0.75, 0.8, 0.85, 0.9, 0.95)


@query(
    "q_jaccard_sweep",
    # SET-grain oracle (r13): collapse identical token sets BEFORE pair
    # enumeration, mirroring the engine's r12 jaccard_set_core re-grain
    # (and the r11 minacc oracle lesson). The former doc-grain all-pairs
    # form was quadratic in DOCUMENTS (1.25e9 list_intersects at sf1 —
    # the reason this op sat rows+checksum-only in SIM_sf1); this form
    # is quadratic only in DISTINCT token sets (~5e3 at sf1), making the
    # sf1 FULL value compare feasible. Exactly equivalent: a cross-set
    # doc pair's jaccard IS its set pair's jaccard (counted ma·mb), a
    # same-set doc pair has jaccard 1.0 ≥ every grid tau (counted
    # C(m,2); its members affected at every tau).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_sort(list_distinct(
               string_split(lower(text), ' '))) AS s
      FROM documents
    ),
    sets AS MATERIALIZED (
      SELECT s, CAST(count(*) AS BIGINT) AS m,
             row_number() OVER (ORDER BY array_to_string(s, chr(1))) AS sid
      FROM toks GROUP BY s
    ),
    kept AS MATERIALIZED (
      SELECT a.sid AS sa, b.sid AS sb, a.m AS ma, b.m AS mb,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS j
      FROM sets a JOIN sets b ON a.sid < b.sid
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= {SWEEP_TAUS[0]}
    ),
    docs_n AS (SELECT count(*) AS n_docs FROM documents),
    within AS (
      SELECT coalesce(sum(m * (m - 1) // 2), 0) AS w FROM sets WHERE m >= 2
    ),
    grid AS (SELECT unnest([{", ".join(str(t) for t in SWEEP_TAUS)}]) AS tau),
    maxj AS MATERIALIZED (
      SELECT sid, max(j) AS mj FROM (
        SELECT sa AS sid, j FROM kept UNION ALL SELECT sb AS sid, j FROM kept
      ) GROUP BY sid
    ),
    per AS (
      SELECT g.tau,
             CAST(coalesce(sum(k.ma * k.mb) FILTER (WHERE k.j >= g.tau), 0)
               AS BIGINT) AS cross_pairs
      FROM grid g LEFT JOIN kept k ON true GROUP BY g.tau
    ),
    aff AS (
      SELECT g.tau,
             CAST(coalesce(sum(CASE WHEN s.m >= 2
                                      OR coalesce(x.mj, -1.0) >= g.tau
                                    THEN s.m ELSE 0 END), 0) AS BIGINT)
               AS n_docs_affected
      FROM grid g CROSS JOIN sets s LEFT JOIN maxj x ON x.sid = s.sid
      GROUP BY g.tau
    )
    SELECT p.tau, CAST(p.cross_pairs + w.w AS BIGINT) AS n_pairs,
           a.n_docs_affected,
           round(a.n_docs_affected / CAST(n.n_docs AS DOUBLE), 8)
             AS doc_share
    FROM per p JOIN aff a ON a.tau = p.tau
    CROSS JOIN within w CROSS JOIN docs_n n
    ORDER BY p.tau
    """,
    tags=("llm", "dedup", "tuning"),
)
def q_jaccard_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning curve: pair counts and affected-document
    share at every candidate Jaccard cut {SWEEP_TAUS} — the evidence for
    CHOOSING the near-dup threshold (too low deletes real content, too
    high leaves boilerplate; pipelines pick the knee of exactly this
    curve). The q_length_filter_sweep pattern applied to similarity.

    ONE prefix-filter pass at the LOOSEST cut ({SWEEP_TAUS[0]}) produces
    every pair any threshold in the grid can keep (prefix filtering is
    monotone: candidates(τ) ⊆ candidates(τ') for τ ≥ τ'), and the whole
    grid aggregates from that single STREAMED pair table: each pair
    explodes to its two doc rows, then ONE aggregate computes every
    threshold's pair count (Σ1{{j≥τ}}/2 — each pair contributes exactly
    two doc rows) and affected-doc count (conditional countDistinct,
    whose partial aggregation collapses to doc grain map-side). The pair
    table is NEVER materialized — a localCheckpoint here put ~10⁹ sf1
    pair rows on the driver heap and OOM'd (the summary-grain-only
    checkpoint rule exists for exactly this); as written the pairs flow
    straight into combinable partials. At 100 TB: one PPJoin plus an
    output-grain reduce."""
    t = load(spark, sf_dir)
    # rounded ratio never enters: the oracle's grid compares the
    # UNROUNDED ratio, so a pair whose true jaccard sits within 5e-7 of
    # a grid tau must be classified on the exact value (advice r10).
    # r12: the whole sweep aggregates at SET grain — pair counts are
    # member-multiplicity PRODUCTS (|ma|·|mb| per qualifying set pair,
    # C(m,2) per duplicated set) and affected docs are set-size sums
    # gated on each set's max partner jaccard, so NOTHING ever expands
    # to member pairs. At benchdata/sf10 (100x duplicate depth) the
    # member-pair form wedged on ~10^4 pairs per set pair; this form is
    # independent of duplicate depth by construction.
    sets, cross_sets = jaccard_set_core(t.documents, SWEEP_TAUS[0])
    n_docs = t.documents.count()
    cj = cross_sets.select(F.col("ga").alias("gid"), "jaccard").unionByName(
        cross_sets.select(F.col("gb").alias("gid"), "jaccard")
    )
    maxj = cj.groupBy("gid").agg(F.max("jaccard").alias("max_j"))
    per_set = (
        sets.select("gid", F.size("members").alias("m"))
        .join(maxj, "gid", "left")
    )
    # within pairs have jaccard exactly 1.0 >= every grid tau, so a
    # duplicated set's members are affected at EVERY threshold.
    set_aggs = per_set.agg(
        F.coalesce(
            F.sum((F.col("m") * (F.col("m") - 1)).cast("bigint")), F.lit(0)
        ).alias("w2"),  # 2x within-pair count
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("m") >= 2)
                        | (F.coalesce("max_j", F.lit(-1.0)) >= tau),
                        F.col("m"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"d{i}")
            for i, tau in enumerate(SWEEP_TAUS)
        ],
    )
    cross_aggs = cross_sets.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("jaccard") >= tau,
                        F.size("ma").cast("bigint") * F.size("mb"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"c{i}")
            for i, tau in enumerate(SWEEP_TAUS)
        ]
    )
    one = set_aggs.crossJoin(cross_aggs)
    rows = [
        F.struct(
            F.lit(tau).alias("tau"),
            (F.col("w2") / 2 + F.col(f"c{i}"))
            .cast("bigint")
            .alias("n_pairs"),
            F.col(f"d{i}").alias("n_docs_affected"),
            F.round(F.col(f"d{i}") / F.lit(float(n_docs)), 8).alias(
                "doc_share"
            ),
        )
        for i, tau in enumerate(SWEEP_TAUS)
    ]
    return (
        one.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.tau", "r.n_pairs", "r.n_docs_affected", "r.doc_share")
        .orderBy("tau")
    )


#: q_minhash_accuracy signature width (md5-derived, engine-neutral —
#: xxhash64 signatures from minhash_signature() cannot be replayed by
#: DuckDB, so the ACCURACY AUDIT uses the md5 four-uniforms-per-digest
#: construction from the cross-engine determinism toolkit).
MINACC_H = 32


def _minacc_sig_expr() -> str:
    """Spark SQL md5-MinHash fold: slot i (0..31) hashes shingle||'|'||
    (i div 4) and takes 32-bit slice i%4 of the digest — 4 uniforms per
    md5, 8 digests per shingle, min-folded over the shingle set."""
    return f"""aggregate(sh_set,
      array_repeat(cast(4294967296 as bigint), {MINACC_H}),
      (acc, sh) -> zip_with(acc,
        transform(sequence(0, {MINACC_H - 1}),
          i -> cast(conv(substr(md5(concat(sh, '|',
                                           cast(i div 4 as string))),
                         (i % 4) * 8 + 1, 8), 16, 10) as bigint)),
        (a, b) -> least(a, b)))"""


def _minacc_oracle() -> str:
    """DuckDB twin of q_minhash_accuracy at SET grain: identical shingle
    sets collapse FIRST (exactly the engine's near_dup_pairs move), so
    the gram inverted-index enumeration and the signature join run over
    content-distinct sets and only the final output expands to member
    doc pairs — without the collapse, 10x duplicate depth made the
    gram self-join 100x (measured 183 s at sf1; this form is ~10 s)."""
    sig_cols = ", ".join(
        f"""list_min(list_transform(s, sh ->
           CAST(CAST(concat('0x', substr(md5(sh || '|' || '{i // 4}'),
                                         {(i % 4) * 8 + 1}, 8))
                AS UBIGINT) AS BIGINT))) AS m{i}"""
        for i in range(MINACC_H)
    )
    matches = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(MINACC_H)
    )
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2])
             )) AS s
      FROM documents),
    setg AS MATERIALIZED (
      SELECT s, min(doc_id) AS gid,
             list(doc_id ORDER BY doc_id) AS members, len(s) AS n
      FROM sh GROUP BY s
    ),
    grams AS MATERIALIZED (SELECT gid, unnest(s) AS gram FROM setg),
    inter AS (
      SELECT a.gid AS ga, b.gid AS gb, count(*) AS n_common
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.gid < b.gid
      GROUP BY 1, 2
    ),
    sigs AS MATERIALIZED (SELECT gid, {sig_cols} FROM setg),
    cross_est AS (
      SELECT i.ga, i.gb,
             round(CAST(i.n_common AS DOUBLE)
                   / (ta.n + tb.n - i.n_common), 6) AS exact_j,
             ({matches}) / {float(MINACC_H)} AS est_raw
      FROM inter i
      JOIN setg ta ON ta.gid = i.ga JOIN setg tb ON tb.gid = i.gb
      JOIN sigs sa ON sa.gid = i.ga JOIN sigs sb ON sb.gid = i.gb
      WHERE i.n_common * 10 >= (ta.n + tb.n - i.n_common) * 8
    ),
    expanded AS (
      SELECT least(ua.da, ub.db) AS a_id, greatest(ua.da, ub.db) AS b_id,
             e.exact_j, e.est_raw
      FROM cross_est e
      JOIN setg ta ON ta.gid = e.ga JOIN setg tb ON tb.gid = e.gb,
      unnest(ta.members) AS ua(da), unnest(tb.members) AS ub(db)
      UNION ALL
      SELECT u1.m1 AS a_id, u2.m2 AS b_id, 1.0 AS exact_j, 1.0 AS est_raw
      FROM setg, unnest(members) AS u1(m1), unnest(members) AS u2(m2)
      WHERE len(members) >= 2 AND u1.m1 < u2.m2
    )
    SELECT a_id, b_id, exact_j,
           round(est_raw, 6) AS est_j,
           round(abs(est_raw - exact_j), 6) AS abs_err,
           round(avg(abs(est_raw - exact_j)) OVER (), 6) AS mae,
           round(avg(est_raw - exact_j) OVER (), 6) AS bias,
           round(max(abs(est_raw - exact_j)) OVER (), 6) AS max_abs_err
    FROM expanded ORDER BY a_id, b_id
    """


@query(
    "q_minhash_accuracy",
    oracle=_minacc_oracle(),
    tags=("llm", "dedup", "approx", "dq"),
)
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every verified near-dup pair
    (q_dedup_near's exact >= 0.8 set), compare the {MINACC_H}-hash
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature slots)
    against the EXACT distinct-shingle Jaccard, reporting per-pair
    error plus corpus MAE / signed bias / max error. This is the audit
    that justifies every threshold choice in the LSH dedup family: the
    binomial SE at j=0.8, H={MINACC_H} is √(j(1−j)/H) ≈ 0.071, and the
    measured MAE/bias prove the deployed sketches sit inside it (an
    implementation bug — biased hashing, slot reuse — shows up as bias
    far outside the binomial envelope long before it corrupts dedup
    output).

    Cross-engine note: the PRODUCTION signatures (minhash_signature)
    use xxhash64, which DuckDB cannot replay, so the audit derives its
    signatures from the md5 four-uniforms-per-digest construction — the
    same unbiased min-over-uniforms estimator, byte-identical on both
    engines. Scale shape: signatures are one map-side fold over each
    doc's shingle set (8 md5 digests per shingle); the pair set is the
    EXACT gram-inverted-index enumeration (exact_dup_pairs — derived
    identically on both engines, per ADVICE r11: an audit whose
    mae/bias/max are whole-corpus windows cannot draw its pair set from
    the probabilistic banding it audits, because one LSH tail miss
    would shift every row); the estimate join runs at PAIR grain and
    the audit stats fold over the pair table."""
    from ..partitioning import ensure_parallelism

    t = load(spark, sf_dir)
    pairs = exact_dup_pairs(t.documents).select(
        "a_id", "b_id", F.col("jaccard").alias("exact_j")
    )
    corpus = ensure_parallelism(t.documents)
    sigs = corpus.select(
        "doc_id",
        F.array_distinct(shingles(_tokens())).alias("sh_set"),
    ).select("doc_id", F.expr(_minacc_sig_expr()).alias("sig"))
    est_raw = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("sa"), F.col("sb"), lambda x, y: x == y
                ),
                lambda b: b,
            )
        )
        / float(MINACC_H)
    )
    est = (
        pairs.join(
            sigs.select(
                F.col("doc_id").alias("a_id"), F.col("sig").alias("sa")
            ),
            "a_id",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("b_id"), F.col("sig").alias("sb")
            ),
            "b_id",
        )
        .select("a_id", "b_id", "exact_j", est_raw.alias("est_raw"))
    )
    from pyspark.sql import Window

    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    err = F.col("est_raw") - F.col("exact_j")
    return est.select(
        "a_id",
        "b_id",
        "exact_j",
        F.round("est_raw", 6).alias("est_j"),
        F.round(F.abs(err), 6).alias("abs_err"),
        F.round(F.avg(F.abs(err)).over(wall), 6).alias("mae"),
        F.round(F.avg(err).over(wall), 6).alias("bias"),
        F.round(F.max(F.abs(err)).over(wall), 6).alias("max_abs_err"),
    ).orderBy("a_id", "b_id")
