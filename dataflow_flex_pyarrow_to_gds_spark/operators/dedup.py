"""Deduplication operators for large-scale training-data pipelines.

The family composes: pair finders (exact / MinHash-LSH / SimHash /
n-gram / edit-distance) → :func:`near_dup_groups` (transitive closure of
the pair graph → one keeper per group) → a semi/anti join back to the
corpus. That last mile is what a real curation run executes: not "which
pairs are similar" but "which rows survive".

Extension surface beyond the reference (per the repo north star): exact
dedup, MinHash + banded LSH near-dup, SimHash near-dup — all expressed
with built-in JVM-side functions (no Python in the hot path).

Scale design (100 TB stance):
- Exact dedup groups on an md5 of a normalized fingerprint — a shuffle on
  a short string key with map-side partial aggregation; never on raw text.
- MinHash: signatures are computed in one narrow pass (higher-order
  functions over the token array — whole-stage codegen'd, no UDF). The
  LSH band join produces candidates from same-bucket cooccurrence only —
  the classic O(candidates) alternative to the O(n²) cross join. Candidate
  pairs are deduplicated BEFORE tokens are re-joined for verification, so
  the wide text payload never rides the band shuffle.
- SimHash: 64-bit signature via bit-vote aggregation; near-dup candidates
  via the pigeonhole band trick (4×16-bit chunks — any pair within
  Hamming distance 3 shares at least one exact chunk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._materialize import materialize

def spread_to_cluster(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy narrow stage has at least cluster parallelism.

    No-op (and no exchange) when the input already has ≥ defaultParallelism
    splits — the normal case for real many-file tables; only small or
    unsplittable inputs (single row-group files) pay one cheap exchange
    instead of pinning the whole pass to one task. The unconditional
    ``repartition`` it replaces would shuffle the entire corpus at scale
    for no benefit.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


# ---------------------------------------------------------------------------
# tokenization / normalization primitives
# ---------------------------------------------------------------------------

def tokens_col(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens of a text column."""
    t = F.trim(text)
    if lowercase:
        t = F.lower(t)
    return F.split(t, r"\s+")


def token_set_col(text: Column) -> Column:
    """Distinct-token set (order-insensitive bag-of-words identity)."""
    return F.array_distinct(tokens_col(text))


def shingles_col(tokens: Column, k: int) -> Column:
    """Distinct word k-grams (k=1 → distinct tokens).

    Empty tokens are dropped first: splitting "" or whitespace-only text
    yields [""], which would otherwise make all empty documents mutual
    near-duplicates with jaccard 1.0.
    """
    toks = F.filter(tokens, lambda x: x != "")
    if k == 1:
        return F.array_distinct(toks)
    return F.when(F.size(toks) < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, F.lit(k))),
            )
        )
    )


def normalized_fingerprint_col(text: Column) -> Column:
    """Canonical content key: md5 of the sorted distinct-token set.

    Catches reordered/duplicated-word copies that byte-exact hashing
    misses; md5 keeps the shuffle key at 32 bytes regardless of doc size.
    """
    return F.md5(F.array_join(F.array_sort(token_set_col(text)), " "))


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Group by normalized content fingerprint → (fingerprint, keep_id, n).

    ``keep_id`` is the smallest id in the group (deterministic keeper
    policy); ``n`` is the group size.
    """
    return (
        df.select(
            normalized_fingerprint_col(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def deduplicate_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return df minus non-keeper duplicates (keeper = min id per
    fingerprint). One shuffle on the 32-byte fingerprint key."""
    w = W.partitionBy(normalized_fingerprint_col(F.col(text_col))).orderBy(
        F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _first_collision_band(
    l_arr: Column, r_arr: Column, bands: int
) -> Column:
    """0-based index of the FIRST band where the two bucket arrays
    agree (NULL if none do — impossible for rows the band join emits,
    which guarantees agreement at the joined band). The
    keep-each-pair-once filter is ``band_col == _first_collision_band``
    — exact-equivalent to deduplicating the generated pairs, but pure
    arithmetic instead of a shuffle of all of them.

    A chained CASE evaluating each band ONCE: O(bands) of generated
    code, short-circuiting at the first agreement, whole-stage
    compiled. The r14 form (a cumulative-OR CASE keyed on the current
    band) emitted O(bands²) comparisons — 552 element_at calls at
    bands=24 — which blew janino's 64 KB method limit and silently
    demoted the ENTIRE fused candidate+verify stage (jaccard joins
    included) to interpreted eval (the r14 VERDICT codegen-fallback
    finding). The interpreted exists() HOF alternative stays out of
    codegen per row (measured ~1.3 s vs ~0.8 s on the sf0.1 minhash
    candidate stream when the CASE family landed); this linear form
    keeps the codegen win AND does strictly less per-row work than
    either. Output-identical (pair sets oracle-checked).
    """
    expr: Column = F.lit(None).cast("int")
    for b in range(bands - 1, -1, -1):
        expr = F.when(
            F.element_at(l_arr, b + 1) == F.element_at(r_arr, b + 1),
            F.lit(b),
        ).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signature_col(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature: for seed s, min over shingles of xxhash64(x, s).

    One narrow pass; num_hashes × |shingles| hashing stays inside
    whole-stage codegen. Empty shingle sets yield null mins — filter
    upstream.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(F.transform(shingles, lambda x: F.xxhash64(x, s))),
    )


def lsh_band_col(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of (band, bucket) structs: bucket = hash of the band's slice.

    CAUTION: if ``sig`` is an unmaterialized expression (not a bound
    column), codegen re-evaluates it once PER BAND — the lambda captures
    it. Prefer :func:`lsh_bucket_cols` which derives each band's mins
    directly from the hashed shingles in one pass.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.slice(sig, b * rows_per_band + 1, F.lit(rows_per_band))).alias(
                "bucket"
            ),
        ),
    )


def lsh_bucket_cols(shingles: Column, bands: int, rows_per_band: int) -> Column:
    """Per-band LSH bucket hashes straight from the hashed-shingle array.

    Bit-identical to ``lsh_band_col(minhash_signature_col(sh, b·r), b, r)``
    buckets (xxhash64 of the same ``rows_per_band`` minima in the same
    order), but each band computes only ITS OWN minima, so total work is
    exactly one signature pass — bands·rows hash evaluations per shingle.
    The naive composition captures the whole signature expression inside
    the per-band lambda and codegen re-evaluates all bands·rows minima
    per band: O(bands²·rows) (measured 4.5 s of the 5.7 s minhash total
    at sf0.1). Bands are Python-unrolled (a literal list, not a lambda
    over ``sequence``) precisely so no shared subexpression is captured.
    """
    # One compact nested higher-order expression (codegen keeps it as
    # tight loops; a Python-unrolled bands×rows expression forest
    # measured 2× SLOWER than even the quadratic form — 96 separate
    # array_min nodes blow the generated-method budget). The inner
    # lambdas capture only ``shingles`` — a bound attribute, free to
    # re-reference — never an unmaterialized signature expression.
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.transform(
                F.sequence(F.lit(0), F.lit(rows_per_band - 1)),
                lambda j: F.array_min(
                    F.transform(
                        shingles,
                        lambda x: F.xxhash64(x, b * rows_per_band + j),
                    )
                ),
            )
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    shingle_k: int = 1,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
    collapse_identical: bool = True,
    max_bucket_docs: int | None = None,
    max_exact_pairs: int = 20_000_000,
    prune_unique_shingles: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact jaccard ≥ threshold).

    ``prune_unique_shingles=True`` drops corpus-frequency-1 shingles
    from the BANDED candidate generator only — a LOSSLESS shrink,
    unlike the top-δ common-shingle pruning sometimes used for the same
    purpose: a shingle shared by any true pair has document frequency
    ≥ 2 by definition, so pruning df=1 shingles removes only UNshared
    elements, which can only RAISE each true pair's jaccard on the
    pruned sets and therefore its collision probability (1-(1-j^r)^b is
    monotone in j); verification always runs on the full sets, so
    precision is exact regardless. Docs whose every shingle is unique
    drop out of banding entirely — they cannot pair with anything. On
    web-scale corpora the df=1 long tail is the BULK of the shingle
    mass (typo/entity/boilerplate-fragment singletons), so this trades
    one extra skinny shuffle (8-byte shingle hashes, map-side-combined
    df count) + an array rebuild for a banding stage that hashes and
    explodes only the shingles that can ever collide. Off by default:
    at test scale the synthetic vocabulary is dense (few df=1
    shingles), so the extra passes are pure overhead — the flag is the
    100-TB configuration, exercised end-to-end (banding forced) by the
    ``dedup_minhash_banded`` catalog row.

    shingle → minhash → band → bucket-join → dedup candidates → verify:
    with b bands of r rows the candidate recall at jaccard j is
    1-(1-j^r)^b (128/32 → 1-5e-8 at j=0.8; 96/24 → 1-3.2e-6), so the
    verified output matches an exhaustive join w.h.p. while doing
    ~|candidate| work instead of n².

    ``max_exact_pairs`` (default 20M, 0 disables) selects among THREE
    regimes, cheapest-exact first:

    1. C(docs, 2) ≤ budget → DIRECT exact verify of every
       size-compatible doc pair (broadcast nested-loop over the hashed
       shingle table) — no collapse, no banding, no expansion joins;
    2. else C(reps, 2) ≤ budget after the identical-set collapse (a
       dup-heavy corpus can collapse 10×) → exact verify over rep
       pairs, member pairs re-expanded as usual;
    3. else → the banded LSH path below, unchanged — at 100 TB,
       reps ≫ budget and LSH is the only option.

    This is not a shortcut but the honest crossover: LSH's asymptotic
    win requires n² to be infeasible, and on dup-heavy corpora banding
    barely prunes anyway — measured at sf0.1 (5k docs, 3.9k reps), 3.5M
    of the 7.7M rep pairs sit at jaccard ≥ 0.5, where a 24-band r=4
    scheme passes ≥ 96 % of pairs as candidates (1-(1-j⁴)²⁴ ≥ 0.96 for
    j ≥ 0.6), so the banded path generated 29M join rows to deliver
    3.5M candidates while the exact path verifies each pair once with
    no banding cost at all. The exact regimes' recall is 1.0 by
    construction (a strict superset of any banding), so the output is
    unchanged wherever banding was already exhaustive-green (parity
    asserted in tests). The budget bounds the broadcast side to
    √(2·budget) ≈ 6.3k rows — a few MB for typical documents, but
    unbounded per-row, which is why the crossover runs ONLY when
    ``broadcast_verify`` is left at its ``None`` auto-default: an
    explicit ``False`` is the caller's no-broadcast guard for huge
    shingle arrays (the exact regime IS a broadcast), and an explicit
    ``True`` is the documented way to skip count jobs on transformed,
    non-metadata-cheap inputs — the regime probes cost up to two
    counts (one forcing the shingle pass), which a 100-TB caller must
    not pay for a crossover that cannot fire there (ADVICE r07;
    ``max_exact_pairs=0`` likewise disables both probes). The
    crossover is also skipped when ``max_bucket_docs`` is set: that
    opt-in deliberately TRADES recall by capping the banded generator,
    and silently restoring the dropped pairs would invert the caller's
    choice.

    ``broadcast_verify``: None (default) auto-selects — the per-doc shingle
    table is broadcast for verification only when the corpus has at most
    ``broadcast_max_docs`` docs (broadcast is O(corpus) and would OOM at
    real scale — ADVICE r01); bigger corpora shuffle-join the candidate
    pairs against the shingle table instead.

    ``collapse_identical`` (default on): documents with IDENTICAL shingle
    sets collapse to one representative before LSH, and member pairs are
    re-expanded afterwards (within-group pairs at jaccard 1.0; group-cross
    pairs inherit the representatives' jaccard). Identical sets have
    identical signatures, so the expanded output is exactly the
    uncollapsed output — but a k-member clique costs 1 signature instead
    of k and C(reps,2) instead of C(members,2) generated join rows in
    every bucket it lands in. Dup-heavy corpora (the interesting case for
    a dedup engine) are precisely where those cliques are giant; a
    skew-pathological bucket of identical docs collapses to one row. The
    collapsed table is operator-internally ``cache()``d — it is consumed
    by the banded path, both verification sides, and the member map, and
    recomputing the groupBy per reference measured 171 s vs 21 s at sf0.1.

    ``max_bucket_docs`` (default None = off): OPT-IN skew guard for the
    residual pathology the identical-set collapse cannot absorb — a
    bucket of *near*-identical-but-distinct docs, whose C(bucket, 2)
    generated rows all land in one task. When set, (band, bucket) groups
    larger than the cap are EXCLUDED from candidate generation (one
    extra map-side-combinable aggregate + equi-join on the skinny banded
    stream). This TRADES RECALL for a hard per-task bound: a qualifying
    pair is lost only if EVERY band it collides in is over-capped, so
    with b independent bands the miss probability for a pair colliding
    in k uncapped bands stays 0 — losses concentrate precisely on the
    flood cluster the cap targets. Deliberately not default-on because
    it changes results; production corpora with known dup floods should
    set it to ~10⁴.
    """
    rows_per_band = num_hashes // bands
    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("_id"),
        # Hash each shingle to int64 ONCE; signatures derive from the
        # long (num_hashes × long-hash ≪ num_hashes × string-hash) and
        # verification intersects long arrays instead of string arrays.
        # Jaccard over hashed sets == jaccard over shingles up to
        # xxhash64 collisions (~|A||B|/2⁶⁴ per pair — negligible).
        F.array_distinct(
            F.transform(
                shingles_col(tokens_col(F.col(text_col)), shingle_k),
                lambda x: F.xxhash64(x),
            )
        ).alias("_sh"),
    ).filter(F.size("_sh") > 0)

    n_docs: int | None = None
    # The crossover regimes run ONLY in auto mode (broadcast_verify is
    # None). An explicit False is the caller's no-broadcast OOM guard
    # (the exact regimes broadcast full shingle arrays); an explicit
    # True is the documented way to SKIP count probes on transformed,
    # non-metadata-cheap inputs — at 100 TB the crossover can never
    # fire, so paying up to two count jobs (one forcing the shingle
    # pass) to discover that would defeat the flag's purpose (ADVICE
    # r07). Either explicit value therefore routes straight to the
    # banded path with the chosen verify strategy.
    if (
        max_exact_pairs
        and max_bucket_docs is None
        and broadcast_verify is None
    ):
        # Direct regime of the crossover cascade (see docstring): when
        # even C(raw docs, 2) fits the budget, skip the identical-set
        # collapse too — the collapse exists to keep giant dup cliques
        # out of the BANDED generator, but an exact all-pairs verify
        # emits every member pair anyway, so the groupBy, the member
        # map, and the four expansion joins are pure overhead here
        # (identical sets verify at jaccard exactly 1.0 on their own).
        # df.count() is metadata-cheap on a raw parquet scan; computed
        # once and reused by the banded path's broadcast gate below.
        n_docs = df.count()
        if n_docs * (n_docs - 1) // 2 <= max_exact_pairs:
            # Cache lifetime (ADVICE r6/r07): keyed by canonicalized
            # plan — repeats re-hit, distinct corpora accumulate until
            # MEMORY_AND_DISK LRU spill; loop-over-corpora callers
            # should spark.catalog.clearCache() between corpora.
            return _exact_rep_pairs(base.cache(), threshold)

    members = None
    if collapse_identical:
        # Canonical 64-bit set fingerprint (sorted so permutations of the
        # same set agree). The groupBy shuffle doubles as the
        # parallelism-spreading repartition the signature stage needs, and
        # its key is 8 bytes — the shingle arrays ride it once, exactly as
        # they rode the repartition it replaces.
        base = base.withColumn("_fp", F.xxhash64(F.array_sort("_sh")))
        # (id, fingerprint) only — ~16 B/doc; cached because the expansion
        # joins reference it 4× and each uncached reference would redo the
        # scan→shingle→hash narrow pass.
        members = base.select("_id", "_fp").cache()
        base = (
            base.groupBy("_fp")
            .agg(
                F.min("_id").alias("_id"),
                # all members of a fingerprint group share one shingle set
                F.any_value("_sh").alias("_sh"),
            )
            .cache()
        )
    else:
        # Signature hashing is the CPU-heavy narrow stage (num_hashes ×
        # |shingles| per doc); a single-file input would otherwise pin it
        # to one task (measured 52 s single-threaded at sf0.1). Not
        # persisted: extra references prune to cheap scan+shingle, while
        # persisting breaks scan→shingle→signature codegen fusion
        # (measured net +2.7 s at sf0.1).
        base = spread_to_cluster(base)

    if (
        max_exact_pairs
        and max_bucket_docs is None
        and broadcast_verify is None
    ):
        # Exact small-corpus crossover (see docstring): below the pair
        # budget, verify every size-compatible rep pair directly. The
        # count is a cache hit in the collapse path; uncollapsed it
        # costs one scan+shingle pass (off-default, documented).
        # Skipped when the caller opted into the recall-trading bucket
        # cap — that contract is about bounding the BANDED generator —
        # or passed broadcast_verify explicitly (False: the exact
        # regime IS a broadcast; True: the caller is avoiding count
        # probes on a transformed input — ADVICE r07).
        n_reps = base.count()
        if n_reps * (n_reps - 1) // 2 <= max_exact_pairs:
            verified = _exact_rep_pairs(base, threshold)
            if not collapse_identical:
                return verified
            return _expand_collapsed_pairs(verified, base, members)

    if broadcast_verify is None:
        # Corpus row count (on the raw input, before shingle work)
        # decides whether the per-doc shingle table fits the broadcast
        # budget. Cheap (metadata-only) when ``df`` is a raw parquet
        # scan, as at the catalog call sites; on a transformed input it
        # is a real job — pass broadcast_verify explicitly there. The
        # direct-regime gate above may have counted already; reuse it.
        broadcast_verify = (
            n_docs if n_docs is not None else df.count()
        ) <= broadcast_max_docs

    band_base, band_sh = base, F.col("_sh")
    if prune_unique_shingles:
        # Lossless df≥2 prune (see docstring). df is counted over the
        # banding input (reps, post-collapse): a shingle shared by any
        # CROSS-group true pair has df ≥ 2 there; within-group pairs
        # come from member expansion, never banding. The rebuild keeps
        # the full ``_sh`` beside the pruned ``_shp`` — the size filter
        # and verification stay on full sets. collect_list order is
        # irrelevant: lsh_bucket_cols takes per-band minima.
        # df via partial-aggregated groupBy + join-back (r10). The r7
        # shingle-keyed count window measured 0.13 s cheaper at sf0.1
        # (one fewer exchange), but a window has NO map-side combine:
        # every (doc, shingle) row of a hot shingle lands in one
        # partition — and the df≥2 prune TARGETS shared shingles, so
        # the rows this stage exists to find are exactly the ones that
        # straggle. The groupBy's shuffle carries one row per distinct
        # shingle; AQE broadcasts the measured df map when it fits and
        # can skew-split the join when it doesn't — a window can do
        # neither. Local cost of the at-scale shape: +0.13 s, accepted.
        ex = base.select("_id", F.explode("_sh").alias("_s"))
        sh_df = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
        pruned = (
            ex.join(sh_df, "_s")
            .filter(F.col("_df") >= 2)
            .groupBy("_id")
            .agg(F.collect_list("_s").alias("_shp"))
        )
        # inner join: a doc with NO df≥2 shingle shares nothing with
        # anyone — correctly absent from banding. Numbered repartition
        # because the signature hashing downstream is the CPU-heavy
        # stage and AQE coalesces the few-MB join output to 1-2 tasks
        # (the set-similarity probe trap; measured 33 s vs 7 s at
        # sf0.1 without it).
        band_base = base.join(pruned, "_id").repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
        band_sh = F.col("_shp")

    # Per doc: band-bucket hash array (bands × 8B). Members stay SKINNY —
    # (id, n, buckets) ≈ 270B — because dup-heavy corpora explode giant
    # buckets into O(bands × pairs) generated rows; every byte of member
    # payload is copied per generated pair. (Carrying token arrays here
    # measured 100× slower at sf0.1.)
    with_buckets = band_base.select(
        "_id",
        F.size("_sh").alias("_n"),
        lsh_bucket_cols(band_sh, bands, rows_per_band).alias("_bks"),
    )
    banded = with_buckets.select(
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "_id",
        "_n",
        "_bks",
    ).withColumn("bucket", F.element_at(F.col("_bks"), F.col("band") + 1))

    if max_bucket_docs is not None:
        # Skew cap (opt-in, recall-trading — see docstring): drop
        # over-capped (band, bucket) groups before the self-join. The
        # sizing aggregate runs on the skinny banded stream (16 B keys)
        # and is map-side combinable; the filter join keys on the same
        # (band, bucket) the candidate join uses, so AQE coalesces both
        # into the one existing exchange footprint.
        ok_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_docs)
            .drop("_bsz")
        )
        banded = banded.join(ok_buckets, ["band", "bucket"])

    # Candidate generation: equi-join on (band, bucket). The join output
    # (O(bands × pairs) rows on dup-heavy corpora) never hits a shuffle —
    # it streams straight into the filters below. Two earlier designs
    # measured worse at sf0.1: dropDuplicates over the raw pairs (the
    # classic formulation) shuffles all of them (~200 s), and per-bucket
    # collect_list + flatten materializes C(bucket,2) structs in memory
    # (OOM on a 5 000-member bucket).
    left = banded.alias("l")
    right = banded.alias("r")
    raw_pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id")),
    )

    # Keep each pair only at its FIRST colliding band — exact-equivalent
    # to deduplicating (bucket-hash equality ⟺ same bucket at that band),
    # but pure arithmetic instead of a shuffle of all generated pairs;
    # linear chained-CASE, codegen-sized (see _first_collision_band).
    at_first_band = F.col("l.band") == _first_collision_band(
        F.col("l._bks"), F.col("r._bks"), bands
    )
    # size-ratio prefilter: jaccard ≥ t requires min(|A|,|B|)/max(|A|,|B|) ≥ t.
    # Applied FIRST — it is 2 comparisons per generated row, while the
    # earlier-collision check walks the band prefix (O(bands)); ordering
    # the cheap filter ahead keeps the expensive one off most of the
    # ~100 M generated rows.
    size_ok = (F.col("l._n") >= threshold * F.col("r._n")) & (
        F.col("r._n") >= threshold * F.col("l._n")
    )
    if max_bucket_docs is None:
        candidates = (
            raw_pairs.filter(size_ok)
            .filter(at_first_band)
            .select(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                F.col("l._n").alias("n_a"),
                F.col("r._n").alias("n_b"),
            )
        )
    else:
        # With the bucket cap on, the arithmetic first-band dedup is
        # WRONG: it keys off the _bks arrays, so a pair whose first
        # colliding band was capped away would be dropped at every later
        # band too. Dedup by pair instead — the cap bounds candidate
        # volume (≤ bands × C(cap, 2) per flood cluster), which is
        # exactly what makes the pair shuffle affordable here, and a
        # pair then survives iff ANY of its colliding bands is
        # under-capped (the docstring's guarantee).
        candidates = (
            raw_pairs.filter(size_ok)
            .groupBy(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                F.col("l._n").alias("n_a"),
                F.col("r._n").alias("n_b"),
            )
            .agg(F.count(F.lit(1)).alias("_nbands"))
            .drop("_nbands")
        )

    # Exact-Jaccard verification. The shingle side is per-*document* (tiny
    # next to the candidate stream when the corpus fits the broadcast
    # budget) — broadcast it so the multi-million-row candidate set never
    # shuffles; for corpora beyond broadcast_max_docs, shuffle-join
    # instead (correctness of the scale path beats the local speed-up).
    # |A∩B| is computed once; |A∪B| comes from the carried set sizes.
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    if broadcast_verify:
        sh_a, sh_b = F.broadcast(sh_a), F.broadcast(sh_b)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    verified = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    if not collapse_identical:
        return verified
    return _expand_collapsed_pairs(verified, base, members)


def _exact_rep_pairs(base: DataFrame, threshold: float) -> DataFrame:
    """Verify ALL size-compatible rep pairs — the sub-budget branch of
    :func:`minhash_lsh_pairs`. One side broadcasts (bounded by the pair
    budget), the other is repartitioned to cluster width by NUMBER —
    AQE would otherwise coalesce the few-MB rep table to one task and
    serialize the n² loop (the set-similarity probe lesson)."""
    spark = base.sparkSession
    sh = base.select("_id", "_sh", F.size("_sh").alias("_n"))
    a = sh.select(
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"),
        F.col("_n").alias("n_a"),
    )
    b = sh.select(
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"),
        F.col("_n").alias("n_b"),
    ).repartition(spark.sparkContext.defaultParallelism)
    size_ok = (F.col("n_a") >= threshold * F.col("n_b")) & (
        F.col("n_b") >= threshold * F.col("n_a")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        F.broadcast(a)
        .crossJoin(b)
        # ordered conjuncts: the 3-comparison id/size gate runs before
        # the O(|A|+|B|) intersect on every generated pair
        .filter((F.col("id_a") < F.col("id_b")) & size_ok)
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _expand_collapsed_pairs(
    verified: DataFrame, base: DataFrame, members: DataFrame
) -> DataFrame:
    # Re-expand representative pairs to member pairs. Fingerprint groups
    # are disjoint, so the two expansions below cannot overlap and no
    # final dedup shuffle is needed:
    #   * within-group: every member pair of an identical-set group is a
    #     duplicate by definition — jaccard exactly 1.0, no verification.
    #   * cross-group: each verified (rep_a, rep_b) pair fans out to
    #     |A| × |B| member pairs carrying the reps' jaccard (identical
    #     sets ⇒ identical jaccard against anything).
    # The member map is skinny (id + 8-byte fingerprint); both expansion
    # joins shuffle only ids and fingerprints, never shingle arrays.
    ma = members.alias("ma")
    mb = members.alias("mb")
    within = (
        ma.join(
            mb,
            (F.col("ma._fp") == F.col("mb._fp"))
            & (F.col("ma._id") < F.col("mb._id")),
        )
        .select(
            F.col("ma._id").alias("id_a"),
            F.col("mb._id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rep_fp = base.select(F.col("_id"), F.col("_fp"))
    cross = (
        verified.join(
            rep_fp.select(
                F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a")
            ),
            "id_a",
        )
        .join(
            rep_fp.select(
                F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b")
            ),
            "id_b",
        )
        .join(ma, F.col("ma._fp") == F.col("fp_a"))
        .join(mb, F.col("mb._fp") == F.col("fp_b"))
        .select(
            F.least(F.col("ma._id"), F.col("mb._id")).alias("id_a"),
            F.greatest(F.col("ma._id"), F.col("mb._id")).alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# bit masks for positions 0..63 as signed-long literals (bit 63 = sign bit)
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def portable_hash64_col(t: Column) -> Column:
    """64-bit string hash reproducible in any ANSI SQL engine: the first
    16 hex chars of md5(t), reinterpreted as a signed 64-bit integer via
    two 32-bit halves. The arithmetic form (no shifts, no unsigned types)
    is expressible verbatim in DuckDB — see the simhash oracle — which
    makes simhash signatures cross-engine checkable. ~3× slower than
    xxhash64; use the default hash when no oracle parity is needed.
    """
    hx = F.md5(t)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    signed_hi = F.when(hi >= F.lit(1 << 31), hi - F.lit(1 << 32)).otherwise(hi)
    return signed_hi * F.lit(1 << 32) + lo


def simhash64_col(tokens: Column, hash_fn=None) -> Column:
    """64-bit SimHash: per-bit ±1 votes from each token's 64-bit hash,
    positive-vote bits set in the result. Pure bit arithmetic — no UDF,
    no overflow (assembled with bitwise OR, not addition).

    ``hash_fn`` maps a token Column to a 64-bit hash Column; defaults to
    ``F.xxhash64`` (fastest). Pass :func:`portable_hash64_col` when the
    signature must be reproducible outside Spark.
    """
    hash_fn = hash_fn or (lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m) for m in _BIT_MASKS])
    votes = F.aggregate(
        F.transform(tokens, lambda t: hash_fn(t)),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 3,
    hash_fn=None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_distance (0..63).

    Pigeonhole banding with the chunk count DERIVED from the radius: the
    64-bit signature splits into ``max_distance + 1`` chunks, so any pair
    within the requested distance agrees on ≥1 whole chunk and candidate
    generation is an equi-join on (chunk_idx, chunk_value) with guaranteed
    recall 1.0. (A fixed 4-chunk split only guarantees distance ≤ 3 and
    silently under-recalls beyond it.)

    Each surviving pair is kept only at its FIRST agreeing chunk — the
    same arithmetic earlier-collision filter as the minhash path — so the
    candidate stream never pays a dropDuplicates shuffle.
    """
    if not 0 <= max_distance <= 63:
        raise ValueError(f"max_distance must be in [0, 63], got {max_distance}")
    num_chunks = max_distance + 1
    base_w, rem = divmod(64, num_chunks)
    widths = [base_w + 1] * rem + [base_w] * (num_chunks - rem)
    offsets = [sum(widths[:i]) for i in range(num_chunks)]

    sigs = (
        # bit-vote aggregation is CPU-heavy per row — don't let a
        # single-file input pin it to one task (same trap as minhash);
        # many-file inputs skip the exchange entirely.
        spread_to_cluster(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
            # A null text yields a null signature that the null-intolerant
            # join condition would drop anyway — drop the row here while
            # it is still cheap to test.
            .filter(F.col("_text").isNotNull())
        )
        .select(
            "_id",
            # coalesce makes the signature STATICALLY non-nullable (it can
            # no longer be null after the text filter above, so this is a
            # no-op at runtime). Without it, Catalyst infers
            # isnotnull(_sim) from the null-intolerant join condition and
            # pushes that predicate below the repartition — re-evaluating
            # the entire 64-bit vote aggregate single-threaded inside the
            # one-task file-scan stage (measured +2 s at sf0.1).
            F.coalesce(
                simhash64_col(tokens_col(F.col("_text")), hash_fn),
                F.lit(0).cast("long"),
            ).alias("_sim"),
        )
    )

    def chunk_val(i: int) -> Column:
        shifted = F.shiftright("_sim", offsets[i])
        if widths[i] >= 64:
            return shifted
        return shifted.bitwiseAND((1 << widths[i]) - 1)

    with_chunks = sigs.select(
        "_id",
        "_sim",
        F.array(*[chunk_val(i) for i in range(num_chunks)]).alias("_chunks"),
    )
    exploded = with_chunks.select(
        "_id",
        "_sim",
        "_chunks",
        F.explode(F.sequence(F.lit(0), F.lit(num_chunks - 1))).alias("chunk"),
    ).withColumn("val", F.element_at(F.col("_chunks"), F.col("chunk") + 1))

    left = exploded.alias("l")
    right = exploded.alias("r")
    # Keep each pair only at its first agreeing chunk — exact-equivalent to
    # deduplicating, but pure arithmetic instead of an Exchange over all
    # candidate pairs (same trick as minhash_lsh_pairs above; linear
    # chained-CASE, codegen-sized — see _first_collision_band).
    at_first_chunk = F.col("l.chunk") == _first_collision_band(
        F.col("l._chunks"), F.col("r._chunks"), num_chunks
    )
    return (
        left.join(
            right,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .filter(at_first_chunk)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(
                F.col("l._sim").bitwiseXOR(F.col("r._sim"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


# ---------------------------------------------------------------------------
# near-dup group collapse (pairs → components → keepers)
# ---------------------------------------------------------------------------

def repeated_passage_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage profile — exact substring dedup at
    word-n-gram-span granularity (the phenomenon Lee et al.'s
    "Deduplicating Training Data" targets: boilerplate/quotes shared
    across documents that whole-document dedup cannot see).

    Per document: total n-gram positions, positions whose n-gram also
    appears in ≥ ``min_docs`` distinct documents, and the duplicated-span
    fraction. Docs shorter than ``n`` words have no n-grams and are
    omitted (matching the SQL oracle).

    Scale shape: one narrow explode, then a groupBy keyed on the 8-byte
    xxhash64 of the n-gram — the gram STRING never shuffles (shuffling
    raw n-grams is n× the corpus; the suffix-array approach this
    replaces exists precisely because that is prohibitive). The
    (doc, gram-hash) stream aggregates to (gram, doc) position counts;
    the per-gram doc count is a PARTIAL-AGGREGATED groupBy joined back
    (r10 — the r6 version read it off ``Window.partitionBy(gh)``, whose
    claimed exchange reuse was wrong: hashpartitioning(gh, id) does not
    satisfy a gh-keyed window, so the plan carried a gh-only exchange
    with NO map-side combine — a boilerplate gram present in every doc
    funnels |docs| rows through one partition at web scale; the groupBy
    shuffles one row per distinct gram and AQE broadcasts the measured
    df map). Hash collisions merge distinct grams with probability
    ~|grams|²/2⁶⁴ — negligible against any real corpus.
    """
    from .quality import ngrams_col, words_col

    grams = spread_to_cluster(df).select(
        F.col(id_col).alias("_id"),
        F.explode(ngrams_col(words_col(F.col(text_col)), n)).alias("_gram"),
    ).select("_id", F.xxhash64("_gram").alias("_gh"))
    # One row per (gram, doc) with its position count; the per-gram
    # distinct-doc count aggregates from it and joins back.
    per = grams.groupBy("_gh", "_id").agg(F.count(F.lit(1)).alias("_pos"))
    nd = per.groupBy("_gh").agg(F.count(F.lit(1)).alias("_nd"))
    scored = per.join(nd, "_gh")
    return (
        scored.groupBy("_id")
        .agg(
            F.sum("_pos").alias("n_grams"),
            F.sum(
                F.when(F.col("_nd") >= min_docs, F.col("_pos")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 4
            ).alias("dup_fraction"),
        )
    )


def contamination_profile(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
) -> DataFrame:
    """Train/test n-gram contamination — the measurement pass of
    benchmark decontamination (GPT-3 appendix C / Dodge et al.): for
    each TEST document, the fraction of its word-n-gram positions whose
    n-gram also occurs anywhere in the TRAIN corpus. Test docs shorter
    than ``n`` words have no n-grams and are omitted (mirrors
    :func:`repeated_passage_profile`).

    Scale shape: gram STRINGS never shuffle on either side — the train
    corpus reduces to its DISTINCT 8-byte gram hashes (the one groupBy,
    map-side combinable), and the test side joins those hashes
    per-position then re-aggregates per doc. Train is the 100-TB side;
    everything it contributes past the distinct-hash set is gone before
    any join. Hash collisions mark a clean gram contaminated with
    probability ~|train grams|/2⁶⁴ per position — negligible, and
    conservative in the safe direction for decontamination.
    """
    from .quality import ngrams_col, words_col

    train_grams = (
        spread_to_cluster(train)
        .select(
            F.explode(
                ngrams_col(words_col(F.col(text_col)), n)
            ).alias("_gram")
        )
        .select(F.xxhash64("_gram").alias("_gh"))
        .distinct()
    )
    test_grams = spread_to_cluster(test).select(
        F.col(id_col).alias("_id"),
        F.explode(ngrams_col(words_col(F.col(text_col)), n)).alias("_gram"),
    ).select("_id", F.xxhash64("_gram").alias("_gh"))
    hits = test_grams.join(
        train_grams.withColumn("_hit", F.lit(1)), "_gh", "left_outer"
    )
    return (
        hits.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_grams"), 4
            ).alias("contaminated_fraction"),
        )
    )


def remove_repeated_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage REMOVAL — the output stage of Lee
    et al.'s substring dedup: where :func:`repeated_passage_profile`
    *measures* duplicated spans, this emits the CLEANED corpus. Every
    word position covered by some word-n-gram that occurs in ≥
    ``min_docs`` distinct documents is dropped; the kept words are
    re-joined with single spaces.

    Output per input row: ``(id, n_words, n_removed, text_clean)``.
    The operator is defined on the token stream (like the profile):
    text is lowercased/whitespace-normalized, so original spacing is
    not preserved — the normalization a tokenizer-bound training
    pipeline performs anyway. Docs shorter than ``n`` words have no
    n-grams and pass through unchanged (``n_removed = 0``).

    Scale shape: gram STRINGS never shuffle — the per-gram doc counts
    key on the 8-byte xxhash64, exactly like the profile. The only
    per-doc state derived from the gram pipeline is the
    duplicated-POSITION set (ints, bounded by doc length), re-attached
    to the corpus by id — ONE join that broadcasts the skinny position
    side when it fits (only docs that contain duplicated spans appear
    in it) and otherwise costs a single id-keyed corpus shuffle;
    covered-span expansion and the kept-word filter are then per-row
    narrow array ops, never a corpus-wide (doc, pos, word) shuffle.

    Like :func:`repeated_passage_profile`, the gram stream aggregates
    to one row per (gram, doc) carrying that doc's position set, the
    per-gram doc count is a partial-aggregated groupBy joined back
    (r10 — see the profile's docstring for why the previous gh-keyed
    window was the hot-gram straggler shape), and the duplicated-
    position sets re-aggregate per doc — grams computed once, no
    checkpoint (the r5 localCheckpoint variant cost the bench ~40 % on
    this machinery).
    """
    from .quality import ngrams_col, words_col

    docs = spread_to_cluster(df).select(
        F.col(id_col).alias("_id"),
        words_col(F.col(text_col)).alias("_w"),
    )
    grams = docs.select(
        "_id",
        F.posexplode(ngrams_col(F.col("_w"), n)).alias("_pos", "_gram"),
    ).select("_id", "_pos", F.xxhash64("_gram").alias("_gh"))
    per = grams.groupBy("_gh", "_id").agg(F.collect_set("_pos").alias("_ps"))
    nd = per.groupBy("_gh").agg(F.count(F.lit(1)).alias("_nd"))
    scored = per.join(nd, "_gh")
    dup_pos = (
        scored.filter(F.col("_nd") >= min_docs)
        .groupBy("_id")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("_ps"))).alias("_dps")
        )
    )
    # union of [pos, pos+n-1] spans, distinct word indices — stays ≤ doc
    # length, so the array is bounded by the doc itself
    covered = F.array_distinct(
        F.flatten(
            F.transform(F.col("_dps"), lambda p: F.sequence(p, p + F.lit(n - 1)))
        )
    )
    joined = docs.join(dup_pos, "_id", "left_outer").select(
        "_id",
        "_w",
        F.coalesce(covered, F.array().cast("array<int>")).alias("_cov"),
    )
    kept = F.filter(
        F.col("_w"), lambda w, i: ~F.array_contains(F.col("_cov"), i)
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_w").cast("long").alias("n_words"),
        F.size("_cov").cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


#: Deterministic boilerplate lines for :func:`seed_boilerplate_lines` —
#: (id modulus, line text). The corpus fixture is a flat word soup with
#: no line structure, so the catalog query derives one in-query (the
#: PII-seeding precedent: testdata is read-only, the oracle mirrors the
#: seeding verbatim in SQL).
BOILERPLATE_SEEDS: list[tuple[int, str]] = [
    (3, "subscribe to our newsletter for updates"),
    (4, "all rights reserved by the publisher"),
]


def seed_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    words_per_line: int = 10,
    out_col: str = "text_lines",
) -> DataFrame:
    """Deterministically rebuild a flat-text corpus into line-structured
    text: words re-wrapped every ``words_per_line`` words, plus the
    :data:`BOILERPLATE_SEEDS` lines appended by id arithmetic (no
    randomness) — the fixture generator behind the boilerplate-removal
    catalog row. Lines join with ``\\n``.
    """
    from .quality import words_col

    w = words_col(F.col(text_col))
    n_lines = F.ceil(F.size(w) / F.lit(words_per_line)).cast("int")
    body = F.when(F.size(w) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_lines - 1, F.lit(0))),
            lambda i: F.concat_ws(
                " ", F.slice(w, i * words_per_line + 1, words_per_line)
            ),
        )
    )
    i = F.col(id_col)
    lines = body
    for mod, line in BOILERPLATE_SEEDS:
        lines = F.when(
            i % mod == 0, F.concat(lines, F.array(F.lit(line)))
        ).otherwise(lines)
    return df.withColumn(out_col, F.array_join(lines, "\n"))


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_docs: int,
    delim: str = "\n",
) -> DataFrame:
    """Cross-document LINE-level boilerplate removal (the CCNet /
    RefinedWeb pass): drop every line whose normalized form
    (``lower(trim(line))``) occurs in ≥ ``min_docs`` distinct documents
    — navigation chrome, cookie banners, license footers — and emit the
    cleaned text with surviving lines re-joined in order.

    Complements :func:`remove_repeated_passages`: passages catch long
    verbatim spans *within* flowing text at word-n-gram granularity;
    this pass catches short template lines that repeat across huge
    numbers of pages, at line granularity and far lower cost (one hash
    per line, not per word position). Blank lines are never counted or
    removed (every page has them; removing them is a formatting
    decision, not dedup).

    Output per input row: ``(id, n_lines, n_removed, text_clean)``.

    Scale shape (mirrors the passage-removal design): line STRINGS
    never shuffle — the per-line doc counts key on the 8-byte xxhash64
    of the normalized line; only the skinny duplicated-POSITION sets
    (ints, bounded by line count) re-attach to the corpus by id, one
    id-keyed join whose small side broadcasts when it fits. The
    boilerplate set itself (hashes seen in ≥ min_docs docs) is tiny by
    construction.

    LINEAR PLAN (the repeated_passage_profile trick, r6): the line
    stream aggregates to one row per (line-hash, doc) carrying that
    doc's position set, the per-line doc count comes off a window over
    the line hash, and duplicated-position sets re-aggregate per doc —
    single-consumer at every step, no checkpoint, no line-hash join
    (the r5 localCheckpoint variant measured −12 % slower at sf0.1).
    The line ARRAYS are deliberately NOT materialized — the final join
    re-derives them from the source scan (one extra narrow pass);
    caching them instead materializes the whole corpus text, the wrong
    trade at 100 TB.
    """
    import re as _re

    docs = spread_to_cluster(df).select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), _re.escape(delim)).alias("_ls"),
    )
    lines = (
        docs.select("_id", F.posexplode("_ls").alias("_pos", "_line"))
        .withColumn("_norm", F.lower(F.trim("_line")))
        .filter(F.col("_norm") != "")
        .select("_id", "_pos", F.xxhash64("_norm").alias("_lh"))
    )
    per = lines.groupBy("_lh", "_id").agg(
        F.collect_set("_pos").alias("_ps")
    )
    # per-line doc count via partial-aggregated groupBy + join (r10):
    # a BOILERPLATE line is in many docs BY DEFINITION — the previous
    # line-hash-keyed window funneled exactly the lines this operator
    # targets through single partitions with no map-side combine
    nd = per.groupBy("_lh").agg(F.count(F.lit(1)).alias("_nd"))
    scored = per.join(nd, "_lh")
    dup_pos = (
        scored.filter(F.col("_nd") >= min_docs)
        .groupBy("_id")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("_ps"))).alias("_dps")
        )
    )
    joined = docs.join(dup_pos, "_id", "left_outer").select(
        "_id",
        "_ls",
        F.coalesce(F.col("_dps"), F.array().cast("array<int>")).alias("_cov"),
    )
    kept = F.filter(
        F.col("_ls"), lambda l, i: ~F.array_contains(F.col("_cov"), i)
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_ls").cast("long").alias("n_lines"),
        F.size("_cov").cast("long").alias("n_removed"),
        F.array_join(kept, delim).alias("text_clean"),
    )


def near_dup_groups(
    pairs: DataFrame,
    *,
    max_iter: int = 25,
    driver_cc_max_pairs: int = 2_000_000,
) -> DataFrame:
    """Collapse a near-duplicate PAIR set into groups: (doc_id, keep_id)
    where keep_id = the minimum id reachable through any chain of pairs
    (transitive closure — near-dup is not transitive, but curation
    pipelines collapse chains anyway, else A~B, B~C keeps A and C while
    dropping their shared middle).

    Runs the alternating large-star/small-star CC (≈log₂ n rounds) over
    the pair graph, so it scales to the multi-million-pair outputs that
    dup-heavy corpora produce. Only ids that appear in some pair are
    returned — rows absent from ``pairs`` are their own keeper by
    definition and need no shuffle at all.

    Size-gated fast path: at or below ``driver_cc_max_pairs`` the
    (already materialized) pair set is collected and closed with a
    driver union-find — identical output, milliseconds instead of
    ≈log n rounds of cluster jobs whose fixed overhead dominates small
    graphs. The gate is the same policy as ``broadcast_max_docs``: the
    pair set is the *output* of dedup (tiny next to the corpus). Driver
    footprint at the 2M-pair default gate is Python-object-sized, not
    wire-sized: collected Rows + union-find dict + member set land in
    the low hundreds of MB — sized against the repo's 16g driver, and
    the knob to lower on smaller drivers. Corpora whose pair graphs
    exceed the gate take the distributed star-CC path unchanged.

    EAGER: the pair set is localCheckpoint-ed (and counted) at call
    time, so merely *constructing* a plan that embeds this function's
    result executes the upstream pair join — callers composing
    speculative plans should call this only when the result will be
    consumed. The eagerness is deliberate: the pair set feeds the node
    universe, the CC edge set, and the CC iteration's own checkpoint,
    and recomputing the LSH/blocked join per consumer measured 2× the
    whole job.
    """
    from .graph_algo import connected_components_star

    # Materialize the pair set ONCE before fanning out: it feeds the node
    # universe, the CC edge set, and star-CC's own initial checkpoint —
    # and it is typically the OUTPUT of an expensive LSH/blocked join
    # that must not be recomputed per consumer (measured 2× the full
    # embedding pair join without this). localCheckpoint also truncates
    # the join lineage so CC rounds re-plan from a flat scan.
    pairs = pairs.transform(materialize)
    if pairs.count() <= driver_cc_max_pairs:
        rows = pairs.select("id_a", "id_b").collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is the group min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        members = {x for ab in rows for x in ab}
        out = [(x, find(x)) for x in sorted(members)]
        id_type = pairs.schema["id_a"].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("keep_id", id_type),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema)
    nodes = (
        pairs.select(F.col("id_a").alias("nodeId"))
        .unionByName(pairs.select(F.col("id_b").alias("nodeId")))
        .distinct()
    )
    edges = pairs.select(
        F.col("id_a").alias("sourceNodeId"), F.col("id_b").alias("targetNodeId")
    )
    comp = connected_components_star(nodes, edges, max_iter=max_iter)
    return comp.select(
        F.col("nodeId").alias("doc_id"), F.col("component").alias("keep_id")
    )


def deduplicate_near(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Corpus minus non-keeper near-duplicates: every row whose id is not
    a dropped member of a near-dup group (anti join on the skinny drop
    list — rows untouched by any pair pass through without shuffling).

    Kept without a catalog caller: the one-call form of near-duplicate
    removal (the groups plus the keeper anti-join) for library callers;
    catalog rows stop at the groups."""
    drops = near_dup_groups(pairs, max_iter=max_iter).filter(
        F.col("doc_id") != F.col("keep_id")
    )
    return df.join(
        drops, df[id_col] == drops["doc_id"], "left_anti"
    )


def _shingle_fp_prep(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """Shared shingle pipeline of the incremental-dedup family:
    (id, hashed distinct shingle set, canonical set fingerprint), docs
    without shingles dropped. Kept as ONE function so the persisted
    index (:func:`build_minhash_index`) and every probe path hash
    identically — a drifted copy would silently miss duplicates."""
    return (
        spread_to_cluster(df)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                F.transform(
                    shingles_col(tokens_col(F.col(text_col)), shingle_k),
                    lambda x: F.xxhash64(x),
                )
            ).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
        .withColumn("_fp", F.xxhash64(F.array_sort("_sh")))
    )


def incremental_near_dup_filter(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int = 72,
    bands: int = 24,
    shingle_k: int = 1,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
    max_exact_pairs: int = 20_000_000,
) -> DataFrame:
    """Delta dedup — the shape a PRODUCTION corpus actually runs daily:
    an incoming ``batch`` is admitted only where it is not a near
    duplicate (exact jaccard ≥ ``threshold``) of anything already in
    ``corpus``. Unlike :func:`minhash_lsh_pairs` (all pairs within one
    table), candidates here come ONLY from batch↔corpus bucket
    collisions — batch×batch and corpus×corpus pairs are never
    generated, so per-increment cost scales with the batch, not the
    accumulated corpus (the corpus side contributes one banding pass,
    and a real deployment persists its bucket table once —
    ``build_lsh_index`` pattern — making re-banding a no-op).

    Output: one row per batch document —
    ``(id, n_corpus_dups, keep)`` with ``keep = (n_corpus_dups = 0)``;
    batch docs with no shingles (empty text) trivially keep.

    Banding recall follows minhash_lsh_pairs (1-(1-j^r)^b; 72/24 → r=3,
    miss ≈ 3.4e-8 per pair at j=0.8), and the verify join is exact
    jaccard over the hashed shingle sets, auto-broadcast under the
    corpus-count gate exactly like minhash (``broadcast_max_docs``).

    Both sides collapse documents with IDENTICAL shingle sets to one
    fingerprint group before banding (the minhash collapse, applied to
    the delta shape): identical docs share every bucket, so without it
    a dup-heavy increment multiplies the bucket cross product on both
    axes — the 5×-identical-replica stress measured 23.5 s uncollapsed
    → 4.3 s collapsed (1× also improved, 3.6 → 2.5 s), and the
    uncollapsed form only degrades further as dup rate grows. Counts
    stay exact: a verified (batch-group,
    corpus-group) pair contributes the corpus group's SIZE to every
    batch member, which is term-for-term the uncollapsed sum because
    identical sets have identical jaccard to everything.
    """
    rows_per_band = num_hashes // bands

    b = _shingle_fp_prep(batch, id_col, text_col, shingle_k)
    c = _shingle_fp_prep(corpus, id_col, text_col, shingle_k)
    # (id → fingerprint) expansion map; ~16 B/doc, referenced twice
    b_members = b.select("_id", "_fp").cache()
    b_reps = (
        b.groupBy("_fp").agg(F.any_value("_sh").alias("_sh")).cache()
    )
    c_groups = (
        c.groupBy("_fp")
        .agg(F.any_value("_sh").alias("_sh"), F.count("*").alias("_gc"))
        .cache()
    )

    exact = False
    if max_exact_pairs and broadcast_verify is not False:
        # Exact crossover (the minhash_lsh_pairs rule applied to the
        # delta shape): when batch-reps × corpus-reps fits the pair
        # budget AND the broadcast side (the batch) fits the doc
        # budget, skip both banding passes and the candidate distinct —
        # every (batch rep, corpus rep) pair is verified directly with
        # the batch side broadcast. The pair budget alone bounds only
        # the PRODUCT (a 2M-doc batch against a 10-group corpus passes
        # it while broadcasting gigabytes of shingle arrays), so the
        # batch side is additionally held to ``broadcast_max_docs`` —
        # the same knob that gates the banded path's verify broadcast;
        # an explicit broadcast_verify=False disables the regime
        # entirely. Recall 1.0 by construction; above either bound the
        # banded path runs unchanged — the 100-TB daily-admission
        # shape. Unlike minhash_lsh_pairs (where explicit True also
        # skips the crossover to avoid count jobs on raw input), an
        # explicit True keeps it here: both counts are cache hits on
        # rep tables this function materializes regardless, so there
        # is no probe cost to avoid.
        n_batch = b_reps.count()
        exact = (
            n_batch <= broadcast_max_docs
            and n_batch * c_groups.count() <= max_exact_pairs
        )

    bsh = b_reps.select(F.col("_fp").alias("_bfp"), F.col("_sh").alias("_bsh"))
    csh = c_groups.select(
        F.col("_fp").alias("_cfp"), F.col("_sh").alias("_csh"), "_gc"
    )
    if exact:
        spark = batch.sparkSession
        verified = (
            F.broadcast(bsh)
            .crossJoin(
                csh.repartition(spark.sparkContext.defaultParallelism)
            )
            .filter(jaccard_col(F.col("_bsh"), F.col("_csh")) >= threshold)
        )
    else:
        def buckets(t: DataFrame, out: str) -> DataFrame:
            return t.select(
                F.col("_fp").alias(out),
                F.posexplode(
                    lsh_bucket_cols(F.col("_sh"), bands, rows_per_band)
                ).alias("_band", "_bkt"),
            )

        cand = (
            buckets(b_reps, "_bfp")
            .join(buckets(c_groups, "_cfp"), ["_band", "_bkt"])
            .select("_bfp", "_cfp")
            .distinct()
        )
        if broadcast_verify is None:
            broadcast_verify = corpus.count() <= broadcast_max_docs
        if broadcast_verify:
            bsh, csh = F.broadcast(bsh), F.broadcast(csh)
        verified = (
            cand.join(bsh, "_bfp")
            .join(csh, "_cfp")
            .filter(jaccard_col(F.col("_bsh"), F.col("_csh")) >= threshold)
        )
    dups = verified.groupBy("_bfp").agg(F.sum("_gc").alias("_nd"))
    return (
        batch.select(F.col(id_col))
        .join(
            b_members.withColumnRenamed("_id", id_col), id_col, "left_outer"
        )
        .join(dups.withColumnRenamed("_bfp", "_fp"), "_fp", "left_outer")
        .select(
            F.col(id_col),
            F.coalesce("_nd", F.lit(0)).cast("long").alias("n_corpus_dups"),
            (F.coalesce("_nd", F.lit(0)) == 0).alias("keep"),
        )
    )


def build_minhash_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    num_hashes: int = 96,
    bands: int = 24,
    shingle_k: int = 1,
) -> None:
    """Persist the CORPUS side of incremental near-dup admission — the
    build-once step :func:`incremental_near_dup_filter`'s docstring
    promises a deployment performs: the standing corpus is banded ONCE
    and every later increment probes the stored tables instead of
    re-shingling/re-banding 100 TB per day.

    Layout under ``path``:

    - ``groups``  — one row per distinct shingle set
      ``(_fp, _sh, _gc)``: canonical fingerprint, hashed shingle array
      (the exact-jaccard verify operand), member count (so admission
      counts stay exact under the identical-set collapse);
    - ``buckets`` — the banded LSH bucket table
      ``(_band, _bkt, _fp)``: 20-byte rows, the only corpus-sized
      operand a probe joins;
    - ``meta.json`` — (num_hashes, bands, shingle_k), read back by
      :func:`incremental_near_dup_filter_indexed` so a probe can never
      band differently than the index it probes.

    The bucket pass reads the MATERIALIZED groups parquet back rather
    than recomputing the shingle pipeline (build cost = one corpus
    pass + one groups-sized pass).
    """
    import json
    import os

    rows_per_band = num_hashes // bands
    c = _shingle_fp_prep(corpus, id_col, text_col, shingle_k)
    (
        c.groupBy("_fp")
        .agg(F.any_value("_sh").alias("_sh"), F.count("*").alias("_gc"))
        .write.mode("overwrite")
        .parquet(f"{path}/groups")
    )
    groups = corpus.sparkSession.read.parquet(f"{path}/groups")
    (
        groups.select(
            "_fp",
            F.posexplode(
                lsh_bucket_cols(F.col("_sh"), bands, rows_per_band)
            ).alias("_band", "_bkt"),
        )
        .select("_band", "_bkt", "_fp")
        .write.mode("overwrite")
        .parquet(f"{path}/buckets")
    )
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        json.dump(
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_k": shingle_k,
            },
            f,
        )


def append_to_minhash_index(
    spark,
    path: str,
    admitted: DataFrame,
    id_col: str,
    text_col: str,
    *,
    on_existing: str = "raise",
) -> None:
    """Fold an ADMITTED batch into a persisted
    :func:`build_minhash_index` — the loop closure that makes daily
    admission actually incremental: admit today's batch against the
    index, append the survivors, and tomorrow's probe sees today's
    docs — without ever re-banding the corpus (append cost ∝ batch).

    Only documents that PASSED the near-dup filter may be appended:
    an admitted doc can never share a fingerprint with the index (an
    exact duplicate has jaccard 1.0 and would have been rejected), so
    the append is purely additive — new group rows + their bucket
    rows, written in parquet append mode, no rewrite of corpus-sized
    tables and no aggregate-on-read burden on later probes. The
    invariant is enforced, not assumed: with ``on_existing='raise'``
    (the default) a batch fingerprint already present in the index
    raises (appending it would double-count members and desynchronize
    groups/buckets); ``on_existing='skip'`` silently drops such
    groups instead — the IDEMPOTENT semantics a streaming epoch
    replay needs (a retried ``foreachBatch`` re-appends nothing).

    Banding parameters come from the index's ``meta.json`` — an
    append can no more band differently than a probe can.

    Crash safety (the two appends cannot be atomic on a plain
    filesystem): BUCKETS are written FIRST, groups second, and both
    the raise-mode clash check and the skip-mode filter key on GROUPS
    — so the index invariant is "a groups row implies its bucket rows
    exist". A crash between the writes leaves orphan bucket rows,
    which probes ignore (candidates inner-join groups for the verify
    operand) and which a retry heals: the fingerprints are still
    absent from groups, so the retry re-appends both tables, and the
    duplicate bucket rows are collapsed by the probe's candidate
    ``distinct()`` (duplicate GROUP rows, which would double-count
    ``_gc``, can never occur). Groups-first — the pre-r10 order —
    was the opposite: the orphaned groups rows made skip-mode retries
    drop the batch without ever writing its buckets, a PERMANENT
    silent recall hole. Recovery path after a raise-mode crash
    (partial groups visible): re-run the same append with
    ``on_existing='skip'``.
    """
    import json

    if on_existing not in ("raise", "skip"):
        raise ValueError("append_to_minhash_index: on_existing must be "
                         "'raise' or 'skip'")
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    bands = meta["bands"]
    rows_per_band = meta["num_hashes"] // bands

    b = _shingle_fp_prep(admitted, id_col, text_col, meta["shingle_k"])
    new_groups = b.groupBy("_fp").agg(
        F.any_value("_sh").alias("_sh"), F.count("*").alias("_gc")
    )
    existing = spark.read.parquet(f"{path}/groups").select("_fp")
    if on_existing == "raise":
        clash = new_groups.join(existing, "_fp", "left_semi")
        if clash.limit(1).count() > 0:
            raise ValueError(
                "append_to_minhash_index: batch contains a fingerprint "
                "already in the index — only docs ADMITTED by the "
                "near-dup filter may be appended (an exact dup would "
                "have been rejected)"
            )
    else:
        new_groups = new_groups.join(existing, "_fp", "left_anti")
    new_groups = new_groups.transform(materialize)  # write twice
    # buckets FIRST (see docstring: groups-presence implies
    # buckets-presence, so a crash between the appends is heal-by-retry
    # instead of a permanent recall hole)
    (
        new_groups.select(
            "_fp",
            F.posexplode(
                lsh_bucket_cols(F.col("_sh"), bands, rows_per_band)
            ).alias("_band", "_bkt"),
        )
        .select("_band", "_bkt", "_fp")
        .write.mode("append")
        .parquet(f"{path}/buckets")
    )
    new_groups.write.mode("append").parquet(f"{path}/groups")


def incremental_near_dup_filter_indexed(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
) -> DataFrame:
    """:func:`incremental_near_dup_filter` against a PERSISTED corpus
    index (:func:`build_minhash_index`) — the daily-increment shape at
    its true cost: the corpus contributes two parquet scans (buckets +
    matched groups) and ZERO shingle/banding work; everything computed
    per increment is proportional to the batch. Banding parameters come
    from the index's ``meta.json`` — a probe cannot band differently
    than the index it probes.

    Join strategy: the batch's banded bucket stream (bands × batch
    groups rows) is explicitly BROADCAST against the corpus-sized
    bucket table — the deliberate inversion of the in-memory variant's
    shape, because here the corpus side is the fat immutable operand
    and the batch is by definition the small one. Verification then
    touches only the matched groups, broadcast under the usual
    corpus-count gate (counted on the groups parquet — metadata-only).

    Output schema and semantics are identical to
    :func:`incremental_near_dup_filter`; the catalog row shares its
    exhaustive batch×corpus oracle.
    """
    import json

    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    bands = meta["bands"]
    rows_per_band = meta["num_hashes"] // bands

    # Deliberately uncached: each batch-side view is consumed at most
    # twice and the shingle prep is one narrow pass over the (small by
    # definition) increment — two cache materialization jobs measured
    # SLOWER than the recompute at sf0.1. A caller admitting a huge
    # backfill batch can pre-cache `batch` itself.
    b = _shingle_fp_prep(batch, id_col, text_col, meta["shingle_k"])
    b_members = b.select("_id", "_fp")
    b_reps = b.groupBy("_fp").agg(F.any_value("_sh").alias("_sh"))

    idx_buckets = spark.read.parquet(f"{path}/buckets")
    c_groups = spark.read.parquet(f"{path}/groups")

    bb = b_reps.select(
        F.col("_fp").alias("_bfp"),
        F.posexplode(
            lsh_bucket_cols(F.col("_sh"), bands, rows_per_band)
        ).alias("_band", "_bkt"),
    )
    cand = (
        F.broadcast(bb)
        .join(idx_buckets.withColumnRenamed("_fp", "_cfp"), ["_band", "_bkt"])
        .select("_bfp", "_cfp")
        .distinct()
    )
    if broadcast_verify is None:
        broadcast_verify = c_groups.count() <= broadcast_max_docs
    bsh = b_reps.select(F.col("_fp").alias("_bfp"), F.col("_sh").alias("_bsh"))
    csh = c_groups.select(
        F.col("_fp").alias("_cfp"), F.col("_sh").alias("_csh"), "_gc"
    )
    if broadcast_verify:
        bsh, csh = F.broadcast(bsh), F.broadcast(csh)
    verified = (
        cand.join(bsh, "_bfp")
        .join(csh, "_cfp")
        .filter(jaccard_col(F.col("_bsh"), F.col("_csh")) >= threshold)
    )
    dups = verified.groupBy("_bfp").agg(F.sum("_gc").alias("_nd"))
    return (
        batch.select(F.col(id_col))
        .join(
            b_members.withColumnRenamed("_id", id_col), id_col, "left_outer"
        )
        .join(dups.withColumnRenamed("_bfp", "_fp"), "_fp", "left_outer")
        .select(
            F.col(id_col),
            F.coalesce("_nd", F.lit(0)).cast("long").alias("n_corpus_dups"),
            (F.coalesce("_nd", F.lit(0)) == 0).alias("keep"),
        )
    )


def containment_join_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_k: int = 1,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
    unpersist_after: bool = False,
) -> DataFrame:
    """EXACT containment self-join: all ORDERED pairs (a, b), a ≠ b,
    with ``|S(a) ∩ S(b)| / |S(a)| ≥ threshold`` over the distinct word
    ``shingle_k``-gram sets — doc a is (mostly) CONTAINED in doc b.
    ``shingle_k=1`` is bag-of-words containment; small-vocabulary
    corpora want k ≥ 3 (distinct unigram sets of word-soup documents
    overlap heavily, and "contains the same words" is a much weaker
    claim than "contains the same passages"). The asymmetric complement of
    :func:`set_similarity_join_pairs`: jaccard misses the
    quote/excerpt/boilerplate-wrapper case entirely (a 50-word snippet
    inside a 5 000-word page has jaccard ≈ 0.01 but containment 1.0),
    and containment is what "is this doc subsumed by another" actually
    asks. No false negatives.

    Candidate generation is the one-sided prefix filter: order tokens
    by ascending global document frequency (ties on the hash), and if
    ``|a∩b| ≥ t·|a|`` then a's prefix of its ``|a| − ⌈t·|a|⌉ + 1``
    rarest tokens must contain a common token (pigeonhole on a's side
    ONLY — the containing side b is indexed in FULL, because the
    shared token may sit anywhere in b). The asymmetry is kinder than
    it looks at scale: the probe stream carries only prefix (i.e.
    mostly RARE) tokens, and rare tokens have short postings lists by
    definition — the frequent tokens whose full postings would explode
    the join never appear on the probe side. Verification is the exact
    overlap on the cached token arrays, broadcast under the usual
    corpus-count gate. Pair rows are 16 B until the verify join; the
    output carries ``containment`` rounded to 6 dp.

    Document frequency is a ``groupBy("_t").count()`` joined back onto
    the exploded stream — NOT a window partitioned by token. A window
    gets no map-side partial aggregation: the full (doc, token) stream
    would shuffle on the token key and the "the"-class hot shingles
    become straggler partitions at web scale. The groupBy shuffles only
    partially-aggregated (token, count) rows — shuffle volume is the
    DISTINCT vocabulary, independent of how hot any token is — and the
    join-back is left UNHINTED on purpose: the df map is two int64s per
    distinct token, whose size the driver cannot know without an extra
    count, but AQE sees the MEASURED post-aggregation size at runtime
    and converts the join to broadcast when it fits (the corpus-docs
    gate used for the verify arrays would be the wrong proxy — vocab
    can be 100× doc count). When it doesn't fit, it is an ordinary
    shuffle join, which AQE can skew-split, unlike a window, which MUST
    co-locate every row of a hot token. The only window left is
    per-document (bounded by doc length): asserted by the plan audit
    and exercised by the hot-token flood stress test.

    The slim (id, token-array) projection is cached — it feeds the
    probe/index pass and both verify sides. The cache is session-scoped
    by DEFAULT (the returned plan is lazy, so this function cannot
    unpersist behind it); callers sweeping many corpora either
    ``spark.catalog.clearCache()`` between rounds or pass
    ``unpersist_after=True`` (VERDICT r10 #6), which MATERIALIZES the
    verify join (``localCheckpoint`` — the result is computed once and
    its lineage cut) and releases the slim-projection cache before
    returning, trading result laziness for bounded storage.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            shingles_col(tokens_col(F.col(text_col)), shingle_k),
            lambda x: F.xxhash64(x),
        ).alias("_tk"),
    ).filter(F.size("_tk") > 0)
    core = _containment_pairs_core(
        base,
        threshold=threshold,
        broadcast_verify=broadcast_verify,
        broadcast_max_docs=broadcast_max_docs,
        unpersist_after=unpersist_after,
    )
    return core.select(
        F.col("_ia").alias("id_contained"),
        F.col("_ib").alias("id_container"),
        F.round(
            F.col("_inter").cast("double") / F.col("_na").cast("double"), 6
        ).alias("containment"),
    )


def _containment_pairs_core(
    base: DataFrame,
    *,
    threshold: float,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
    unpersist_after: bool = False,
) -> DataFrame:
    """The containment join over a pre-tokenized slim projection
    ``(_id, _tk array)`` — factored out of
    :func:`containment_join_pairs` (the ``_ppjoin_pairs_core``
    precedent) so NON-TEXT set domains can reuse the one-sided prefix
    filter: node-similarity overlap/cosine run it over neighbor sets
    (r11). Emits every ORDERED verified pair with its exact counts:
    ``(_ia, _ib, _inter, _na, _nb)`` where ``_inter ≥ threshold·_na``.
    Caching/lifecycle semantics as documented on the text wrapper."""
    base = base.cache()
    if broadcast_verify is None:
        # count the cached slim projection (one scan warms the cache
        # AND answers the gate), not the full-width input df.
        broadcast_verify = base.count() <= broadcast_max_docs

    toks = base.select(
        "_id", F.size("_tk").alias("_n"), F.explode("_tk").alias("_t")
    )
    dfreq = toks.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    w_doc = W.partitionBy("_id").orderBy(F.col("_df"), F.col("_t"))
    ranked = toks.join(dfreq, "_t").select(
        "_id",
        "_t",
        F.row_number().over(w_doc).alias("_pos"),
        F.col("_n"),
    )
    probe = ranked.filter(
        F.col("_pos")
        <= F.col("_n") - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1
    ).select(F.col("_id").alias("_ia"), "_t")
    index = ranked.select(F.col("_id").alias("_ib"), "_t")
    cand = (
        probe.join(index, "_t")
        .filter(F.col("_ia") != F.col("_ib"))
        .select("_ia", "_ib")
        .distinct()
    )
    av = base.select(F.col("_id").alias("_ia"), F.col("_tk").alias("_ta"))
    bv = base.select(F.col("_id").alias("_ib"), F.col("_tk").alias("_tb"))
    if broadcast_verify:
        av, bv = F.broadcast(av), F.broadcast(bv)
    overlap = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    result = (
        cand.join(av, "_ia")
        .join(bv, "_ib")
        .select(
            "_ia",
            "_ib",
            overlap.cast("long").alias("_inter"),
            F.size("_ta").cast("long").alias("_na"),
            F.size("_tb").cast("long").alias("_nb"),
        )
        .filter(
            F.col("_inter").cast("double")
            >= F.lit(float(threshold)) * F.col("_na").cast("double")
        )
    )
    if unpersist_after:
        result = result.transform(materialize)
        base.unpersist(blocking=True)
    return result


def containment_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_k: int = 1,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
    unpersist_after: bool = False,
) -> DataFrame:
    """Symmetric closure of :func:`containment_join_pairs`: UNORDERED
    pairs ``(id_a < id_b)`` where a is contained in b OR b in a at
    ``threshold`` — the shape :func:`near_dup_groups` /
    :func:`canonical_keeper` consume, so the quote/excerpt relation can
    feed the same pairs→groups→keeper machinery jaccard pairs do (a
    5 000-word page and its 50-word excerpt collapse to one group even
    though their jaccard ≈ 0.01).

    One containment join (it already emits BOTH orderings when both
    directions pass; either direction alone suffices for group
    membership), then a least/greatest canonicalization + distinct —
    the distinct is over pair ids only (16 B rows) and dedups the
    mutual-containment case where (a,b) and (b,a) both verified.
    """
    ordered = containment_join_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        shingle_k=shingle_k,
        broadcast_verify=broadcast_verify,
        broadcast_max_docs=broadcast_max_docs,
        unpersist_after=unpersist_after,
    )
    return (
        ordered.select(
            F.least("id_contained", "id_container").alias("id_a"),
            F.greatest("id_contained", "id_container").alias("id_b"),
        )
        .distinct()
    )


def set_similarity_join_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    broadcast_verify: bool | None = None,
    broadcast_max_docs: int = 200_000,
    collapse_identical: bool = True,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): all pairs
    (id_a < id_b) whose token sets have jaccard ≥ ``threshold``, with NO
    false negatives. The deterministic sibling of
    :func:`minhash_lsh_pairs` — minhash trades a ~1e-8 recall miss for a
    fixed signature cost; prefix filtering is exact and wins when the
    threshold is high (small prefixes) or misses are unacceptable
    (compliance-grade dedup).

    How: tokens are ordered by ascending GLOBAL document frequency
    (rarest first; ties on the 8-byte token hash). If J(x,y) ≥ t then
    |x∩y| ≥ t·|x| (J·|x∪y| ≥ t·|x| since |x∪y| ≥ |x|), so x's prefix of
    its ``|x| − ⌈t·|x|⌉ + 1`` smallest tokens must contain a common
    token; the SMALLEST common token g is then inside BOTH prefixes (all
    tokens before g on either side are non-common by minimality), so an
    equi-join of the exploded prefixes finds every qualifying pair.
    Rare-first ordering makes prefix postings lists short — the frequent
    tokens that would generate huge buckets sit at the suffix end and
    are never indexed. (Exactness holds under ANY global total order;
    rare-first is purely the performance choice, which is why computing
    document frequency over collapsed representatives below stays
    correct.)

    Per candidate row the PPJoin positional filter applies: at the
    smallest common token (1-based positions pa, pb), the overlap is at
    most ``1 + min(|x|−pa, |y|−pb)``, which must reach
    ``⌈t/(1+t)·(|x|+|y|)⌉``; rows for later shared prefix tokens may
    fail it, but the smallest-common-token row always survives for a
    qualifying pair, and pairs are deduplicated afterwards (pair rows
    are 32 B — the one pair shuffle is the skinny one).

    ``collapse_identical`` (default on — the minhash collapse, ported):
    docs with IDENTICAL token sets collapse to one representative before
    the prefix join and member pairs are re-expanded afterwards
    (within-group at jaccard 1.0; cross-group inheriting the reps'
    jaccard — identical sets have identical jaccard to anything, so the
    expanded output is exactly the uncollapsed output). Saves
    C(members, 2) − C(reps, 2) candidate work per identical clique;
    measured 14 s → 10 s at sf0.1/t=0.9 on the synthetic corpus (only
    ~21 % of its docs share a set; identical-dominated corpora gain
    proportionally more).

    Scale shape: per-token document frequency is a partial-aggregated
    ``groupBy`` joined back onto the exploded stream (r10 — never a
    token-keyed window, which has no map-side combine and straggles on
    hot tokens; AQE broadcasts the measured df map when it fits); the
    prefix index is emitted directly from a window over the doc id —
    (token, id, n, pos) rows, O(Σ prefix) ≈ (1−t)·corpus tokens, NOT
    all tokens, and never round-tripped through per-doc arrays;
    candidate generation is an equi-join whose output streams into
    arithmetic filters; exact verification joins the CACHED per-doc
    token arrays back (order-insensitive array_intersect — the
    df-sorted view exists only inside the prefix pass), broadcast only
    under the corpus-count gate (mirrors minhash_lsh_pairs); the
    expansion joins shuffle only ids and 8-byte fingerprints, never
    token arrays.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(
                # Drop empty tokens: split() on empty/whitespace-only
                # text yields [""], which would otherwise make every
                # empty doc the singleton set {xxhash64("")} and pair
                # all empty docs at jaccard 1.0 (r5 advice) — same
                # policy as shingles_col, mirrored in the SQL oracle.
                F.filter(tokens_col(F.col(text_col)), lambda x: x != ""),
                lambda x: F.xxhash64(x),
            )
        ).alias("_tk"),
    ).filter(F.size("_tk") > 0)
    if broadcast_verify is None:
        broadcast_verify = df.count() <= broadcast_max_docs

    members = None
    if collapse_identical:
        # Canonical 64-bit set fingerprint. The PRE-collapse table is
        # the one to cache: members and the rep groupBy both derive
        # from it (the r5 version cached each separately, so the
        # tokenize+fingerprint pass ran twice and two cache
        # materializations were paid — ~1.5 s of the suite's slowest
        # query).
        pre = base.withColumn(
            "_fp", F.xxhash64(F.array_sort("_tk"))
        ).cache()
        members = pre.select("_id", "_fp")
        base = pre.groupBy("_fp").agg(
            F.min("_id").alias("_id"),
            F.any_value("_tk").alias("_tk"),
        )
    # base feeds the prefix-index pass AND both verify sides — cache it
    # (id + token array, the same footprint the minhash collapse caches;
    # r5 advice: the uncached table recomputed its aggregation pipeline
    # once per reference on the suite's slowest query).
    #
    # Cache lifetime (ADVICE r6): these operator-internal caches are keyed
    # by canonicalized plan, so REPEATED invocations on the same input
    # re-hit the same entries rather than accumulating; distinct inputs in
    # a long-lived session do accumulate until LRU eviction — the default
    # Dataset storage level (MEMORY_AND_DISK) makes eviction a spill, not
    # a recompute cliff. Callers looping over many distinct corpora should
    # spark.catalog.clearCache() between corpora.
    base = base.cache()

    verified = _ppjoin_pairs_core(
        base, threshold=threshold, broadcast_verify=broadcast_verify
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    if not collapse_identical:
        return verified

    # Re-expand representative pairs to member pairs — fingerprint groups
    # are disjoint, so the two expansions cannot overlap and no final
    # dedup shuffle is needed (minhash_lsh_pairs, verbatim logic).
    ma = members.alias("ma")
    mb = members.alias("mb")
    within = (
        ma.join(
            mb,
            (F.col("ma._fp") == F.col("mb._fp"))
            & (F.col("ma._id") < F.col("mb._id")),
        )
        .select(
            F.col("ma._id").alias("id_a"),
            F.col("mb._id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rep_fp = base.select(F.col("_id"), F.col("_fp"))
    cross = (
        verified.join(
            rep_fp.select(
                F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a")
            ),
            "id_a",
        )
        .join(
            rep_fp.select(
                F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b")
            ),
            "id_b",
        )
        .join(ma, F.col("ma._fp") == F.col("fp_a"))
        .join(mb, F.col("mb._fp") == F.col("fp_b"))
        .select(
            F.least(F.col("ma._id"), F.col("mb._id")).alias("id_a"),
            F.greatest(F.col("ma._id"), F.col("mb._id")).alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def _ppjoin_pairs_core(
    base: DataFrame, *, threshold: float, broadcast_verify: bool
) -> DataFrame:
    """The prefix-filter (PPJoin) self-join core shared by
    :func:`set_similarity_join_pairs` (token sets) and
    :func:`~.graph_algo.node_similarity` (neighbor sets): ``base`` is
    ``(_id, _tk)`` with ``_tk`` a DISTINCT array of orderable set
    elements; returns every pair ``id_a < id_b`` with jaccard ≥
    ``threshold`` as ``(id_a, id_b, n_a, n_b, _inter, jaccard)`` — the
    exact intersection/size integers ride along so callers needing
    engine-exact outputs (integer ppm) never touch the float. All the
    exactness/scale commentary in :func:`set_similarity_join_pairs`'s
    docstring describes THIS body."""
    toks = base.select(
        "_id", F.size("_tk").alias("_n"), F.explode("_tk").alias("_t")
    )
    # Prefix index directly on the exploded stream, no array round-trip:
    # (1) per-token global document frequency via a partial-aggregated
    # groupBy joined back — NOT a window partitioned by token (r10,
    # same reshape as containment_join_pairs: a token window gets no
    # map-side combine, so the full (doc, token) stream shuffles on the
    # token key and "the"-class hot tokens become straggler partitions
    # at web scale; the groupBy's shuffle carries only the DISTINCT
    # vocabulary, and the join-back is left unhinted so AQE broadcasts
    # the measured df map when it fits and skew-splits when it
    # doesn't — a window can do neither);
    # (2) canonical rank within each doc via row_number over
    # (df asc, token hash asc); the doc's set size rides from the
    # pre-explode array (F.size), not a second window. The r5 version
    # rebuilt per-doc SORTED ARRAYS (collect_list → array_sort →
    # posexplode, two ObjectHashAggregate stages) only to slice
    # prefixes back out — emitting prefix rows straight off the stream
    # replaced that; r10 then replaced its df window with the groupBy.
    dfreq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    with_df = toks.join(dfreq, "_t")
    by_doc = W.partitionBy("_id")
    ranked = with_df.select(
        "_id",
        "_t",
        F.row_number().over(by_doc.orderBy("_df", "_t")).alias("_pos"),
        F.col("_n"),
    )
    # prefix length p = n − ⌈t·n⌉ + 1. The ceilings subtract a 1e-9
    # epsilon first: when t·n is exactly integral, float rounding can
    # land a hair above it and ceil would bump by one — shortening the
    # prefix and silently breaking the no-false-negative guarantee
    # (r5 advice). The epsilon can only lengthen a prefix/loosen the
    # filter, never the reverse, so exactness is preserved.
    prefix_len = F.col("_n") - F.ceil(
        F.lit(threshold) * F.col("_n") - F.lit(1e-9)
    ).cast("int") + F.lit(1)
    # The prefix stream is small in BYTES (rows ≈ (1−t)·corpus tokens)
    # but the candidate join EXPLODES it — hot posting lists multiply
    # each probe row by their length. AQE coalesces the probe side on
    # input bytes and funneled the sf0.1 join's 12M generated rows
    # through 2 tasks (~3 s serial wall). A numbered round-robin
    # repartition is exempt from AQE coalescing and spreads the hot
    # tokens' probe rows evenly; the re-shuffled stream is tiny, the
    # reclaimed parallelism is not.
    n_part = base.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    prefix = ranked.filter(F.col("_pos") <= prefix_len).repartition(
        int(n_part)
    )

    left = prefix.alias("l")
    right = prefix.alias("r")
    # minimum overlap α for the pair (PPJoin):
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("l._n") + F.col("r._n"))
        - F.lit(1e-9)  # epsilon guard — see prefix_len
    )
    size_ok = (F.col("l._n") >= threshold * F.col("r._n")) & (
        F.col("r._n") >= threshold * F.col("l._n")
    )
    positional_ok = (
        F.lit(1)
        + F.least(
            F.col("l._n") - F.col("l._pos"), F.col("r._n") - F.col("r._pos")
        )
    ) >= alpha
    candidates = (
        left.join(
            right,
            (F.col("l._t") == F.col("r._t"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .filter(size_ok)
        .filter(positional_ok)
        .groupBy(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._n").alias("n_a"),
            F.col("r._n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("_hits"))
        .drop("_hits")
    )

    # The pair dedup above is a deliberate SHUFFLE, and it is the right
    # one: candidate rows are 32 B and the positional filter has already
    # bounded their volume (1.96 M rows ≈ 80 MB at sf0.1 — vs minhash,
    # whose UNfiltered generated stream is O(bands × pairs) and must
    # dedup arithmetically). Deduping BEFORE the verify join matters
    # because each verify probe materializes both ~800 B token arrays
    # into the joined row: a zero-shuffle variant that deduped DURING
    # verification (keep the row whose matched token is the pair's
    # smallest common token) paid that materialization per candidate
    # row instead of per pair and measured ~2× slower end to end.
    # Verification reads the CACHED base arrays, not `ordered`:
    # array_intersect is order-insensitive, so the df-sorted copy is
    # needed only by the prefix index — `ordered` stays single-consumer
    # and its window+aggregation pipeline runs exactly once.
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_tk").alias("tk_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_tk").alias("tk_b"))
    if broadcast_verify:
        sh_a, sh_b = F.broadcast(sh_a), F.broadcast(sh_b)
    common = F.array_intersect(F.col("tk_a"), F.col("tk_b"))
    verified = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(common).alias("_inter"),
        )
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """Benchmark-decontamination REMOVAL — the output stage whose
    measurement pass is :func:`contamination_profile` (GPT-3 appendix C:
    training documents overlapping an evaluation set are dropped so the
    benchmark stays meaningful). Emits the CLEANED train corpus: one row
    per KEPT train document with its overlap telemetry
    ``(id, n_grams, n_test_hits)`` — kept ⟺ at most ``max_hits`` of its
    word-``n``-gram positions match any test-set ``n``-gram. Train docs
    shorter than ``n`` words have no n-grams and are always kept
    (``n_grams = 0``).

    Scale shape (the mirror image of the profile): the TEST side — tiny
    by definition — reduces to its DISTINCT 8-byte gram hashes before
    any join, and the 100-TB TRAIN side streams its gram hashes past
    that set; gram strings never shuffle on either side. Hash collisions
    can only over-drop (a clean gram falsely marked ~|test|/2⁶⁴ per
    position) — conservative in the safe direction.
    """
    from .quality import ngrams_col, words_col

    test_grams = (
        spread_to_cluster(test)
        .select(
            F.explode(ngrams_col(words_col(F.col(text_col)), n)).alias("_gram")
        )
        .select(F.xxhash64("_gram").alias("_gh"))
        .distinct()
    )
    train_grams = spread_to_cluster(train).select(
        F.col(id_col).alias("_id"),
        F.explode(ngrams_col(words_col(F.col(text_col)), n)).alias("_gram"),
    ).select("_id", F.xxhash64("_gram").alias("_gh"))
    per_doc = (
        train_grams.join(
            test_grams.withColumn("_hit", F.lit(1)), "_gh", "left_outer"
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_test_hits"),
        )
    )
    return (
        train.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left_outer")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_test_hits", F.lit(0))
            .cast("long")
            .alias("n_test_hits"),
        )
        .filter(F.col("n_test_hits") <= max_hits)
    )


def canonical_keeper(
    groups: DataFrame,
    quality: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "keep_id",
    score_col: str = "score",
    out_col: str = "canonical_id",
) -> DataFrame:
    """Quality-aware canonical selection — the keeper policy production
    dedup actually wants: within each near-dup group keep the BEST
    member (max ``score_col``, ties broken by ascending id), not the
    arbitrary minimum id :func:`near_dup_groups` labels groups with.
    E.g. among near-duplicate crawls of one page, keep the longest /
    highest-quality capture and map every member to it.

    Inputs: ``groups`` = (id, group) from :func:`near_dup_groups` (the
    group label is just an opaque component id here); ``quality`` =
    (id, score) — any per-doc metric (word count, Gopher pass count, LM
    score). Output: (id, canonical) for every grouped doc.

    Scale shape: one id-keyed equi-join to attach scores, one
    row_number window PARTITIONED by the group id (components are small
    by construction — this is never a corpus-wide window), and one join
    keyed on the group id to map members to their canonical doc. All
    rows are ≤ 24 B; no text moves.
    """
    j = groups.join(quality, id_col)
    w = W.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    best = (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(group_col), F.col(id_col).alias(out_col))
    )
    return groups.join(best, group_col).select(id_col, out_col)


def _snm_key_num(key: Column, prefix_chars: int = 8) -> Column:
    """Monotone int64 encoding of a key string's first ``prefix_chars``
    ASCII characters (big-endian base-256 fold, missing positions pad
    0) — lets the range-bucket scaffold partition a STRING total order
    with numeric boundaries: equal prefixes collapse to one value (one
    bucket), and numeric order equals string-prefix order for
    single-byte characters (the normalized-key contract; multi-byte
    codepoints would break monotonicity and belong in the key
    normalization, not here)."""
    acc = F.lit(0).cast("long")
    for i in range(prefix_chars):
        acc = acc * F.lit(256) + F.coalesce(
            F.ascii(F.substring(key, i + 1, 1)), F.lit(0)
        ).cast("long")
    return acc


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    threshold: float = 0.5,
    key_chars: int = 16,
    n_buckets: int = 32,
    checkpoint: bool = True,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo 1995) — the
    classic entity-resolution blocking the LSH/containment family
    lacks: sort the corpus by a BLOCKING KEY (here the first
    ``key_chars`` characters of the whitespace-normalized lowercased
    text), take every pair within ``window`` positions as a candidate,
    verify by exact token-set jaccard ≥ ``threshold`` →
    ``(id_a, id_b, jaccard)`` with the canonical id_a < id_b. SNM's
    trade vs MinHash-LSH: candidates ∝ n·(window−1) REGARDLESS of
    cluster sizes (a 10⁶-duplicate flood contributes linearly, where
    an LSH bucket goes quadratic), at the cost of missing near-dups
    whose keys sort far apart — complementary recall profiles, which
    is why production ER stacks run both.

    Scale shape — the GLOBAL SORT NEVER HAPPENS: positions come from
    the range-bucket scaffold (numeric boundaries over the monotone
    key-prefix encoding — balance only; correctness comes from the
    bucket-partitioned ``(key, id)`` windows plus broadcast cumulative
    offsets, the global_prefix_sum discipline), candidates from ONE
    integer equi-join of the rank table against itself shifted by
    1..window−1 (explode is the multiplier, the join key is an 8-byte
    rank), and token sets re-attach to SURVIVING candidates only.
    Deterministic end-to-end: the (key, id) order is total, so the
    pair set replays in any ANSI engine's row_number.
    """
    if window < 2:
        raise ValueError(f"sorted_neighborhood_pairs: window must be >= 2, got {window}")
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), r"\s+", " "
    )
    key = F.substring(norm, 1, key_chars)
    base = df.select(
        F.col(id_col).alias("_id"),
        key.alias("_key"),
        token_set_col(F.col(text_col)).alias("_toks"),
    ).filter(F.size(F.filter("_toks", lambda x: x != "")) > 0)
    base = base.withColumn(
        "_toks", F.filter("_toks", lambda x: x != "")
    )
    keyed = base.withColumn("_kn", _snm_key_num(F.col("_key")))
    # range buckets on the numeric prefix (equal prefixes can't split)
    bounds = keyed.agg(
        F.percentile_approx(
            "_kn", [i / n_buckets for i in range(1, n_buckets)], 10_000
        ).alias("b")
    ).first()["b"]
    bucket = F.lit(0)
    for i, b in enumerate(sorted(set(bounds))):
        bucket = F.when(F.col("_kn") > F.lit(b), i + 1).otherwise(bucket)
    keyed = keyed.withColumn("_pb", bucket)
    from pyspark.sql import Window

    w_local = Window.partitionBy("_pb").orderBy("_key", "_id")
    local = keyed.withColumn("_lp", F.row_number().over(w_local))
    offsets_rows = (
        local.groupBy("_pb").agg(F.count(F.lit(1)).alias("_c")).collect()
    )
    counts = {r["_pb"]: r["_c"] for r in offsets_rows}
    run, offs = 0, {}
    for pb in sorted(counts):
        offs[pb] = run
        run += counts[pb]
    off_df = local.sparkSession.createDataFrame(
        [(pb, off) for pb, off in offs.items()], "_pb int, _off long"
    )
    ranked = local.join(F.broadcast(off_df), "_pb").select(
        "_id",
        "_toks",
        (F.col("_lp") + F.col("_off")).alias("_rn"),
    )
    if checkpoint:
        # the rank table is consumed twice (left side + shifted right
        # side) — materialize once; checkpoint=False exists for plan
        # inspection (the audited lineage would otherwise truncate)
        ranked = ranked.transform(materialize)
    right = ranked.select(
        F.col("_id").alias("_idb"),
        F.col("_toks").alias("_toksb"),
        F.explode(
            F.array(*[F.lit(o) for o in range(1, window)])
        ).alias("_o"),
        F.col("_rn").alias("_rnb"),
    ).withColumn("_rn", F.col("_rnb") - F.col("_o"))
    inter = F.size(F.array_intersect("_toks", "_toksb"))
    union = F.size("_toks") + F.size("_toksb") - inter
    jac = inter.cast("double") / union
    return (
        ranked.join(right, "_rn")
        .select(
            F.least("_id", "_idb").alias("id_a"),
            F.greatest("_id", "_idb").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
            jac.alias("_j"),
        )
        .filter(F.col("_j") >= F.lit(threshold))
        .drop("_j")
        # no pair-keyed distinct: each unordered pair arises from
        # exactly one (rank, offset) combination by construction, so
        # the candidate stream never shuffles on pair ids (the
        # minhash/simhash discipline)
    )
