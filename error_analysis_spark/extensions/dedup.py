"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), n-gram Jaccard (inverted-index candidate join —
never the O(N²) cross join), MinHash+LSH (shingle → k-perm minhash →
banding → bucket join), SimHash. All hashing is md5-derived integer
arithmetic, so signatures are deterministic across engines, partitionings
and cluster sizes.

Scale notes: the candidate-pair joins shuffle on token/band keys, which
are high-cardinality and well-distributed; hot tokens (stopwords) are the
skew risk, so `jaccard_pairs(max_df=...)` drops tokens above a
document-frequency cap before the join (standard posting-list pruning),
and AQE skew-join covers the rest. MinHash signatures and LSH banding are
row-local expressions (no shuffle before the candidate join), and exact
verification intersects per-doc token-set arrays row-locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from error_analysis_spark.extensions.text import tokens

_MERSENNE31 = (1 << 31) - 1  # keeps every product below 2^62: no int64 overflow

# Persisted pair-list results handed to callers that never see the
# persist (registry queries, packs, bench) register in the shared
# session-scoped cache registry (cachereg.release_tracked frees them;
# the harness calls it between query invocations). Single-invocation
# consumers (curate_documents, tests) still unpersist directly —
# double unpersist is a no-op.
from error_analysis_spark.cachereg import track as _track  # noqa: E402


def _compute_once(col):
    """Pushdown barrier for an expensive projection (round 9): wrapping
    a column in a CASE whose predicate is nondeterministic (rand(42) ≥
    −1 — always true, so the VALUE is unchanged and retry-safe) stops
    CollapseProject/PushPredicateThroughProject from inlining the
    expression into downstream filters and join conditions. Without it
    Catalyst pushed the jaccard threshold INTO the candidate join as a
    non-equi condition whose expression text contains array_intersect
    twice, plus once more in the projection — three O(|tokens|)
    set-intersections per candidate pair instead of one, measured 4540
    task-CPU-core-s vs 620 on the funnel's 8.26M-candidate verify.
    The intersect is the single dominant kernel of near-dup dedup at
    100 TB, so the 3× matters everywhere.

    Form note: `col + 0·floor(rand)` rather than `CASE WHEN rand ≥ −1`
    — Spark 4's range analysis proves Rand ∈ [0,1) ≥ −1 and folds the
    CASE away (verified on the optimized plan), while the arithmetic
    no-op survives; its value is exactly `col` (floor(rand) = 0) and
    retry-safe."""
    return col + (F.floor(F.rand(42)) * F.lit(0)).cast("int")


def _md5_long(col, hex_chars: int = 15):
    """Canonical md5-prefix key — delegates to text.md5_prefix_long so
    every operator family hashes content identically (join-compatible
    dedup keys)."""
    from error_analysis_spark.extensions.text import md5_prefix_long
    return md5_prefix_long(col, hex_chars)


def _hashed_token_set(text_col):
    """Per-doc distinct-token set as md5-prefix int64 hashes (round 10).

    The exact-verify intersect is THE dominant kernel of near-dup
    dedup at any scale, and `array_intersect` on string arrays runs
    through the boxed OpenHashSet[Any] path (per-row string hashing +
    equals); on bigint arrays it takes the specialized primitive path —
    measured 2.0× faster at 2M pairs × 200-token sets (6.4 → 3.2 s),
    with smaller verify-join payloads as a bonus. The hash is the
    repo-canonical 60-bit md5 prefix (`_md5_long`), computed ONCE per
    document in the cached token frame, so the cost is amortized over
    every candidate pair the doc participates in. |A∩B| and |A| on
    hashed sets equal the string-set values modulo 60-bit md5
    collisions — the same documented caveat as every md5-derived dedup
    key in this module (expected collisions ≈ |vocab|²/2⁶¹ ≈ 0 at any
    realistic vocabulary)."""
    return F.transform(F.array_distinct(tokens(text_col)),
                       lambda t: _md5_long(t))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5-hash groupBy, canonical = min id per group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"),
             F.min(id_col).alias("canonical_id"))
    )


def doc_tokens(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """(id, token) long table; distinct token-set form for Jaccard."""
    t = df.select(F.col(id_col).alias("id"),
                  F.explode(tokens(text_col)).alias("token"))
    return t.distinct() if distinct else t


def _length_guard(sz_a, sz_b, threshold: float):
    """Provable Jaccard length prefilter (round 11; the classic length
    filter of the set-similarity-join literature, e.g. AllPairs/PPJoin):
    |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    J(A,B) ≤ min/max — a pair whose size ratio is below the threshold
    can NEVER pass the exact jaccard filter, and its O(|A|+|B|)
    array_intersect is skipped entirely. Exactness under IEEE doubles:
    J_real ≤ ratio_real, both sides reach the comparison through one
    correctly-rounded double division each, and correct rounding is
    monotone — fl(J) ≥ t implies fl(ratio) ≥ t, so the guard keeps a
    strict superset of the pairs the final filter keeps. At threshold
    0.9 (the curation funnel) this kills every cross-length-class
    candidate pair before the dominant intersect kernel runs."""
    lo, hi = F.least(sz_a, sz_b), F.greatest(sz_a, sz_b)
    return (lo / hi) >= F.lit(threshold)


def _verified_pair_stats(df: DataFrame, toks: DataFrame, text_col: str,
                         id_col: str,
                         max_df: int | float | None,
                         jaccard_floor: float | None = None
                         ) -> tuple[DataFrame, list[DataFrame]]:
    """Shared candidate-generation + exact-verify pipeline behind the
    set-overlap near-dup operators (`jaccard_pairs`,
    `containment_pairs`): inverted-index self-join on shared tokens
    (optionally df-capped against hot tokens), exact |A∩B| per
    candidate, per-side set sizes. Returns
    ((id_a, id_b, inter, sz_a, sz_b), pins); the caller applies its
    metric and unpersists `pins` once its result is materialized.

    `toks` is the caller's CACHED (id, token) distinct table — its
    consumers here are the df-cap aggregate and both posting join
    sides; the caller owns its release.

    Unpruned path: the intersection comes straight off the
    shared-token join (one shuffle). Pruned path: postings generate
    CANDIDATES only, and the intersection is recomputed on the full
    token-set arrays row-locally, so every surfaced pair carries its
    exact overlap — pruning may only MISS pairs whose entire overlap
    is ultra-common tokens (documented caveat in both callers).

    Round 11 (pruned path): the per-side set size is `F.size` of the
    hashed token-set array (transform preserves the length of
    array_distinct(tokens), so it equals the old count(*) over the
    distinct (id, token) table exactly) — the corpus-wide sizes
    aggregate and the two final size joins are gone, and the token-set
    array frame is pinned instead of being recomputed for each join
    side. `jaccard_floor` applies the provable length prefilter
    J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) BEFORE the intersect (see
    `_verify_jaccard`) — only valid when the caller keeps exactly the
    pairs with jaccard ≥ that floor."""
    if max_df is None:
        sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
        a = toks.select(F.col("id").alias("id_a"), "token")
        b = toks.select(F.col("id").alias("id_b"), "token")
        inter = (
            a.join(b, "token")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        sa = sizes.select(F.col("id").alias("id_a"),
                          F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("id").alias("id_b"),
                          F.col("sz").alias("sz_b"))
        return inter.join(sa, "id_a").join(sb, "id_b"), []
    else:
        tok_df = toks.groupBy("token").agg(F.count("*").alias("df"))
        if isinstance(max_df, float):
            # fractional cap: max(1, floor(n_docs * frac)) resolved
            # INSIDE the plan via a 1-row broadcast — no eager
            # df.count() corpus pass per invocation (the count(*)
            # reduces from parquet row-group stats in the same job)
            # strictly < 1.0: max_df=1.0 would silently mean "keep all
            # tokens" while max_df=1 (int) means "df <= 1" — an easy
            # silent-behavior-change footgun for callers computing the
            # cap arithmetically (ADVICE r05). "No pruning" is
            # max_df=None; a 1-document absolute cap is the int 1.
            if not 0.0 < max_df < 1.0:
                raise ValueError(
                    f"fractional max_df must be in (0,1) — got {max_df}; "
                    f"use max_df=None for no pruning or an int for an "
                    f"absolute document-frequency cap")
            nd = df.agg(F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.count("*") * max_df).cast("long"))
                .alias("_max_df"))
            tok_df = (tok_df.crossJoin(F.broadcast(nd))
                      .where(F.col("df") <= F.col("_max_df"))
                      .drop("_max_df"))
        else:
            tok_df = tok_df.where(F.col("df") <= max_df)
        posting = toks.join(tok_df, "token")
        pa = posting.select(F.col("id").alias("id_a"), "token")
        pb = posting.select(F.col("id").alias("id_b"), "token")
        cand = (pa.join(pb, "token")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
        # exact verify via HASHED token-SET arrays + row-local
        # array_intersect (two equi-joins ship one array per side per
        # candidate; the explode form's candidates × tokens blow-up is
        # exactly what max_df pruning is fighting; int64 sets take the
        # primitive intersect path — see _hashed_token_set). The array
        # frame feeds BOTH join sides, so it is pinned (round 11) —
        # unpinned, Spark re-scanned + re-tokenized + re-hashed the
        # corpus once per side.
        tok_arr = df.select(
            F.col(id_col).alias("id"),
            _hashed_token_set(text_col).alias("toks")) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        ja = tok_arr.select(F.col("id").alias("id_a"),
                            F.col("toks").alias("toks_a"))
        jb = tok_arr.select(F.col("id").alias("id_b"),
                            F.col("toks").alias("toks_b"))
        joined = cand.join(ja, "id_a").join(jb, "id_b")
        if jaccard_floor is not None:
            joined = joined.where(_length_guard(
                F.size("toks_a"), F.size("toks_b"), jaccard_floor))
        out = (joined
               .select("id_a", "id_b",
                       _compute_once(
                           F.size(F.array_intersect("toks_a", "toks_b")))
                       .alias("inter"),
                       F.size("toks_a").alias("sz_a"),
                       F.size("toks_b").alias("sz_b")))
        return out, [tok_arr]


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.5,
                  max_df: int | float | None = None) -> DataFrame:
    """N-gram/token Jaccard near-dup: inverted-index self-join on shared
    tokens → |A∩B| per pair → J = inter/(|A|+|B|−inter) ≥ threshold.

    `max_df` prunes tokens appearing in more than that many docs before
    the join (skew + cost control; exactness caveat documented: a pair
    sharing ONLY ultra-common tokens can be missed — at sensible
    thresholds such pairs are below threshold anyway).

    Cache note: the exploded (id, token) table is cached because four
    consumers read it (sizes, both join sides, the df-cap). The result
    (the near-dup pair list — bounded by the threshold, orders of
    magnitude smaller than the corpus) is materialized eagerly into its
    own persisted DataFrame so the corpus-sized token cache can be
    released HERE, deterministically, before returning; a loop over
    corpora therefore pins only pair lists, each releasable via the
    standard `result.unpersist()`.
    """
    toks = doc_tokens(df, text_col, id_col).cache()
    # jaccard_floor: every returned pair satisfies jaccard >= threshold,
    # so the length prefilter may drop sub-ratio candidates pre-verify
    base, pins = _verified_pair_stats(df, toks, text_col, id_col, max_df,
                                      jaccard_floor=threshold)
    result = (
        base
        .withColumn("jaccard", F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b",
                F.round("jaccard", 6).alias("jaccard"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    result.count()  # last consumer of the pins materialized → release
    toks.unpersist()
    for p in pins:
        p.unpersist()
    return _track(result)


def _perm_constants(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """The k (a_i, b_i) permutation constants, md5-derived at plan time
    (Python's md5 hex == Spark's md5 == DuckDB's md5 on the same
    string, so every engine sees identical constants)."""
    import hashlib

    def _h(s: str, mod: int, off: int = 0) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16) % mod + off

    return [(_h(f"a{seed}_{p}", _MERSENNE31 - 1, 1),
             _h(f"b{seed}_{p}", _MERSENNE31)) for p in range(num_perm)]


def token_hashes(text_col):
    """Row-local token-hash array h(t) = md5₇(t) mod M — the shared
    front half of every MinHash form (batch, banded, streaming)."""
    return F.transform(
        tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10)
        .cast("long") % _MERSENNE31)


def sig_mins_over(th_col, num_perm: int = 32, seed: int = 42) -> list:
    """The k per-permutation array_min expressions over a token-hash
    array column — row-local, so they run identically in batch selects
    and Structured Streaming stages. One-arg closure per perm: a
    default-arg capture would make the lambda binary, and pyspark binds
    a second lambda param to the array INDEX, silently shadowing the
    captured constants."""
    def _perm_min(pa: int, pb: int):
        return F.array_min(F.transform(
            th_col, lambda h: (F.lit(pa) * h + F.lit(pb)) % _MERSENNE31))

    return [_perm_min(pa, pb)
            for pa, pb in _perm_constants(num_perm, seed)]


def minhash_wide(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", num_perm: int = 32,
                 seed: int = 42, with_set_size: bool = False) -> DataFrame:
    """K-permutation MinHash as PURE row-local expressions: signature_i
    = array_min over (a_i·h(t)+b_i) mod M of the token-hash array — no
    explode, no shuffle, streaming-safe (a stateless select). Output:
    (id, m0..m{k-1}); docs with no tokens are dropped (they have no
    signature, matching the grouped form's absent rows).

    `with_set_size` (round 11) additionally carries `sz` = the distinct
    RAW-token count — exactly `F.size` of `_hashed_token_set` (the
    transform preserves array_distinct's length), so a downstream
    length guard on banded candidates agrees bit-for-bit with the
    verify-side guard."""
    th = token_hashes(text_col)
    cols = [m.alias(f"m{p}")
            for p, m in enumerate(sig_mins_over(F.col("_th"),
                                                num_perm, seed))]
    extra = ([F.size(F.array_distinct(tokens(text_col))).alias("sz")]
             if with_set_size else [])
    return (df.select(F.col(id_col).alias("id"), th.alias("_th"), *extra)
            .where(F.size("_th") > 0)
            .select("id", *(["sz"] if with_set_size else []), *cols))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 32,
                       seed: int = 42) -> DataFrame:
    """K-permutation MinHash over token sets: h_i(t) = (a_i·md5(t)+b_i) mod M
    (Mersenne 2³¹−1 — all products fit int64, portable to any SQL engine),
    signature_i = min over tokens. Output: (id, perm, minhash).

    Plan shape: scan → row-local array_min per permutation → stack to
    the long format. ZERO exchanges (round-1 crossJoined tokens × perms
    and grouped the 65M-row fan-out; a groupBy-wide-aggregate cut that
    4.6×; the array_min form removes the remaining shuffle entirely —
    duplicate tokens cannot change a min, so the token distinct is
    dropped too). Bit-identical signatures, DuckDB-oracle-checked."""
    wide = minhash_wide(df, text_col, id_col, num_perm, seed)
    pairs = ", ".join(f"{p}L, m{p}" for p in range(num_perm))
    return (wide.selectExpr(
        "id", f"stack({num_perm}, {pairs}) AS (perm, minhash)"))


def banded_signatures(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 32,
                      bands: int = 8, seed: int = 42,
                      with_set_size: bool = False) -> DataFrame:
    """Row-local LSH banding over `minhash_wide`: band sig = md5 of the
    band's sorted "perm:minhash" strings (byte-identical to grouping the
    long `minhash_signatures` form by (id, perm // rows_per_band)). Output:
    (id, band, sig) with bands exploded — still no shuffle before the
    candidate self-join. With `with_set_size`, `sz` (distinct raw-token
    count, see minhash_wide) rides along for candidate-time length
    guards."""
    if num_perm % bands:
        raise ValueError(
            f"num_perm={num_perm} must divide evenly into bands={bands} "
            f"— a trailing partial band would silently change candidate "
            f"semantics between the row-local and long-format forms")
    rows_per_band = num_perm // bands
    wide = minhash_wide(df, text_col, id_col, num_perm, seed,
                        with_set_size=with_set_size)
    band_cols = []
    for b in range(bands):
        perms = range(b * rows_per_band, (b + 1) * rows_per_band)
        sig = F.md5(F.concat_ws(",", F.array_sort(F.array(*[
            F.concat_ws(":", F.lit(str(p)), F.col(f"m{p}").cast("string"))
            for p in perms]))))
        band_cols.append(F.struct(F.lit(b).alias("band"), sig.alias("sig")))
    extra = ["sz"] if with_set_size else []
    return (wide.select("id", *extra,
                        F.explode(F.array(*band_cols)).alias("bs"))
            .select("id", *extra, F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig")))


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  num_perm: int = 32, bands: int = 8,
                  threshold: float = 0.5) -> tuple[DataFrame, int]:
    """Full MinHash-LSH near-dup: signatures → banded candidates → exact
    Jaccard verification of candidates only. Returns (pairs, n_pairs):
    the persisted (id_a, id_b, jaccard) list and its row count. Uses the
    row-local banded form, so the first exchange in the whole pipeline
    is the candidate self-join on (band, sig).

    Cache discipline (same contract as `jaccard_pairs`): the banded
    table and the token-set arrays each feed BOTH sides of a self-join
    — left lazy, Spark recomputes the banding (32 HOF minhash
    transforms per doc) and the tokenization twice, and every
    downstream consumer (e.g. connected_components' probe) re-runs the
    whole candidate+verify pipeline again (measured 82 s vs 21 s at
    sf0.1 on the funnel's dense synthetic graph). So both inputs are
    pinned, the verified pair list materializes eagerly into its own
    persisted DataFrame, the inputs release HERE, and the caller owns
    the result's release via the standard `result.unpersist()`. The
    list is distinct (candidates are distinct, the verify joins are
    1:1), so `connected_components(pairs, ..., n_edges=n_pairs)` can
    use it as-is."""
    # with_set_size (round 11): the banded frame carries each doc's
    # distinct-token count so the provable length guard prunes
    # candidates AT THE BAND JOIN, before the candidate-dedup exchange
    # — at the funnel's 0.9 threshold that shrinks the distinct's
    # input (band collisions × surviving pairs) by the same ~59% the
    # verify-side guard measures, and the pruned pairs never ship
    # token arrays at all. sz here = F.size of the verify side's
    # hashed set (transform preserves array_distinct's length), so
    # both guards agree bit-for-bit and the verified output is
    # unchanged.
    banded = banded_signatures(df, text_col, id_col, num_perm, bands,
                               with_set_size=True) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.select(F.col("id").alias("id_a"), "band", "sig",
                      F.col("sz").alias("sz_a"))
    b = banded.select(F.col("id").alias("id_b"), "band", "sig",
                      F.col("sz").alias("sz_b"))
    cands = (a.join(b, ["band", "sig"])
             .where((F.col("id_a") < F.col("id_b"))
                    & _length_guard(F.col("sz_a"), F.col("sz_b"),
                                    threshold))
             .select("id_a", "id_b").distinct())
    tok_arr = df.select(
        F.col(id_col).alias("id"),
        _hashed_token_set(text_col).alias("toks")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    result = (
        _verify_jaccard(cands, tok_arr, threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_pairs = result.count()  # last consumer of the pins → release them
    banded.unpersist()
    tok_arr.unpersist()
    return _track(result), n_pairs


def _verify_jaccard(cands: DataFrame, tok_arr: DataFrame,
                    threshold: float) -> DataFrame:
    """The LSH exact-verify join, LAZY (plan-shape-testable): two
    equi-joins ship one token-set array per side per candidate (vs the
    explode form's candidates × tokens intermediate, quadratic-ish
    when banding is permissive), row-local array_intersect behind the
    `_compute_once` barrier, then the Jaccard threshold. Returns
    (id_a, id_b, jaccard ≥ threshold). The barrier guarantees the
    optimized plan evaluates array_intersect EXACTLY ONCE per
    candidate and the joins stay pure equi-joins — asserted by
    tests/test_plan_shapes.py::test_jaccard_verify_single_intersect."""
    ja = tok_arr.select(F.col("id").alias("id_a"),
                        F.col("toks").alias("toks_a"))
    jb = tok_arr.select(F.col("id").alias("id_b"),
                        F.col("toks").alias("toks_b"))
    inter = (cands.join(ja, "id_a").join(jb, "id_b")
             # round 11: length prefilter — provably cannot drop a
             # pair the jaccard >= threshold filter keeps (see
             # _length_guard), and skips the dominant intersect
             # kernel for every cross-length-class candidate. Sits
             # BELOW the nondeterministic _compute_once projection
             # (a filter cannot be pushed past it), so the plan stays
             # join → guard → single-intersect project → threshold.
             .where(_length_guard(F.size("toks_a"), F.size("toks_b"),
                                  threshold))
             .select("id_a", "id_b",
                     _compute_once(
                         F.size(F.array_intersect("toks_a", "toks_b")))
                     .alias("inter"),
                     F.size("toks_a").alias("sz_a"),
                     F.size("toks_b").alias("sz_b")))
    return (inter
            .withColumn("jaccard", F.col("inter")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .where(F.col("jaccard") >= threshold))


def connected_components(pairs: DataFrame, vertices: DataFrame,
                         max_iter: int = 25,
                         local_threshold: int = 4_000_000,
                         n_edges: int | None = None) -> DataFrame:
    """Near-dup clusters via hash-min label propagation: every vertex
    starts labeled with its own id; each iteration pushes the min label
    across edges until fixpoint. Output: (id, component) with component
    = min id in the cluster — the canonical-document rule (keep
    `component`, drop the rest).

    Adaptive strategy (the AQE-broadcast analog for graphs): the edge
    list is already materialized to decide — at or below
    `local_threshold` edges the component structure is solved
    driver-side with VECTORIZED numpy hash-min propagation over the
    Arrow-collected edge list (the near-dup graph is the COMPRESSED
    representation, typically orders of magnitude smaller than the
    data; 4M edges ≈ 64 MB of Arrow int64 — trivial next to driver
    memory — and each propagation pass is one np.minimum scatter,
    ~ms, vs a full cluster job wave of 3 shuffles. Measured at sf0.1
    the funnel's 2.96M-edge graph solves in ~2 s local vs 9 s warm /
    70+ s cold-JVM for the distributed loop: the loop's ~12 fresh
    codegen'd stages dominated the funnel's first-run cost, VERDICT
    r08 #3); above it, distributed hash-min propagation with pointer
    jumping. Both paths produce the identical fixpoint labeling
    (component = min id in the cluster).

    Distributed path: iterations ≤ log₂(diameter) thanks to path
    compression. Each iteration is one neighbor join + one groupBy +
    one relabel join (all shuffles on `id`); the loop checks
    convergence with a cheap count instead of checkpointing every pass.

    `n_edges`: the caller states that `pairs` is a DISTINCT (id_a, id_b)
    edge list backed by a materialized store (persisted AND computed,
    or checkpointed) holding exactly `n_edges` rows — as returned by
    `minhash_dedup`. The edge-dedup shuffle, the checkpoint copy and
    the size-probe count are then skipped. Do NOT pass it for lazy
    pipelines: the probe + collect would re-execute them per consumer.
    The local path raises ValueError if the collected edge count
    differs from `n_edges`.
    """
    # materialize the deduped edge list ONCE, then probe from the
    # checkpointed table. `pairs` is typically an expensive lazy
    # pipeline (LSH banding + candidate join + exact verify over the
    # whole corpus); the earlier probe-then-checkpoint form executed
    # that pipeline TWICE on every above-threshold graph — measured at
    # sf0.1 this halved the funnel's near-dup stage. Below threshold
    # the extra cost is one bounded write of ≤ local_threshold rows.
    # With `n_edges` every consumer reads the caller's materialization
    # directly and the threshold probe runs zero jobs.
    und = (pairs.select("id_a", "id_b") if n_edges is not None
           else pairs.select("id_a", "id_b").distinct().localCheckpoint())
    # `local_threshold` is sized as "64 MB of Arrow int64" — valid only
    # for fixed-width integral/float ids. String ids (a tested path)
    # can be arbitrarily long, so byte-bound them: scale the edge cap
    # by 16B/avg-id-bytes, measured with one cheap aggregate over the
    # already-checkpointed (materialized) edge list (ADVICE r09). A
    # 64-char-id graph thus collects at ≤ ~1M edges (same ~64 MB),
    # never 4M × long strings.
    id_type = pairs.schema["id_a"].dataType.simpleString()
    eff_threshold = local_threshold
    if id_type not in ("tinyint", "smallint", "int", "bigint",
                       "float", "double"):
        # octet_length, not length: the bound is Arrow-transfer BYTES,
        # and multibyte UTF-8 ids undercount by up to 4x under
        # character counting (ADVICE r10)
        sample = und.select(
            F.avg(F.octet_length(F.col("id_a").cast("string"))
                  + F.octet_length(F.col("id_b").cast("string")))
            .alias("w")).collect()
        avg_pair_bytes = float(sample[0]["w"] or 16.0)
        eff_threshold = max(int(local_threshold * 16.0 / avg_pair_bytes),
                            65536)
    if (n_edges if n_edges is not None
            else und.count()) <= eff_threshold:
        # toArrow collects through Arrow whatever the session's
        # `arrow.pyspark.enabled` says — a caller's session may have it
        # off, and the row-at-a-time fallback on a millions-of-edges
        # list costs minutes
        tbl = und.toArrow()
        if n_edges is not None and tbl.num_rows != n_edges:
            raise ValueError(
                f"connected_components: n_edges={n_edges} but the edge "
                f"list holds {tbl.num_rows} rows")
        return _components_local(pairs.sparkSession, tbl, id_type,
                                 vertices)
    edges = (und.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
             .unionByName(und.select(F.col("id_b").alias("a"),
                                     F.col("id_a").alias("b")))
             .distinct().localCheckpoint())
    # only vertices touching an edge participate in the loop; isolated
    # vertices keep their own label and rejoin at the end
    active = edges.select(F.col("a").alias("id")).distinct()
    labels = active.select("id", F.col("id").alias("component")) \
        .localCheckpoint()
    changed = -1
    for _ in range(max_iter):
        msgs = (edges.join(labels.withColumnRenamed("id", "b")
                           .withColumnRenamed("component", "nb_comp"), "b")
                .select(F.col("a").alias("id"), F.col("nb_comp")
                        .alias("component")))
        stepped = (labels.unionByName(msgs)
                   .groupBy("id").agg(F.min("component").alias("component")))
        # pointer jumping (path compression): relabel through the
        # label's own label — m(m(x)) ≤ m(x), so chains collapse in
        # O(log diameter) rounds instead of O(diameter). One extra
        # equi-join per round buys exponentially fewer job waves on
        # long thin components (rasters, chain-shaped near-dup graphs).
        hop = (stepped.select(F.col("id").alias("component"),
                              F.col("component").alias("c2")))
        # localCheckpoint truncates lineage each pass — the iterative
        # plan would otherwise grow without bound
        new_labels = (stepped.join(hop, "component", "left")
                      .select("id", F.coalesce("c2", "component")
                              .alias("component"))
                      .localCheckpoint())
        changed = (new_labels.join(labels.withColumnRenamed(
            "component", "old"), "id")
            .where(F.col("component") != F.col("old")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # partially-propagated labels are silently WRONG components for
        # chain graphs with diameter > max_iter — fail loud instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); raise "
            f"max_iter (graph diameter exceeds it)")
    isolated = (vertices.join(active, "id", "left_anti")
                .select("id", F.col("id").alias("component")))
    return labels.unionByName(isolated)


def _components_local(spark, tbl, id_type: str,
                      vertices: DataFrame) -> DataFrame:
    """Bounded-graph fast path: VECTORIZED hash-min label propagation
    over the Arrow-collected edge list. Ids are factorized via
    np.unique (sorted, so min index ≡ min id for numeric AND string
    ids alike); each pass is two np.minimum scatters (both edge
    directions) + one pointer-jumping gather, monotone decreasing, so
    the loop terminates at the unique min-id fixpoint — the same
    labeling the distributed path and the old per-edge union-find
    produce. A 3M-edge pass is ~30 ms; the previous Python dict
    union-find walked edges one at a time (~10 s at that size) and
    was capped at 200k edges, pushing dense near-dup graphs onto the
    distributed loop whose ~12 codegen'd stages dominated the
    funnel's cold-JVM cost (VERDICT r08 #3). Isolated vertices never
    leave the cluster."""
    import numpy as np
    import pandas as pd

    schema = f"id {id_type}, component {id_type}"
    if not tbl.num_rows:
        labeled = spark.createDataFrame([], schema)
    else:
        a = tbl.column("id_a").to_numpy(zero_copy_only=False)
        b = tbl.column("id_b").to_numpy(zero_copy_only=False)
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ea = inv[:len(a)]
        eb = inv[len(a):]
        lab = np.arange(len(ids), dtype=np.int64)
        while True:
            prev = lab
            lab = lab.copy()
            np.minimum.at(lab, ea, lab[eb])
            np.minimum.at(lab, eb, lab[ea])
            lab = lab[lab]                   # pointer jumping
            if np.array_equal(lab, prev):
                break
        labeled = spark.createDataFrame(
            pd.DataFrame({"id": ids, "component": ids[lab]}), schema)
    isolated = (vertices.join(labeled.select("id"), "id", "left_anti")
                .select("id", F.col("id").alias("component")))
    return labeled.unionByName(isolated)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 48) -> DataFrame:
    """SimHash: per token, md5-derived bit pattern; signature bit_j = 1 if
    Σ_tokens (±1 for bit_j of hash) > 0 (Charikar 2002 / Manku 2007).
    `bits` ≤ 60 (md5-prefix hash width).

    PURE ROW-LOCAL plan (round 8, the MinHash r03 precedent,
    `sig_mins_over`): one pass over the per-doc token-hash array with a
    `bits`-wide counter-array accumulator — ones_j = Σ ((h >> j) & 1),
    bit_j set iff 2·ones_j > n (≡ the ±1 sum > 0). ZERO exchanges and
    no row fan-out; the previous form crossJoined the token stream ×
    `bits` and reduced with two corpus-keyed hash aggregates
    (bit-identical output, kept as `_simhash_fanned` for the parity
    test). Docs with no tokens have no signature (absent row), matching
    the fanned form's semantics."""
    th = F.transform(
        tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
        .cast("long"))
    sig = F.expr(f"""
        aggregate(
          zip_with(
            aggregate(_th, array_repeat(0L, {bits}),
                      (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                                           (c, i) -> c + (shiftright(h, i) & 1))),
            sequence(0, {bits - 1}),
            (o, j) -> IF(2 * o > size(_th), shiftleft(1L, j), 0L)),
          0L, (a, x) -> a + x)""")
    return (df.select(F.col(id_col).alias("id"), th.alias("_th"))
            .where(F.size("_th") > 0)
            .select("id", sig.cast("long").alias("simhash")))


def _simhash_fanned(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", bits: int = 48) -> DataFrame:
    """Round-1..7 SimHash plan, retained ONLY as the parity reference
    for the row-local rewrite: explode tokens, crossJoin(broadcast(bit
    positions)), two corpus-keyed aggregates. Semantically identical to
    `simhash` (test-asserted bit-identical); never call it in a
    production plan — it fans the token stream ×`bits` and shuffles
    the corpus twice."""
    toks = doc_tokens(df, text_col, id_col, distinct=False)
    toks = toks.withColumn("th", _md5_long(F.col("token")))
    bit = df.sparkSession.range(bits).select(F.col("id").alias("bit"))
    fanned = toks.crossJoin(F.broadcast(bit))
    # SQL shiftright/shiftleft accept a column shift amount (the Python
    # wrappers require a literal int)
    contrib = F.when(
        F.expr("shiftright(th, cast(bit as int))").bitwiseAND(F.lit(1)) == 1,
        1).otherwise(-1)
    bitsum = (fanned.withColumn("c", contrib)
              .groupBy("id", "bit").agg(F.sum("c").alias("s")))
    return (
        bitsum
        .withColumn("bitval",
                    F.when(F.col("s") > 0,
                           F.expr("shiftleft(cast(1 as bigint), cast(bit as int))"))
                    .otherwise(F.lit(0).cast("long")))
        .groupBy("id")
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 48,
                       max_hamming: int = 3) -> DataFrame:
    """SimHash Hamming-radius pair search WITHOUT an all-pairs join —
    the piece that makes SimHash dedup usable on a web corpus (Manku
    et al. 2007, WWW '07 §3): split the b-bit fingerprint into
    max_hamming+1 bands; by pigeonhole, any pair within Hamming
    distance ≤ max_hamming agrees EXACTLY on at least one band, so
    candidates come from an equi-join on (band, band_bits) — never a
    fingerprint cross product — and one bit_count(xor) predicate
    verifies them. The banding is a DECOMPOSITION, not an
    approximation: the result is exact and complete within the radius
    (test-asserted against brute-force all-pairs).

    Scale shape: band fan-out is row-local (×(k+1)); the join
    shuffles on (band, band_bits) — hot band values (e.g. all-zero
    bands from near-empty docs) are ordinary skew, handled by AQE
    skew-join splitting like any hot key.

    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    sigs = simhash(df, text_col, id_col, bits=bits)
    return hamming_near_pairs(sigs, sig_col="simhash", bits=bits,
                              max_hamming=max_hamming)


def hamming_near_pairs(sigs: DataFrame, sig_col: str, bits: int,
                       max_hamming: int, id_col: str = "id",
                       n_bands: int | None = None) -> DataFrame:
    """Banded Hamming-radius pair search over ANY ≤64-bit integer
    fingerprint column — the Manku 2007 pigeonhole decomposition shared
    by `simhash_near_pairs` (text) and `phash_near_pairs`
    (multimodal.py — perceptual image hashes). Exact and complete
    within the radius either way; verify is one bit_count(xor).

    `n_bands` (m) controls the candidate-density trade (Manku §3's
    block-permutation generalization):

    - m = max_hamming+1 (the default): any pair within k agrees
      EXACTLY on ≥ 1 whole band → equi-join on (band, band_bits).
      Simplest, k+1× fan-out — but the band is only b/(k+1) bits, so
      candidates grow as n²·(k+1)/2^(b/(k+1)): at wide radii (k ≥ 4 on
      48 bits) random-density corpora saturate the buckets and the
      join degenerates toward all-pairs (measured: the round-8 probe
      at n=500k, k=5 blew past 10⁹ candidates).
    - m > max_hamming: ≤ k bands are dirty, so ≥ m-k bands agree —
      probe on ALL C(m, m-k) composite keys of m-k bands each. Key
      width becomes (m-k)·b/m bits (e.g. b=48, k=3, m=6 → 24-bit keys
      instead of 12), shrinking per-bucket density exponentially, at
      C(m, m-k)× row fan-out. Still EXACT: the pigeonhole guarantees
      at least one all-clean combination per qualifying pair.

    Returns (id_a, id_b, hamming), id_a < id_b."""
    cand = _band_candidates(sigs, sig_col, bits, max_hamming, id_col,
                            n_bands)
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (cand.withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def _band_candidates(sigs: DataFrame, sig_col: str, bits: int,
                     max_hamming: int, id_col: str = "id",
                     n_bands: int | None = None) -> DataFrame:
    """The candidate stage of `hamming_near_pairs`, exposed so scale
    probes can measure the candidate:verified ratio on the SAME plan
    the operator runs: combination-keyed equi-join, distinct
    (id_a, id_b, sa, sb) with id_a < id_b, BEFORE the bit_count
    verify. Each composite key packs its m-k band values into ONE
    long (injective shift-or concatenation — total key width ≤ bits
    ≤ 64, sign wrap harmless for equality)."""
    from itertools import combinations

    m = n_bands if n_bands is not None else max_hamming + 1
    if m <= max_hamming:
        # fewer clean bands than zero: a pair within the radius could
        # dirty every band and the search would silently MISS it
        raise ValueError(
            f"n_bands ({m}) must exceed max_hamming ({max_hamming}): "
            "the pigeonhole needs at least one clean band per pair")
    if bits < m:
        # width-0 bands would all share bval=0 and the candidate join
        # would silently degenerate into the all-pairs cross product
        raise ValueError(
            f"bits ({bits}) must be >= n_bands ({m}"
            + ("" if n_bands is not None else " = max_hamming + 1")
            + "): every band needs at least one bit")
    width = bits // m
    widths = [width if i < m - 1 else bits - width * (m - 1)
              for i in range(m)]

    def band_expr(i: int) -> str:
        # widths[i] == 64 only in the degenerate 1-band case
        # (max_hamming=0 on a full 64-bit hash): the mask literal
        # would overflow bigint, and no mask is needed
        return (f"((_sig >> {i * width}) & {(1 << widths[i]) - 1})"
                if widths[i] < 64 else "_sig")

    sigs = sigs.select(F.col(id_col).alias("id"),
                       F.col(sig_col).cast("long").alias("_sig"))
    keys = []
    for cid, combo in enumerate(combinations(range(m), m - max_hamming)):
        kv = band_expr(combo[0])
        for i in combo[1:]:
            kv = f"(({kv} << {widths[i]}) | {band_expr(i)})"
        keys.append(F.struct(F.lit(cid).alias("band"),
                             F.expr(kv).alias("bval")))
    banded = (sigs.select("id", "_sig",
                          F.explode(F.array(*keys)).alias("b"))
              .select("id", "_sig", "b.band", "b.bval"))
    return (banded.alias("a").join(
        banded.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bval") == F.col("b.bval"))
        & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a._sig").alias("sa"),
                F.col("b._sig").alias("sb"))
        .distinct())  # a close pair can agree on several keys


def build_corpus_index(corpus: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 16,
                       bands: int = 4, seed: int = 42
                       ) -> dict[str, DataFrame]:
    """The three corpus-derived screening tables incremental dedup
    probes: `hash` (md5 → min id), `bands` (banded MinHash LSH index),
    `toks` (distinct-token arrays for exact Jaccard verify). Build
    ONCE per curated corpus, then persist — or better, write them out
    (hash bucketed by `_h`, bands partitioned by (band, sig)) — and
    pass the result to `incremental_dedup(..., index=...)` for every
    arriving batch: the per-batch cost then has NO corpus-scan
    component at all. Without a prebuilt index, each
    `incremental_dedup` call derives all three (= three corpus scans,
    column-pruned; fine for one-shot use, wasteful in a loop)."""
    c_hash = (corpus.select(F.md5(text_col).alias("_h"),
                            F.col(id_col).alias("_cid"))
              .groupBy("_h").agg(F.min("_cid").alias("exact_match")))
    cb = (banded_signatures(corpus, text_col, id_col, num_perm, bands,
                            seed)
          .select(F.col("id").alias("cid"), "band", "sig"))
    # hashed token sets (round 10): primitive-path intersect in the
    # verify, and the persisted index table is int64 arrays instead of
    # strings — smaller on disk and through the probe join
    ctoks = corpus.select(F.col(id_col).alias("cid"),
                          _hashed_token_set(text_col).alias("toks_c"))
    return {"hash": c_hash, "bands": cb, "toks": ctoks}


def incremental_dedup(corpus: DataFrame, delta: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_perm: int = 16, bands: int = 4,
                      threshold: float = 0.5, seed: int = 42,
                      index: dict[str, DataFrame] | None = None
                      ) -> DataFrame:
    """Delta-vs-corpus dedup — the production shape at 100 TB: the
    already-curated corpus is never re-paired against itself; only the
    NEW batch is screened, in two stages.

    1. exact — md5(text) of the delta probes the corpus hash column
       (at scale: a bucketed/sorted corpus table, so this equi-join is
       co-located; the corpus side never reshuffles).
    2. near-dup — the corpus's row-local banded MinHash signatures act
       as a persisted LSH index (in production partitioned by
       (band, sig)); delta signatures probe it, and candidates are
       verified with exact token Jaccard. Cost is O(|delta| ×
       bucket_hit_rate), independent of corpus size.

    Pass `index=build_corpus_index(corpus, ...)` (persisted or saved)
    when screening a STREAM of batches — the corpus is then never
    re-derived per call. `num_perm`/`bands`/`seed` must match the ones
    the index was built with.

    Output: one row per delta doc — (id, status ∈ {'kept',
    'exact_dup', 'near_dup'}, match_id = the minimum colliding corpus
    id, NULL when kept). Deterministic: min over matches on both
    stages.
    """
    if index is None:
        index = build_corpus_index(corpus, text_col, id_col, num_perm,
                                   bands, seed)
    else:
        # Probe-time format detection (ADVICE r10): an index saved
        # BEFORE round 10 carries string-array toks_c; the verify
        # below intersects against int64-hashed toks_d, so hash the
        # old format up to the current one here instead of failing
        # with an array_intersect type mismatch.
        toks_c_type = index["toks"].schema["toks_c"].dataType
        elem = getattr(toks_c_type, "elementType", None)
        if elem is not None and elem.simpleString() == "string":
            index = dict(index)
            index["toks"] = index["toks"].select(
                "cid", F.transform(F.col("toks_c"),
                                   lambda t: _md5_long(t))
                .alias("toks_c"))
    d = delta.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("_text"),
                     F.md5(text_col).alias("_h"))
    d1 = d.join(index["hash"], "_h", "left")

    surv = (d1.where(F.col("exact_match").isNull())
            .select(F.col("id").alias(id_col),
                    F.col("_text").alias(text_col)))
    db = banded_signatures(surv, text_col, id_col, num_perm, bands, seed)
    cands = (db.join(index["bands"], ["band", "sig"])
             .select("id", "cid").distinct())

    dtoks = surv.select(F.col(id_col).alias("id"),
                        _hashed_token_set(text_col).alias("toks_d"))
    # compute the intersect ONCE per candidate behind the pushdown
    # barrier (round 10 — the same 3×-intersect hazard _compute_once
    # fixes in the batch verify applies to the delta probe)
    stats = (cands.join(dtoks, "id").join(index["toks"], "cid")
             .select("id", "cid",
                     _compute_once(
                         F.size(F.array_intersect("toks_d", "toks_c")))
                     .alias("inter"),
                     F.size("toks_d").alias("sz_d"),
                     F.size("toks_c").alias("sz_c")))
    jac = (F.col("inter").cast("double")
           / (F.col("sz_d") + F.col("sz_c") - F.col("inter")))
    near = (stats.where(jac >= threshold)
            .groupBy("id").agg(F.min("cid").alias("near_match")))

    return (d1.join(near, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.when(F.col("exact_match").isNotNull(), "exact_dup")
                    .when(F.col("near_match").isNotNull(), "near_dup")
                    .otherwise("kept").alias("status"),
                    F.coalesce("exact_match", "near_match")
                    .alias("match_id")))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.8,
                      max_df: int | float | None = None) -> DataFrame:
    """Asymmetric near-dup by token-set CONTAINMENT: flag a pair when
    the smaller set sits (mostly) inside the larger — cont(A→B) =
    |A∩B| / |A|. Jaccard misses exactly this case (a paragraph pasted
    into a long page has tiny Jaccard but containment ≈ 1), which is
    why fuzzy-dedup stacks run both signals (Broder's resemblance AND
    containment, 1997).

    Same scale shape as `jaccard_pairs`' pruned path: inverted-index
    candidates (optionally df-capped against hot tokens), exact verify
    on row-local token-set arrays, both direction containments from
    one intersection. The caveat sharpens here: pruning can only miss
    pairs whose entire overlap is ultra-common tokens, but a SMALL doc
    of only stopwords is precisely a high-containment pair — so pick
    max_df well above the stopword df, or leave it None below the
    skew scale.

    Returns (id_a, id_b, inter, sz_a, sz_b, cont_a, cont_b) for pairs
    with max(cont_a, cont_b) >= threshold.
    """
    toks = doc_tokens(df, text_col, id_col).cache()
    pins: list[DataFrame] = []
    try:
        # no jaccard_floor: containment has no size-ratio upper bound
        # (inter can equal min(sz), so cont_max can be 1 at ANY ratio)
        base, pins = _verified_pair_stats(df, toks, text_col, id_col,
                                          max_df)
        cont_a = F.col("inter") / F.col("sz_a")
        cont_b = F.col("inter") / F.col("sz_b")
        result = (base
                  .where(F.greatest(cont_a, cont_b) >= threshold)
                  .select("id_a", "id_b", "inter", "sz_a", "sz_b",
                          F.round(cont_a, 6).alias("cont_a"),
                          F.round(cont_b, 6).alias("cont_b"))
                  .persist(StorageLevel.MEMORY_AND_DISK))
        result.count()  # materialize before the token cache drops
    finally:
        toks.unpersist()
        for p in pins:
            p.unpersist()
    return _track(result)
