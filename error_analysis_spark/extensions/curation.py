"""Document-curation pipeline — the training-data composition layer.

`curate_documents` chains the extension operators the way a pretraining
data pipeline does:

    1. quality gate       (text.quality_expr ≥ min_quality)
    2. language filter    (text.lang_scores argmax ∈ keep_langs)
    3. exact dedup        (window-min doc_id per md5 hash)
    4. near-dup dedup     (MinHash-LSH clusters via connected
                           components; keep the canonical = min id)
    5. token budgeting    (BPE-ish token counts on the survivors)

Each stage's lineage is computed EXACTLY ONCE. Stages 1-3 are a single
pass: quality and language are row-local, so their funnel counts ride
the stage-3 cache fill as Observation metrics (round 11) — and since
round 12 the stage-3 fill itself has no dedicated wave either: n3 is a
third Observation collected by the first LSH job — the naive alternative
(five eager `count()`s over an uncached DAG) re-runs quality scoring,
language ID, and the dedup joins from the scan per count, which is
catastrophic at 100 TB, and the pre-round-11 shape (persist + count
per boundary) paid two corpus cache fills for counts a CollectMetrics
node collects for free. Only stage 3's survivors persist
(MEMORY_AND_DISK — spills, never recomputes); that one cache feeds the
LSH dedup, the component semi-join and the returned `kept` frame.
Stage shapes: quality is pure per-row expressions; exact dedup is a
window-min on the md5 hash (one shuffle, no self-join); the only
remaining wide stages are the LSH dedup shuffles, which key on
well-distributed hashes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from error_analysis_spark.extensions import dedup as DD
from error_analysis_spark.extensions import text as TX


@dataclass
class CurationConfig:
    min_quality: float = 0.3
    keep_langs: tuple = ("en",)
    near_dup_threshold: float = 0.8
    num_perm: int = 32
    bands: int = 8


def curate_documents(docs: DataFrame, cfg: CurationConfig | None = None,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Returns (kept_docs, stage_stats).

    kept_docs: the surviving rows of `docs` plus `quality`, `pred_lang`,
    `n_bpe_tokens` columns (backed by the final stage cache). stage_stats:
    one row per pipeline stage with rows_in/rows_out (the curation
    funnel — what a data team audits).
    """
    cfg = cfg or CurationConfig()
    spark = docs.sparkSession

    # Degenerate-parallelism guard (round 9): a small corpus often
    # arrives as ONE parquet row group → every row-local text stage
    # (quality regex, lang HOFs, minhash) runs on a single core, and
    # the stage-1 cache then pins that 1-partition layout for the whole
    # funnel. Re-spread once up front when the scan has fewer splits
    # than half the cluster; at real scale the file count already
    # exceeds the core count and this branch never fires.
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, target // 2):
        docs = docs.repartition(target)

    # 1.+2. quality gate and language filter — both row-local stages,
    # folded into the stage-3 fill pass (round 11, guide §1.2/§2.6):
    # their funnel counts ride the SAME job as Observation metrics
    # (CollectMetrics is a pushdown barrier, so n0 counts the true
    # input), which removes the two dedicated counting waves AND the
    # s1/s2 corpus caches those counts existed to amortize — the one
    # stage-3 fill computes scan → quality regex → lang scores →
    # dedup window in a single pass instead of three cache-mediated
    # ones. Values are exactly the old aggregates' (sum of a NULL
    # predicate stays NULL-skipping, count(lit(1)) counts every row).
    from pyspark.sql import Observation

    obs12 = Observation("funnel_s1_s2")
    passes_q = F.col("quality") >= cfg.min_quality
    s1df = docs.withColumn("quality", TX.quality_expr(text_col)) \
        .observe(obs12,
                 F.count(F.lit(1)).alias("n0"),
                 F.sum(passes_q.cast("long")).alias("n1"))
    s1 = s1df.where(passes_q)

    obs2 = Observation("funnel_s2_out")
    s2 = (TX.lang_scores(s1, text_col)
          .select(*s1.columns, "pred_lang")
          .where(F.col("pred_lang").isin(*cfg.keep_langs))
          .observe(obs2, F.count(F.lit(1)).alias("n2")))

    # 3. exact dedup — keep the canonical (min id) copy per text hash:
    # a window-min instead of groupBy+join-back keeps the plan linear
    # (the cached stage subtree would otherwise appear on both join sides)
    wh = Window.partitionBy(F.md5(F.col(text_col)))
    # cachereg-tracked (round 9): s3 backs the returned `kept` frame,
    # so it cannot be unpersisted here — but an UNtracked persist
    # leaked one full-width corpus cache per invocation (the funnel
    # query consumes only `stats`), and the stale entries compounded
    # across a bench session. Tracking defers the release to the
    # harness boundary (the next query's release_tracked), keeping
    # `kept` readable for this invocation's consumers.
    from error_analysis_spark.cachereg import track
    obs3 = Observation("funnel_s3_out")
    s3 = track(s2.withColumn("_min_id", F.min(id_col).over(wh))
               .where(F.col(id_col) == F.col("_min_id")).drop("_min_id")
               .observe(obs3, F.count(F.lit(1)).alias("n3"))
               .persist(StorageLevel.MEMORY_AND_DISK))

    # 4. near-dup dedup: MinHash-LSH pairs → components → keep min id
    # (pairs/vertices/final semi-join all read the stage-3 cache).
    # Round 12 (VERDICT r11 #1): the dedicated `s3.count()` fill wave is
    # gone — n3 rides the FIRST LSH pass as a third Observation. The
    # first action over s3 is minhash_dedup's verified-pair count (its
    # banded and token-array subtrees both read s3); all three
    # observations collect there. n3 is exact only if s3's cache fills
    # each partition once under that job: in single-JVM local mode the
    # block manager's per-block lock guarantees it, but with several
    # executors the two subtrees can each compute (and count) the same
    # partition before either caches it. That race is unverified; the
    # multi-executor fault-injection tier (ROADMAP item 3) is where it
    # gets tested and fixed. minhash_dedup's eager count — the
    # pinned-input release barrier of rounds 8-10 — is untouched; only
    # the funnel's own counting wave is removed.
    pairs, n_pairs = DD.minhash_dedup(s3, text_col, id_col, cfg.num_perm,
                                      cfg.bands, cfg.near_dup_threshold)
    n0, n1 = (obs12.get["n0"], obs12.get["n1"])  # the observed counts
    n2 = obs2.get["n2"]
    n3 = obs3.get["n3"]
    vertices = s3.select(F.col(id_col).alias("id"))
    # minhash_dedup's pair list is distinct by construction and
    # persisted+counted — CC skips its dedup shuffle, checkpoint copy
    # and size-probe count
    comp = DD.connected_components(pairs, vertices, n_edges=n_pairs)
    # connected_components checkpoints its labels eagerly, so the
    # (possibly corpus-scale) verified pair cache releases here
    pairs.unpersist()
    keep = comp.where(F.col("id") == F.col("component")) \
        .select(F.col("id").alias(id_col))
    s4 = s3.join(keep, id_col, "left_semi")
    # |s4| == |keep| by construction (every component label is an s3
    # vertex id and keep ids are distinct), so the stage count comes
    # off the label frame — one job over the labels + the bounded
    # isolated anti-join instead of a second full semi-join pass over
    # the s3 cache (round 11). `kept` below still derives from the
    # lazy s4 for consumers that materialize rows.
    n4 = keep.count()

    # 5. token budget on survivors (lazy — consumers read the s3 cache)
    kept = s4.withColumn(
        "n_bpe_tokens", F.size(TX.bpe_ish_tokens(F.col(text_col))))

    stats = spark.createDataFrame(
        [("input", n0, n0),
         ("quality_gate", n0, n1),
         ("language_filter", n1, n2),
         ("exact_dedup", n2, n3),
         ("near_dup_dedup", n3, n4)],
        "stage string, rows_in long, rows_out long")
    return kept, stats


def quality_prune(docs: DataFrame, keep_frac: float = 0.5,
                  text_col: str = "text", id_col: str = "doc_id"
                  ) -> DataFrame:
    """Data pruning by quality percentile: keep EXACTLY
    ``ceil(keep_frac × N)`` documents, the highest-quality first with
    deterministic `(quality desc, doc_id asc)` tie-breaking — the
    "train on the best X% of the corpus" selection step.

    Scale shape — no global sort, no full-width window: quality is
    fixed-pointed to a 1e-6 grid, so its distinct-value histogram is
    bounded by ~10⁶ rows regardless of corpus size. The histogram is
    one map-side-combinable aggregate; a driver-side cumulative sum
    over it yields the threshold quality q* plus how many of the docs
    AT q* survive. The kept set is then a pure filter (`quality > q*`)
    UNION the first `tie_keep` docs of the q* tie bucket ordered by id
    — ranked with a bounded window over ONLY the tie bucket (ties on a
    1e-6 quality grid are a vanishing fraction of N; the bound is
    logged in the plan via the filter, not assumed).

    Returns the kept docs annotated with `quality`. Docs with NULL
    quality (empty/whitespace-only text — see text._nz) carry no
    quality mass and are never kept, mirroring `weighted_sample_k`'s
    non-positive-weight rule.

    Cost note: the two consuming passes (histogram, then the kept-set
    filter) each scan `docs` — deliberately NOT persisted here: a
    corpus-sized MEMORY_AND_DISK cache is more expensive than a second
    column-pruned scan at 100 TB, and a persist this function cannot
    release would pin the corpus for the session lifetime. Callers
    looping over an already-cached `docs` get the cache for free.
    """
    q_fp = F.round(TX.quality_expr(text_col) * 1e6).cast("long")
    scored = docs.withColumn("_q_fp", q_fp) \
        .where(F.col("_q_fp").isNotNull())

    hist = (scored.groupBy("_q_fp").agg(F.count("*").alias("c"))
            .orderBy(F.col("_q_fp").desc()).collect())
    n_total = sum(r["c"] for r in hist)
    import math
    k = min(max(math.ceil(n_total * keep_frac), 0), n_total)
    n_above, q_star, tie_keep = 0, None, 0
    for r in hist:
        if n_above + r["c"] >= k:
            q_star, tie_keep = int(r["_q_fp"]), k - n_above
            break
        n_above += r["c"]
    if q_star is None:  # keep_frac >= 1: keep everything
        return scored.select(*docs.columns,
                             (F.col("_q_fp") / 1e6).alias("quality"))

    above = scored.where(F.col("_q_fp") > q_star)
    ties = (scored.where(F.col("_q_fp") == q_star)
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy(id_col)))
            .where(F.col("_rn") <= tie_keep).drop("_rn"))
    kept = above.unionByName(ties)
    return kept.select(*docs.columns, (F.col("_q_fp") / 1e6).alias("quality"))


def domain_cap(docs: DataFrame, cap: int = 10, domain_col: str = "source",
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-domain document cap (the C4-style "no domain may dominate"
    rule): keep at most `cap` docs per domain, highest quality first,
    `(quality desc, doc_id asc)` tie-break — exactly `quality_prune`'s
    selection semantics applied within each domain.

    Scale shape — same histogram trick as `quality_prune`, but GROUPED
    and fully relational (no driver collect): the per-(domain, q_fp)
    count table is bounded by |domains| x 10^6 regardless of corpus
    size; a window over THAT table (partitioned by domain, ordered by
    q_fp — count-table-sized input, never corpus-sized) yields each
    domain's cutoff quality q* and its tie allowance. The kept set is a
    broadcast join of the corpus against the tiny per-domain cutoff
    table plus a bounded rank over only the tie buckets. A plain
    `row_number` over the corpus partitioned by domain would funnel a
    hot domain's entire row set through one partition — the exact skew
    this shape avoids.

    Returns kept docs annotated with `quality`.
    """
    q_fp = F.round(TX.quality_expr(text_col) * 1e6).cast("long")
    scored = docs.withColumn("_q_fp", q_fp) \
        .where(F.col("_q_fp").isNotNull())

    hist = (scored.groupBy(domain_col, "_q_fp")
            .agg(F.count("*").alias("_c")))
    w = (Window.partitionBy(domain_col).orderBy(F.col("_q_fp").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = hist.withColumn(
        "_cum_before", F.coalesce(F.sum("_c").over(w), F.lit(0)))
    # bins where at least one doc is kept; q*(d) = lowest such bin
    elig = cum.where(F.col("_cum_before") < cap)
    cut = (elig.groupBy(domain_col)
           .agg(F.min("_q_fp").alias("_q_star"))
           .withColumnRenamed(domain_col, "_dom"))
    cutoff = (elig.join(cut, (F.col(domain_col) == F.col("_dom"))
                        & (F.col("_q_fp") == F.col("_q_star")))
              .select("_dom", "_q_star",
                      (F.lit(cap) - F.col("_cum_before"))
                      .alias("_tie_keep")))

    j = scored.join(F.broadcast(cutoff),
                    scored[domain_col] == F.col("_dom"))
    above = j.where(F.col("_q_fp") > F.col("_q_star"))
    tw = Window.partitionBy("_dom").orderBy(id_col)
    ties = (j.where(F.col("_q_fp") == F.col("_q_star"))
            .withColumn("_rn", F.row_number().over(tw))
            .where(F.col("_rn") <= F.col("_tie_keep")).drop("_rn"))
    kept = above.unionByName(ties)
    return kept.select(*docs.columns, (F.col("_q_fp") / 1e6).alias("quality"))


def corpus_delta(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Snapshot diff between two corpus versions — the audit a data
    team runs before promoting a refreshed crawl: what was added,
    what disappeared, and what silently changed content under the
    same id.

    Both sides reduce to (id, content_hash) — the md5-prefix content
    hash is the same key `exact_dedup` uses, so "changed" means the
    dedup-relevant bytes changed, not formatting of untouched
    columns. One co-partitioned full-outer hash join on the id (both
    sides shuffle once on the same key; at scale, bucketed snapshot
    storage makes this join exchange-free). Every other column is
    dropped before the join — the shuffle ships two longs per row,
    not documents.

    Returns (doc_id, status) with status in
    {'added', 'removed', 'changed', 'same'}.
    """
    def _hashed(df: DataFrame, side: str) -> DataFrame:
        # presence is tracked by its own flag — md5(NULL) is NULL, so
        # keying "row absent" on a NULL hash would misread a NULL-text
        # doc present in both snapshots as added/removed
        return df.select(
            F.col(id_col),
            F.lit(True).alias(f"_in_{side}"),
            TX.md5_prefix_long(F.col(text_col)).alias(f"_h_{side}"))

    o = _hashed(old, "old")
    n = _hashed(new, "new")
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old").eqNullSafe(F.col("_h_new")), F.lit("same"))
        .otherwise(F.lit("changed")))
    return joined.select(F.col(id_col), status.alias("status"))


def distribution_drift(docs: DataFrame, group_col: str = "source",
                       value_col: str = "n_chars",
                       bin_width: float = 64.0,
                       n_bins: int = 16) -> DataFrame:
    """Population-stability-index (PSI) drift monitor: how far each
    group's value distribution sits from the corpus-wide reference —
    the standard gate for "did this source's length/quality profile
    shift between crawl snapshots".

    One corpus scan bins the value (fixed width, top bin clamped),
    then ONE (group, bin) count aggregate — everything after that
    operates on tables bounded by groups × n_bins regardless of corpus
    size: per-group totals, the global per-bin reference, a dense
    group×bin grid (explode of a literal sequence, so zero-count bins
    are represented), share-space smoothed probabilities
    p=(c/n + s)/(1 + s·B) (every bin defined, and a group whose bin
    shares exactly equal the global ones gets PSI exactly 0 — additive
    count smoothing would not, since group and corpus totals differ),
    and the PSI sum Σ (p−q)·ln(p/q). Each term is fixed-pointed to
    1e-6 before summing so the reduction is order-independent and
    engine-exact.

    Returns (group_col, psi) — PSI ≥ 0, conventional alert bands
    0.1 (drifting) / 0.25 (shifted).
    """
    # both ends clamped: without the lower clamp a negative value
    # (legal for a generic value_col) would land in bin -1 — counted
    # in the group totals but invisible to the dense 0..n_bins-1 grid,
    # silently dropping its probability mass from the PSI sum
    binned = docs.select(
        F.col(group_col),
        F.greatest(F.lit(0).cast("long"),
                   F.least(F.floor(F.col(value_col)
                                   / F.lit(float(bin_width)))
                           .cast("long"),
                           F.lit(n_bins - 1).cast("long"))).alias("_bin"))
    per = binned.groupBy(group_col, "_bin").agg(F.count("*").alias("_c"))
    totals = per.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    glob = per.groupBy("_bin").agg(F.sum("_c").alias("_gc"))
    tot = per.agg(F.sum("_c").alias("_gtot"))
    grid = totals.withColumn(
        "_bin", F.explode(F.sequence(F.lit(0).cast("long"),
                                     F.lit(n_bins - 1).cast("long"))))
    j = (grid
         .join(per, [group_col, "_bin"], "left")
         .join(F.broadcast(glob), "_bin", "left")
         .crossJoin(F.broadcast(tot)))
    s = 1e-4
    denom = 1.0 + s * n_bins
    p = (F.coalesce(F.col("_c"), F.lit(0)) / F.col("_n") + F.lit(s)) \
        / F.lit(denom)
    q = (F.coalesce(F.col("_gc"), F.lit(0)) / F.col("_gtot") + F.lit(s)) \
        / F.lit(denom)
    term = F.round((p - q) * F.log(p / q) * 1e6).cast("long")
    return (j.select(F.col(group_col), term.alias("_t"))
            .groupBy(group_col)
            .agg(F.round(F.sum("_t").cast("double") / 1e6, 6).alias("psi")))


def merge_upsert(target: DataFrame, delta: DataFrame,
                 id_col: str = "doc_id",
                 payload_cols: tuple = ("text", "lang", "source",
                                        "n_chars"),
                 op_col: str = "_op") -> DataFrame:
    """MERGE INTO semantics for snapshot tables: apply a keyed delta
    (op ∈ {'upsert', 'delete'}) to a target snapshot and return the
    next snapshot — insert unmatched upserts, replace matched ones,
    drop matched deletes, pass every untouched target row through.

    ONE co-partitioned full-outer join on the id — the relational core
    of Delta/Iceberg MERGE, expressed so the only corpus-scale
    exchange is the id shuffle both sides need anyway (at scale,
    bucketed snapshots make it exchange-free). A delete for a missing
    id is a no-op, matching SQL MERGE. Rows carry an `_action` column
    ('insert'/'update'/'delete'/'keep') so callers can audit the
    write before committing it.

    PRECONDITION: the delta must be key-unique (one row per id) —
    SQL MERGE raises "multiple source rows matched" here; a duplicate
    id would fan out through the full-outer join and break the
    snapshot's key invariant. Reduce multi-event batches first (the
    streaming sink's `_dedup_batch` is one deterministic policy).
    Rows whose op is not 'upsert'/'delete' (including NULL) are
    dropped — a NULL op must not smuggle a NULL-payload insert in."""
    t = target.select(F.col(id_col),
                      *[F.col(c).alias(f"_t_{c}") for c in payload_cols])
    d = (delta.where(F.col(op_col).isin("upsert", "delete"))
         .select(F.col(id_col).alias("_did"),
                 F.col(op_col).alias("_op"),
                 *[F.col(c).alias(f"_d_{c}") for c in payload_cols]))
    j = t.join(d, F.col(id_col) == F.col("_did"), "full_outer")
    in_t = F.col(id_col).isNotNull()
    in_d = F.col("_did").isNotNull()
    action = (F.when(in_d & (F.col("_op") == "delete") & in_t, "delete")
              .when(in_d & (F.col("_op") == "delete"), "noop")
              .when(in_d & in_t, "update")
              .when(in_d, "insert")
              .otherwise("keep"))
    take_delta = in_d & (F.col("_op") != "delete")
    cols = [F.when(take_delta, F.col(f"_d_{c}"))
            .otherwise(F.col(f"_t_{c}")).alias(c) for c in payload_cols]
    return (j.select(F.coalesce(F.col(id_col), F.col("_did"))
                     .alias(id_col),
                     *cols, action.alias("_action"))
            .where(F.col("_action").isin("keep", "update", "insert")))


def pareto_curve(docs: DataFrame,
                 value_col: str = "n_chars") -> DataFrame:
    """Corpus concentration (Pareto) curve: for each decile of
    documents ranked by `value_col` descending, the fraction of the
    total value mass those documents hold — "the top 10% of docs carry
    X% of the characters", the budget-allocation view of a corpus.

    No global sort: ONE value-histogram aggregate (bounded by the
    distinct value grid — document lengths, not documents), a driver
    cumsum over that bounded table, and exact integer rank cuts
    k = ⌈i·N/10⌉ = (i·N+9) div 10. Tie groups share one length, so a
    partial group's mass is count×length — rank order within ties
    never matters and the result is partition- and order-independent
    (which is also why the function needs no id column: no per-row
    tie-break can change any decile's mass). The SQL oracle runs the
    row_number window form over the full corpus as the equivalence
    check. An empty corpus (or all-zero mass) yields 0 rows, matching
    the oracle.

    Returns (frac_tenths, n_docs, value_frac) for deciles 1..9."""
    import math
    spark = docs.sparkSession
    schema = "frac_tenths long, n_docs long, value_frac double"
    hist = (docs.groupBy(F.col(value_col).alias("_val"))
            .agg(F.count("*").alias("_cnt"))
            .collect())
    rows = sorted(((r["_val"], r["_cnt"]) for r in hist), reverse=True)
    n_total = sum(c for _, c in rows)
    mass_total = sum(v * c for v, c in rows)
    if n_total == 0 or mass_total == 0:
        return spark.createDataFrame([], schema)
    out = []
    for i in range(1, 10):
        k = (i * n_total + 9) // 10
        taken, mass = 0, 0
        for v, c in rows:
            if taken + c <= k:
                taken += c
                mass += v * c
                if taken == k:
                    break
            else:
                mass += v * (k - taken)
                taken = k
                break
        # half-UP to 6 decimals: Python's round() is half-even, which
        # diverges from DuckDB/Spark round() on exact midpoints
        frac = math.floor(mass / mass_total * 1e6 + 0.5) / 1e6
        out.append((i, k, frac))
    return spark.createDataFrame(out, schema)


def data_card(docs: DataFrame, domain_col: str = "source",
              lang_col: str = "lang", text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-domain dataset card: the summary block a corpus release
    ships with — volume, mean quality, and language diversity.

    One (domain, lang) hash aggregate (map-side combinable counts and
    fixed-point quality sums), then a domain rollup whose language
    entropy sums -p ln p over the tiny per-domain language histogram
    (each term fixed-pointed to 1e-6, so the sum is order-independent
    and engine-exact). No corpus-wide window, no second scan.

    Returns (domain, n_docs, n_tokens, mean_quality, n_langs,
    lang_entropy).
    """
    q_fp = F.round(TX.quality_expr(text_col) * 1e6).cast("long")
    per_lang = (docs
                .select(F.col(domain_col), F.col(lang_col),
                        F.size(TX.tokens(text_col)).cast("long")
                        .alias("_nt"),
                        q_fp.alias("_q"))
                .groupBy(domain_col, lang_col)
                .agg(F.count("*").alias("_c"),
                     F.sum("_nt").alias("_t"),
                     F.sum("_q").alias("_qs"),
                     F.count("_q").alias("_cq")))
    w = Window.partitionBy(domain_col)
    ent_term = F.round(
        -(F.col("_c") / F.col("_n")) * F.log(F.col("_c") / F.col("_n"))
        * 1e6).cast("long")
    tot = per_lang.withColumn("_n", F.sum("_c").over(w)) \
        .withColumn("_e", ent_term)
    return (tot.groupBy(domain_col)
            .agg(F.sum("_c").alias("n_docs"),
                 F.sum("_t").alias("n_tokens"),
                 F.round(F.sum("_qs") / F.sum("_cq") / 1e6, 6)
                 .alias("mean_quality"),
                 F.countDistinct(lang_col).alias("n_langs"),
                 F.round(F.sum("_e").cast("double") / 1e6, 6)
                 .alias("lang_entropy")))


def maintain_aggregate(base_agg: DataFrame, delta: DataFrame,
                       group_col: str = "source",
                       n_col: str = "n_docs",
                       sum_col: str = "sum_chars",
                       delta_n_col: str = "n_chars",
                       op_col: str = "_op") -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a delta
    (rows tagged insert/delete in `op_col`) into an existing per-group
    (count, sum) aggregate WITHOUT rescanning the base corpus — the
    append-heavy 100 TB shape where the nightly full recompute is the
    thing you are trying to retire.

    Count and sum are self-maintainable under both inserts and deletes
    (signed multiplicities: insert=+1, delete=-1), which is why this
    maintains exactly those; min/max/distinct are NOT delete-
    maintainable and need a sketch or a recompute — documented contract,
    not a silent wrong answer.

    Cost shape: ONE aggregate over the delta (bounded by delta size,
    never base size) + one co-keyed outer join against the bounded
    per-group aggregate table. Groups that vanish (count falls to 0)
    are dropped, matching what the full recompute produces.

    Returns the maintained aggregate with the same (group, n, sum)
    schema as `base_agg`."""
    sign = F.when(F.col(op_col) == "delete", F.lit(-1)) \
        .otherwise(F.lit(1)).cast("long")
    d = (delta.groupBy(group_col)
         .agg(F.sum(sign).alias("_dn"),
              F.sum(sign * F.col(delta_n_col).cast("long")).alias("_ds")))
    merged = (base_agg.join(d, [group_col], "full_outer")
              .select(F.col(group_col),
                      (F.coalesce(F.col(n_col), F.lit(0))
                       + F.coalesce(F.col("_dn"), F.lit(0)))
                      .alias(n_col),
                      (F.coalesce(F.col(sum_col), F.lit(0))
                       + F.coalesce(F.col("_ds"), F.lit(0)))
                      .alias(sum_col)))
    return merged.where(F.col(n_col) > 0)
