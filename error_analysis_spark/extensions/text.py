"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are JVM built-ins (split/explode/aggregate);
nothing drops to Python. Designed for the `documents` table
(doc_id, text, lang, source, n_chars) but generic over any text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal stopword profiles for the n-gram/stopword language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "ist", "mit", "von"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "que", "por", "en"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def md5_prefix_long(col: Column, hex_chars: int = 15) -> Column:
    """First `hex_chars` hex chars of md5 → non-negative long — THE
    content-hash key shared by exact dedup, normalization hashes and
    the snapshot diff. One definition so the keys stay join-compatible
    across operators (DuckDB: `('0x'||substr(md5(x),1,N))::BIGINT`)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10) \
        .cast("long")


def doc_row_hash(id_col: str = "doc_id",
                 text_col: str = "text") -> Column:
    """Canonical per-row content hash md5_prefix(id ␟ md5(text)) —
    ONE definition shared by the corpus checksum, the MERGE audit and
    their tests, so every checksum lives in the same hash universe
    (DuckDB: `('0x'||substr(md5(id || chr(31) || md5(coalesce(text,
    ''))),1,15))::BIGINT`)."""
    return md5_prefix_long(
        F.concat_ws("\x1f", F.col(id_col).cast("string"),
                    F.md5(F.coalesce(F.col(text_col), F.lit("")))))


# GPT-2-style pre-tokenizer shape: word = letters, number = digits,
# contraction tail, else single non-space symbol. Subword token COUNT
# for budget estimation without a vocab (a real BPE only splits within
# these pieces, so this is the standard cheap lower bound).
BPE_ISH_PATTERN = r"'[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Regex pre-tokenization (BPE-ish): array of word/number/symbol
    pieces; `F.size(...)` of this is the token-count estimator used for
    training-data budgeting."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)



def _nz(c: Column) -> Column:
    """Zero→NULL division guard: empty/whitespace-only documents score
    NULL instead of raising DIVIDE_BY_ZERO under Spark's default ANSI
    mode — one poison-pill row must never kill a batch job or (worse)
    a running streaming query. NULL scores fail every quality/language
    gate, which is the intended curation outcome for empty docs."""
    return F.nullif(c.cast("double"), F.lit(0.0))

def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Token counting + quality scoring signals per document:
    token count, distinct tokens, type-token ratio, mean token length,
    alpha ratio (quality-score inputs)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / _nz(n_tok)).alias("ttr"),
        (total_len.cast("double") / _nz(n_tok)).alias("mean_token_len"),
        (n_alpha.cast("double") / _nz(F.length(text_col))).alias("alpha_ratio"),
    )


def quality_expr(text_col: str = "text") -> Column:
    """The quality score as a single per-row Column — composable into any
    projection without a join (the curation funnel annotates in place)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / _nz(n_tok)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    alpha_ratio = n_alpha.cast("double") / _nz(F.length(text_col))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(F.lit(0.4) * len_score + F.lit(0.3) * ttr
                   + F.lit(0.3) * alpha_ratio, 6)


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Composite heuristic quality score in [0,1]: favors mid-length docs,
    lexical diversity, and high alpha ratio — the standard cheap pre-filter
    before expensive dedup/training steps."""
    return df.select(
        id_col, F.size(tokens(text_col)).alias("n_tokens"),
        quality_expr(text_col).alias("quality"),
    )


def _argmax_lang(scored: DataFrame) -> DataFrame:
    langs = list(STOPWORDS.keys()) + ["zh"]
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = None
    for lg in langs:
        cond = F.col(f"score_{lg}") == best
        pred = F.when(cond, F.lit(lg)) if pred is None \
            else pred.when(cond, F.lit(lg))
    return scored.withColumn("pred_lang", pred)


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: per-language stopword hit-rate over tokens
    (occurrence count, duplicates included), CJK-character rate for zh;
    predicted = argmax score. Annotates in place: every input column
    survives, plus score_<lang> per language and pred_lang.

    The built-in profiles (`STOPWORDS`) are plan-time constants (~10
    words/language), so each language's hit count is one row-local
    size(filter(array_contains)) expression — no explode, no join, no
    shuffle."""
    base = df.select(
        "*",
        tokens(F.lower(F.col(text_col))).alias("_toks"),
        (F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))
         .cast("double") / _nz(F.length(text_col))).alias("score_zh"),
    )
    n_tok = F.size("_toks")
    for lg, ws in STOPWORDS.items():
        lit_arr = F.array(*[F.lit(w) for w in ws])
        hits = F.size(F.filter(
            F.col("_toks"), lambda t: F.array_contains(lit_arr, t)))
        base = base.withColumn(f"score_{lg}",
                               hits.cast("double") / _nz(n_tok))
    keep = [c for c in df.columns] + \
        ["score_zh"] + [f"score_{lg}" for lg in STOPWORDS]
    out = _argmax_lang(base.select(*keep))
    # token-less (whitespace-only) docs: every stopword score is NULL
    # but score_zh is 0.0, so the argmax would fall through to 'zh' —
    # the _nz contract says such docs fail every gate: predict NULL
    return out.withColumn(
        "pred_lang",
        F.when(F.size(tokens(F.lower(F.col(text_col)))) > 0,
               F.col("pred_lang")))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", n_shingles: int = 3) -> DataFrame:
    """Document fingerprint: min over word-shingle hashes (a 1-permutation
    minhash — stable under whitespace normalization). Hash = first 15 hex
    chars of md5, arithmetic identical across engines."""
    toks = tokens(text_col)
    idx = F.sequence(F.lit(0), F.size(toks) - n_shingles)
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n_shingles)))
    hashes = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    # documents shorter than n_shingles have no shingle: NULL fingerprint
    # (F.sequence with start > stop would otherwise count DOWN and
    # slice(…, 0, …) errors out)
    fp = F.when(F.size(toks) >= n_shingles, F.array_min(hashes))
    return df.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.size(toks).alias("n_tokens"),
    )


def normalize_expr(text: Column | str) -> Column:
    """Canonical text normalization for dedup keys and training text:
    non-printable-ASCII → space, then lowercase → collapse whitespace runs
    → trim. Pure JVM regexp expressions (no UDF, no shuffle); the same
    transform is expressible verbatim in any RE2/PCRE engine, so
    normalized hashes compare bit-equal cross-engine.

    Normalizing BEFORE hashing is what turns exact dedup into
    "whitespace/case-insensitive exact dedup" — the standard first pass
    of a web-scale pipeline (C4 and friends normalize before any
    fingerprinting)."""
    c = F.col(text) if isinstance(text, str) else text
    # strip to printable ASCII BEFORE lower: full-Unicode lowercasing
    # diverges across engines (e.g. U+0130 maps to 1 code point under
    # simple mapping, 2 under the JVM's full mapping) — on ASCII every
    # engine agrees, which is what the bit-equal-hash claim rests on
    c = F.regexp_replace(c, "[^ -~]", " ")  # non-printable ASCII
    c = F.lower(c)
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def normalize_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document normalization report: normalized md5-prefix hash
    (the dedup key), raw/normalized lengths, and whether normalization
    changed the text. Row-local; at 100 TB this is a map-only stage
    whose output feeds exact_dedup on `norm_hash`."""
    norm = normalize_expr(text_col)
    return df.select(
        F.col(id_col),
        md5_prefix_long(norm).alias("norm_hash"),
        F.length(F.col(text_col)).alias("n_raw"),
        F.length(norm).alias("n_norm"),
        (norm != F.col(text_col)).cast("int").alias("changed"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     extra_cols: dict[str, "Column"] | None = None
                     ) -> DataFrame:
    """Repetition signals for training-data curation (the
    Gopher/MassiveText repetition-filter family):

    - `dup_line_frac` — fraction of non-blank lines that repeat an
      earlier line (1 − distinct/total);
    - `top_2gram_frac` — occurrences of the document's most frequent
      token bigram over all bigram occurrences;
    - `dup_5gram_frac` — fraction of 5-gram occurrences that are
      repeats (1 − distinct/total).

    Line stats are pure array expressions; BOTH n-gram signals ride one
    n-tagged explode → one two-level hash aggregate (map-side partials,
    keyed by (doc, n, gram) — no per-doc data ever collects, and the
    corpus is tokenized once, not once per n). Docs too short for an
    n-gram get NULL for that signal (the transform is guarded — an
    unguarded sequence(0, size-n) counts DOWN for short docs and the
    t[i+k] index either kills the job under ANSI mode or fabricates
    grams from null-dropping concat_ws).

    `extra_cols` (round 12): additional ROW-LOCAL columns (name →
    expression over `df`'s columns) carried through the projection
    side of the plan and returned alongside the repetition signals —
    the text_doc_pack fuses its row-local members (PII scrub, BPE
    token counts) here so they share this function's scan instead of
    each re-scanning the corpus and joining back on doc_id. The n-gram
    aggregate side prunes them (column pruning through the explode),
    so the repetition signals are computed exactly as before.
    """
    extra_cols = extra_cols or {}
    doc = F.col(id_col)
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda t: F.trim(t) != "")
    n_lines = F.size(lines)
    dup_line = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines)
    base = df.select(doc.alias("doc_id"), tokens(text_col).alias("t"),
                     dup_line.alias("dup_line_frac"),
                     *[c.alias(n) for n, c in extra_cols.items()])

    def grams(n: int):
        parts = ", ".join(f"t[i+{k}]" for k in range(n))
        return F.when(
            F.size("t") >= n,
            F.expr(f"transform(sequence(0, size(t) - {n}), "
                   f"i -> concat_ws(' ', {parts}))")
        ).otherwise(F.array().cast("array<string>"))

    def tagged(n: int):
        return F.transform(
            grams(n), lambda g: F.struct(F.lit(n).alias("n"),
                                         g.alias("g")))

    pos = (base.select(
        "doc_id", F.explode(F.concat(tagged(2), tagged(5))).alias("p"))
        .select("doc_id", F.col("p.n").alias("n"), F.col("p.g").alias("g")))
    counts = pos.groupBy("doc_id", "n", "g").count()
    per = counts.groupBy("doc_id", "n").agg(
        (F.max("count").cast("double") / F.sum("count")).alias("top_frac"),
        ((F.sum("count") - F.count("*")).cast("double")
         / F.sum("count")).alias("dup_frac"))
    # one conditional rollup + ONE join instead of two filtered joins
    # (round 11): `per` holds at most one row per (doc, n), so the
    # max(when(n=..)) pick is exactly the old filter+join value —
    # NULL when the doc was too short for that n, as before.
    sig = per.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("top_frac")))
        .alias("top_2gram_frac"),
        F.max(F.when(F.col("n") == 5, F.col("dup_frac")))
        .alias("dup_5gram_frac"))
    return (base.select("doc_id", "dup_line_frac", *extra_cols)
            .join(sig, "doc_id", "left"))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 retrieval over the corpus for a fixed query-term set:

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
        idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)

    All corpus statistics (N, avgdl, df) come from single aggregates;
    the term filter broadcasts the tiny query list so only matching
    postings survive the explode. Top-k is a TakeOrderedAndProject
    (score desc, id asc) — no global sort materializes. Scale shape:
    one explode + two hash aggregates + broadcast joins; the corpus
    never collects.
    """
    doc = F.col(id_col)
    base = df.select(doc.alias("doc_id"), tokens(text_col).alias("t"))
    lens = base.select("doc_id", F.size("t").alias("dl"))
    corpus = lens.agg(F.count("*").alias("n_docs"),
                      F.avg("dl").alias("avgdl"))
    postings = (base.select("doc_id", F.explode("t").alias("term"))
                .where(F.col("term").isin(*query_terms))
                .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfreq = (postings.groupBy("term")
             .agg(F.count("*").alias("df")))  # postings are
             # already one row per (doc, term): plain count,
             # no distinct-aggregate expand
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    part = idf * (F.col("tf") * (k1 + 1.0)) / denom
    scored = (postings
              .join(F.broadcast(dfreq), "term")
              .join(lens, "doc_id")
              .crossJoin(F.broadcast(corpus))
              .groupBy("doc_id").agg(F.sum(part).alias("score")))
    return (scored.orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k))


# PII patterns chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB oracle): no backreferences, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d()\- ]{7,}\d",
}
PII_TOKENS = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}


def pii_cols(text: Column) -> list[Column]:
    """The PII columns as pure expressions over a text column (round
    12, factored out of `pii_scrub` so the text_doc_pack can fuse them
    into a shared projection without duplicating the rule set):
    [n_email, n_ipv4, n_phone, scrubbed]. Counts are taken on the
    input text; replacements apply in a fixed order (email → ip →
    phone) so the scrubbed output is deterministic."""
    counts = [F.size(F.regexp_extract_all(text, F.lit(p), F.lit(0)))
              .alias(f"n_{name}") for name, p in PII_PATTERNS.items()]
    scrubbed = text
    for name, p in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, p, PII_TOKENS[name])
    return [*counts, scrubbed.alias("scrubbed")]


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII redaction stage for training-data curation: count and
    replace emails / IPv4 addresses / phone-like numbers with typed
    placeholder tokens. Pure JVM regexp expressions — one projection,
    no shuffle, no Python (the expressions live in `pii_cols`)."""
    return df.select(F.col(id_col), *pii_cols(F.col(text_col)))



def count_by_value(arr: str) -> Column:
    """Row-local (v, c) count-by-value structs over an array column —
    the pre-aggregation that keeps duplicate elements from ever
    reaching a shuffle (shared by `dup_ngram_stats` for gram hashes
    and `unigram_logprob` for tokens). O(|distinct| × |arr|) per row,
    all inside one expression."""
    return F.expr(
        f"transform(array_distinct({arr}),"
        f" x -> struct(x AS v, size(filter({arr}, y -> y = x)) AS c))")


def dup_ngram_stats(df: DataFrame, n: int = 8, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Cross-corpus duplicated n-gram coverage (the RefinedWeb/Dolma
    "fraction of tokens inside a duplicated n-gram span" signal, the
    scalable stand-in for exact suffix-array substring dedup): for every
    document, the fraction of its word n-grams that also occur in at
    least one OTHER document (or twice in this one).

    Scale shape: grams never leave the row as strings — each document
    row-locally hashes its grams to 64-bit keys (xxhash64) and
    pre-counts them with array expressions, so the ONLY wide data is
    one (doc, gram_hash, count) stream of longs: ~50× less shuffle
    volume than exploding 8-gram strings, with map-side combine on the
    document-frequency aggregate and the join landing on the same
    hashed key. Nothing is quadratic — hot grams only widen one hash
    bucket, which AQE skew-split handles. 64-bit keys conflate grams
    only on hash collision (~N²/2⁶⁵ expected pairs — a sub-ppm
    perturbation of a statistical signal even at 10¹² grams).
    """
    toks = tokens(text_col)
    base = (df.select(F.col(id_col), toks.alias("toks"))
            .where(F.size("toks") >= n))
    ghash = F.expr(
        f"transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> xxhash64(array_join(slice(toks, i, {n}), ' ')))")
    g = base.select(F.col(id_col), ghash.alias("gh"))
    # pinned (round 11): the (doc, gram_hash, count) stream feeds the
    # doc-frequency aggregate AND the scoring join — same rationale as
    # unigram_logprob's pinned pairs (without the pin each consumer
    # re-runs scan + tokenize + 8-gram hashing + count_by_value).
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track
    dg = track((g.select(id_col, F.explode(count_by_value("gh")).alias("p"))
                .select(F.col(id_col), F.col("p.v").alias("gram"),
                        F.col("p.c").alias("c")))
               .persist(StorageLevel.MEMORY_AND_DISK))
    gdf = dg.groupBy("gram").agg(F.count("*").alias("doc_freq"))
    per_doc = (dg.join(gdf, "gram")
               .groupBy(id_col)
               .agg(F.sum("c").alias("n_grams"),
                    F.sum(F.when((F.col("doc_freq") >= 2) | (F.col("c") >= 2),
                                 F.col("c")).otherwise(F.lit(0)))
                    .alias("n_dup")))
    return per_doc.select(
        F.col(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_dup").cast("long").alias("n_dup"),
        F.round(F.col("n_dup").cast("double") / F.col("n_grams"), 6)
        .alias("dup_frac"))


def chunk_windows(df: DataFrame, window: int = 32, stride: int = 24,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Sliding-window chunking for RAG / context packing: overlapping
    token windows of `window` tokens advancing by `stride` (the last
    chunk may be shorter). Emits (doc, chunk_idx, chunk token count,
    md5 of the chunk text) — the hash is what a downstream vector
    index or chunk-level dedup keys on.

    Pure JVM expressions: sequence + posexplode + slice; linear in
    tokens with zero shuffles (narrow one-to-many), so it pipelines
    into whatever consumes the chunks.
    """
    toks = tokens(text_col)
    base = (df.select(F.col(id_col), toks.alias("toks"))
            .where(F.size("toks") > 0))
    starts = F.expr(f"sequence(0, size(toks) - 1, {stride})")
    chunks = base.select(
        F.col(id_col), F.col("toks"),
        F.posexplode(starts).alias("chunk_idx", "start"))
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.lit(window), F.size("toks") - F.col("start"))
        .cast("long").alias("chunk_tokens"),
        F.md5(F.array_join(F.expr(f"slice(toks, start + 1, {window})"), " "))
        .alias("chunk_hash"))


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Unigram cross-entropy scoring against the corpus's own token
    distribution — the cheap stand-in for the perplexity filter of
    CCNet-style curation (docs whose token mix is improbable under the
    corpus model are boilerplate/noise candidates). Add-one smoothing:
    p(t) = (c_t + 1) / (N + V) with c_t the corpus count, N total
    occurrences, V vocabulary size.

    Output per doc: n_tokens, cross_entropy = -mean ln p(t_i) (dup
    tokens counted), perplexity = exp(cross_entropy).

    Scale shape: tokens are pre-counted ROW-LOCALLY (array count-by-
    value, the dup_ngram_stats pattern), so the wide data is one
    (doc, token, count) stream of per-doc DISTINCT tokens — duplicate
    occurrences never ship. Vocabulary totals are one token-keyed hash
    agg over that stream (map-side combine); scoring joins back on the
    same token key (broadcast when the vocab fits — AQE decides); the
    doc rollup weights each log-prob by its local count, which is
    integer-exact, so the result is bit-identical to the
    per-occurrence form the DuckDB oracle computes. Cross-engine
    determinism: per-token ln p is fixed-pointed to 1e-6 before any
    order-sensitive sum.
    """
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    toks = tokens(text_col)
    base = (df.select(F.col(id_col), toks.alias("toks"))
            .where(F.size("toks") > 0))
    # The compact (doc, token, count) stream is pinned (round 11,
    # cachereg-tracked lazy persist): it feeds the vocab aggregate AND
    # the scoring join, and without the pin each consumer re-runs the
    # scan + tokenize + count_by_value pipeline (the dominant per-row
    # kernel — count_by_value is O(|distinct|·|toks|) per doc). The
    # pinned frame is per-doc-distinct longs/strings — far smaller
    # than the corpus text; MEMORY_AND_DISK spills, never recomputes.
    pairs = track((base.select(F.col(id_col),
                               F.explode(count_by_value("toks")).alias("p"))
                   .select(F.col(id_col), F.col("p.v").alias("token"),
                           F.col("p.c").cast("long").alias("c")))
                  .persist(StorageLevel.MEMORY_AND_DISK))
    vocab = pairs.groupBy("token").agg(F.sum("c").alias("ct"))
    totals_row = vocab.agg(F.sum("ct").alias("n_total"),
                           F.count("*").alias("v_size"))
    lp_fp = F.round(F.log(
        (F.col("ct") + 1).cast("double")
        / (F.col("n_total") + F.col("v_size")).cast("double")) * 1e6
    ).cast("long")
    scored = (pairs.join(vocab, "token")
              .crossJoin(F.broadcast(totals_row))
              .select(F.col(id_col), (F.col("c") * lp_fp).alias("_lp"),
                      F.col("c")))
    ce = -F.col("_s").cast("double") / F.col("n_tokens") / 1e6
    return (scored.groupBy(id_col)
            .agg(F.sum("c").alias("n_tokens"), F.sum("_lp").alias("_s"))
            .select(F.col(id_col), F.col("n_tokens"),
                    F.round(ce, 6).alias("cross_entropy"),
                    F.round(F.exp(ce), 6).alias("perplexity")))


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Bigram cross-entropy against the corpus's own bigram model —
    one order up from `unigram_logprob`, catching shuffled-token and
    template text a unigram model scores as fluent. Add-one smoothing
    conditioned on the prefix: p(w2 | w1) = (c12 + 1) / (c1 + V) with
    c12 the corpus bigram count, c1 the prefix-marginal
    (sum of c12 over continuations of w1) and V the unigram vocab.

    Scale shape mirrors the unigram operator: bigram strings are built
    and pre-counted ROW-LOCALLY (zip_with over the shifted token array
    + count-by-value), so the wide stream is (doc, bigram, count) over
    per-doc DISTINCT bigrams; corpus stats are two hash aggregates
    over that stream (bigram counts, then their prefix-marginal —
    both map-side combinable); scoring joins back on the bigram key.
    Per-bigram ln p is fixed-pointed to 1e-6 before the weighted sum,
    so the result is order-independent and engine-exact.

    Docs with < 2 tokens carry no bigram and are absent from the
    output (the caller left-joins if it needs them flagged).
    """
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    toks = tokens(text_col)
    base = (df.select(F.col(id_col), toks.alias("toks"))
            .where(F.size("toks") >= 2))
    # w1..wn-1 zipped with w2..wn; tokens never contain spaces, so the
    # joined string is a faithful pair key
    grams = base.select(
        F.col(id_col),
        F.expr("zip_with(slice(toks, 1, size(toks) - 1),"
               " slice(toks, 2, size(toks) - 1),"
               " (a, b) -> concat(a, ' ', b))").alias("grams"))
    # pinned for the same reason as unigram_logprob's pairs (round
    # 11): the stream feeds the bigram-count aggregate AND the scoring
    # join, and each unpinned consumer re-runs scan + tokenize +
    # zip_with + count_by_value (3 full corpus passes in the plan).
    pairs = track((grams.select(F.col(id_col),
                                F.explode(count_by_value("grams")).alias("p"))
                   .select(F.col(id_col), F.col("p.v").alias("bigram"),
                           F.col("p.c").cast("long").alias("c")))
                  .persist(StorageLevel.MEMORY_AND_DISK))
    bi = pairs.groupBy("bigram").agg(F.sum("c").alias("c12"))
    prefix = (bi.withColumn("w1", F.substring_index("bigram", " ", 1))
              .groupBy("w1").agg(F.sum("c12").alias("c1")))
    vocab_row = (df.select(F.explode(toks).alias("t"))
                 .agg(F.countDistinct("t").alias("v_size")))
    lp_fp = F.round(F.log(
        (F.col("c12") + 1).cast("double")
        / (F.col("c1") + F.col("v_size")).cast("double")) * 1e6
    ).cast("long")
    scored = (pairs.join(bi, "bigram")
              .withColumn("w1", F.substring_index("bigram", " ", 1))
              .join(prefix, "w1")
              .crossJoin(F.broadcast(vocab_row))
              .select(F.col(id_col), (F.col("c") * lp_fp).alias("_lp"),
                      F.col("c")))
    ce = -F.col("_s").cast("double") / F.col("n_bigrams") / 1e6
    return (scored.groupBy(id_col)
            .agg(F.sum("c").alias("n_bigrams"), F.sum("_lp").alias("_s"))
            .select(F.col(id_col), F.col("n_bigrams"),
                    F.round(ce, 6).alias("cross_entropy"),
                    F.round(F.exp(ce), 6).alias("perplexity")))


def tfidf_topk_per_doc(df: DataFrame, k: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Top-k TF-IDF keywords per document — the tagging/indexing pass
    of a retrieval or labeling pipeline.

    score(t, d) = tf(t, d) x idf(t), idf = ln((N + 1) / (df + 1)) + 1
    (the smoothed form; never negative, unseen-safe). All ranking
    arithmetic is integer: idf is fixed-pointed to 1e-6 once per
    token, the score is tf x idf_fp (exact product), and the
    (score desc, token asc) tie-break is total — no float boundary
    can reorder two keywords differently across engines.

    Scale shape: tf is pre-counted ROW-LOCALLY (count_by_value), df
    is one token-keyed agg over per-doc distinct tokens, the scoring
    join ships one row per distinct (doc, token), and the rank window
    partitions BY DOCUMENT — bounded by a doc's vocabulary, never a
    corpus-wide funnel.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    toks = tokens(text_col)
    base = (df.select(F.col(id_col), toks.alias("toks"))
            .where(F.size("toks") > 0))
    # pinned (round 11): feeds the df aggregate AND the scoring join —
    # same rationale as unigram_logprob's pinned pairs stream.
    pairs = track((base.select(F.col(id_col),
                               F.explode(count_by_value("toks")).alias("p"))
                   .select(F.col(id_col), F.col("p.v").alias("token"),
                           F.col("p.c").cast("long").alias("tf")))
                  .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = pairs.groupBy("token").agg(F.count("*").alias("df"))
    n_row = base.agg(F.count("*").alias("n_docs"))
    idf_fp = F.round((F.log((F.col("n_docs") + 1).cast("double")
                            / (F.col("df") + 1).cast("double"))
                      + 1.0) * 1e6).cast("long")
    scored = (pairs.join(dfreq, "token")
              .crossJoin(F.broadcast(n_row))
              .withColumn("_s_fp", F.col("tf") * idf_fp))
    w = Window.partitionBy(id_col).orderBy(F.col("_s_fp").desc(),
                                           F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col(id_col), "rank", "token", "tf",
                    F.round(F.col("_s_fp") / 1e6, 6).alias("score")))


def pmi_pairs(docs: DataFrame, vocab_k: int = 40, top_k: int = 20,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token co-occurrence PMI over the top-`vocab_k` vocabulary —
    the collocation/phrase-mining statistic (ln of observed-vs-
    independent document co-occurrence).

    Scale shape: the vocabulary is a TakeOrderedAndProject top-k
    (broadcast); the doc×token incidence is a broadcast semi join +
    distinct bounded by docs × vocab_k; pairs are generated ROW-LOCALLY
    from each doc's sorted vocab-token set (≤ C(vocab_k,2) per doc —
    never a corpus self-join); pair counts and token document
    frequencies are map-side-combinable aggregates. All counts are
    exact integers; PMI is one ln of a ratio of exact products
    (decimal cross-multiplied, so no int64 overflow at corpus scale),
    rounded to 4.

    Returns the `top_k` most frequent pairs:
    (t1, t2, n_pair, df1, df2, pmi)."""
    vocab = (docs.select(F.explode(tokens(text_col)).alias("token"))
             .groupBy("token").agg(F.count("*").alias("_tf"))
             .orderBy(F.desc("_tf"), F.asc("token"))
             .limit(vocab_k)
             .select("token"))
    incidence = (docs.select(F.col(id_col).alias("_id"),
                             F.explode(tokens(text_col)).alias("token"))
                 .join(F.broadcast(vocab), "token")
                 .distinct())
    n_row = docs.agg(F.count("*").alias("_n"))
    sets = (incidence.groupBy("_id")
            .agg(F.array_sort(F.collect_set("token")).alias("_a")))
    # ONE unified explode emits each doc's singleton marks (t2 NULL,
    # for document frequency) AND its ordered pairs, so the corpus
    # incidence subtree is computed exactly once — a second consumer
    # of `incidence`/`sets` would recompute the whole tokenize +
    # broadcast-join + distinct pipeline (AQE does not reuse shared
    # exchanges here). The resulting count table is bounded by
    # vocab_k + C(vocab_k, 2) rows, so caching it is ~1k rows.
    items = sets.select(F.explode(F.expr(
        "concat("
        " transform(_a, x -> struct(x AS t1, CAST(NULL AS STRING) AS t2)),"
        " flatten(transform(_a, (x, i) -> "
        "  transform(slice(_a, i + 2, size(_a)), "
        "   y -> struct(x AS t1, y AS t2)))))")).alias("_p"))
    # localCheckpoint (eager), not persist: the bounded count table
    # materializes once and its blocks release with the reference —
    # a persist here would pin a cache entry per call in long sessions
    counts = (items.select(F.col("_p.t1").alias("t1"),
                           F.col("_p.t2").alias("t2"))
              .groupBy("t1", "t2").agg(F.count("*").alias("n_pair"))
              .localCheckpoint())
    dfreq = counts.where(F.col("t2").isNull()) \
        .select(F.col("t1").alias("token"), F.col("n_pair").alias("_df"))
    pairs = counts.where(F.col("t2").isNotNull())
    j = (pairs
         .join(F.broadcast(dfreq.select(F.col("token").alias("t1"),
                                        F.col("_df").alias("df1"))), "t1")
         .join(F.broadcast(dfreq.select(F.col("token").alias("t2"),
                                        F.col("_df").alias("df2"))), "t2")
         .crossJoin(F.broadcast(n_row)))
    num = (F.col("n_pair").cast("decimal(38,0)") * F.col("_n"))
    den = (F.col("df1").cast("decimal(38,0)") * F.col("df2"))
    pmi = F.round(F.log(num.cast("double") / den.cast("double")), 4)
    return (j.select("t1", "t2", "n_pair", "df1", "df2",
                     pmi.alias("pmi"))
            .orderBy(F.desc("n_pair"), F.asc("t1"), F.asc("t2"))
            .limit(top_k))


def bpe_merge_pairs(docs: DataFrame, text_col: str = "text",
                    top_k: int = 50) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-weighted counts
    of ADJACENT SYMBOL PAIRS inside words — the table whose argmax is
    the next merge rule (Sennrich et al. 2016, arXiv:1508.07909 §3).

    Scale shape: the corpus collapses to the DISTINCT-WORD table first
    (one hash aggregate; vocabulary-bounded regardless of corpus size),
    then char pairs explode per distinct word (narrow, bounded by
    vocab × word length) and reduce on a (left, right) key bounded by
    the symbol alphabet squared. A full BPE trainer iterates this with
    the winning pair merged into the word encodings; each iteration is
    this same bounded aggregate, so the shape holds for the whole
    training loop.

    Returns the `top_k` merge candidates (left_sym, right_sym,
    pair_count), ranked by count with a deterministic tie order."""
    words = (docs.select(F.explode(tokens(text_col)).alias("w"))
             .groupBy("w").agg(F.count("*").alias("n")))
    pairs = words.select("n", F.explode(F.expr(
        "CASE WHEN length(w) < 2 THEN array() "
        "ELSE transform(sequence(1, length(w) - 1), "
        "  i -> struct(substring(w, i, 1) AS a, "
        "              substring(w, i + 1, 1) AS b)) END")).alias("p"))
    return (pairs.groupBy(F.col("p.a").alias("left_sym"),
                          F.col("p.b").alias("right_sym"))
            .agg(F.sum("n").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("left_sym"),
                     F.asc("right_sym"))
            .limit(top_k))


def _bpe_train_local(word_counts: list[tuple[str, int]],
                     n_merges: int) -> list[tuple]:
    """Driver-side Sennrich merge loop over the collected distinct-word
    table — the classic in-memory trainer (dict of word → symbol
    tuples, greedy scan-and-skip merge application). Produces the
    identical rule list as the distributed sentinel-replace loop: pair
    counts are corpus-weighted sums over adjacent symbol positions, the
    argmax tie order is (count desc, left asc, right asc) — Python's
    code-point string order equals Spark's UTF-8 binary order — and the
    scan-and-skip application IS the non-overlapping left-to-right
    `replace` (test-pinned equivalence, tests/test_round8_ops.py)."""
    words: dict[tuple, int] = {}
    for w, n in word_counts:
        k = tuple(w)
        words[k] = words.get(k, 0) + int(n)
    rules: list[tuple] = []
    for step in range(1, n_merges + 1):
        pairs: dict[tuple, int] = {}
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        rules.append((step, left, right, cnt))
        merged: dict[tuple, int] = {}
        for syms, n in words.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            merged[key] = merged.get(key, 0) + n
        words = merged
    return rules


def bpe_train(docs: DataFrame, n_merges: int = 8,
              text_col: str = "text",
              local_threshold: int = 200_000) -> DataFrame:
    """The FULL iterative BPE trainer (Sennrich et al. 2016,
    arXiv:1508.07909 §3 — the merge LOOP, not just the first rule;
    VERDICT r07 #6): start from character symbols, repeatedly (1) count
    corpus-weighted adjacent symbol pairs, (2) take the argmax as the
    next merge rule (deterministic tie order: count desc, left asc,
    right asc), (3) apply the merge greedily left-to-right to every
    word encoding, for `n_merges` rounds (early-stop when no pair is
    left).

    Scale shape: the corpus collapses ONCE to the distinct-word table
    (vocabulary-bounded regardless of corpus size). Adaptive strategy
    (round 11, the connected_components precedent): at or below
    `local_threshold` distinct words the whole merge loop runs
    DRIVER-SIDE over the Arrow-collected word table (`_bpe_train_local`
    — the classic in-memory trainer; the collect is threshold-bounded
    and each round is a linear pass over the vocabulary, ~ms at typical
    sizes) instead of 2 cluster job waves per round (one bounded
    aggregate + one 1-row argmax collect each — the n_merges × 2
    sequential waves dominated the query's wall time at every corpus
    size, since their input is the SAME bounded table the local path
    collects). Above the threshold — web-scale vocabularies — the
    distributed loop below runs unchanged: each round is one bounded
    aggregate over the pinned word table plus a 1-row collect, and the
    merge applies as a row-local string `replace`; the driver never
    touches corpus-sized data on either path. Word encodings ride as
    sentinel-wrapped symbol strings (␁sym␂ per symbol, chr(1)/chr(2));
    a merge is replace('␁a␂␁b␂' → '␁ab␂'), which is exactly the greedy
    non-overlapping left-to-right scan of the reference algorithm
    (matches can never share characters, so 'aaa' merges to ('aa','a')
    like the scan-and-skip loop) — so both paths produce the identical
    rule list (test-pinned). Words containing the sentinels are
    dropped up front (and in the oracle) — they cannot be encoded.

    Output: (step, left_sym, right_sym, pair_count) — one row per
    learned merge rule, step 1-based."""
    s_mark, e_mark = "\x01", "\x02"
    spark = docs.sparkSession
    base_words = (docs.select(F.explode(tokens(text_col)).alias("w"))
                  .where(~F.col("w").contains(s_mark)
                         & ~F.col("w").contains(e_mark))
                  .groupBy("w").agg(F.count("*").alias("n")))
    schema = ("step int, left_sym string, right_sym string, "
              "pair_count bigint")
    # one pass decides the path AND (local) delivers the table: cap the
    # collect at threshold+1 rows so an over-threshold vocabulary never
    # ships to the driver — the limit is the byte bound, the overflow
    # row just flips the path
    head = base_words.limit(local_threshold + 1).collect()
    if len(head) <= local_threshold:
        rules = _bpe_train_local([(r["w"], r["n"]) for r in head],
                                 n_merges)
        return spark.createDataFrame(rules, schema=schema)
    words = base_words.select(
        F.regexp_replace("w", "(.)", s_mark + "$1" + e_mark).alias("s"),
        "n")
    # pin the distinct-word table: every merge round's pair count and
    # replace chain re-derives from this vocabulary-bounded frame, so
    # without the pin each of the n_merges rounds re-tokenizes the
    # whole corpus (round 8; the text_line_dedup pin precedent)
    from error_analysis_spark.cachereg import track
    words = track(words.persist())
    rules: list[tuple] = []
    for step in range(1, n_merges + 1):
        syms = F.split(F.expr("substring(s, 2, length(s) - 2)"),
                       e_mark + s_mark)
        pairs = (words.select("n", syms.alias("syms"))
                 .select("n", F.explode(F.expr(
                     "CASE WHEN size(syms) < 2 THEN array() "
                     "ELSE transform(sequence(0, size(syms) - 2), "
                     "  i -> struct(syms[i] AS l, syms[i + 1] AS r)) "
                     "END")).alias("p")))
        top = (pairs.groupBy(F.col("p.l").alias("l"),
                             F.col("p.r").alias("r"))
               .agg(F.sum("n").alias("cnt"))
               .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
               .limit(1).collect())          # bounded: exactly 1 row
        if not top:
            break                            # nothing left to merge
        left, right, cnt = top[0].l, top[0].r, int(top[0].cnt)
        rules.append((step, left, right, cnt))
        pat = s_mark + left + e_mark + s_mark + right + e_mark
        rep = s_mark + left + right + e_mark
        words = words.select(
            F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"), "n")
    return spark.createDataFrame(
        rules, schema="step int, left_sym string, right_sym string, "
                      "pair_count bigint")


def bpe_encode_stats(docs: DataFrame, rules: list[tuple[str, str]],
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Apply learned BPE merge rules to every document and report the
    per-doc token budget — the encode half of the tokenizer (the train
    half is `bpe_train`; together they close the Sennrich 2016 loop:
    learn merges once, encode the corpus with them).

    Per doc: whitespace words (sentinel-containing words are
    unencodable and skipped, the trainer's contract), each word
    sentinel-encoded and run through the merge `replace` chain in rule
    order — the same greedy left-to-right non-overlapping scan the
    trainer applies, as plain string replaces. Reports n_words,
    n_chars, n_tokens (post-merge symbol count = '\\x02' occurrences)
    and chars-per-token compression.

    Scale shape: entirely ROW-LOCAL — the rule list is O(n_merges)
    literals in the expression, no vocabulary join, no exchange of any
    kind; docs with zero encodable words drop (mirrored by the
    oracle's unnest)."""
    s_mark, e_mark = "\x01", "\x02"
    words = F.filter(tokens(text_col),
                     lambda w: ~w.contains(s_mark) & ~w.contains(e_mark))

    def encode(w: Column) -> Column:
        x = F.regexp_replace(w, "(.)", s_mark + "$1" + e_mark)
        for left, right in rules:
            x = F.replace(
                x,
                F.lit(s_mark + left + e_mark + s_mark + right + e_mark),
                F.lit(s_mark + left + right + e_mark))
        return x

    n_words = F.size("_ws").cast("long")
    n_chars = F.aggregate(F.transform("_ws", F.length),
                          F.lit(0).cast("long"),
                          lambda acc, x: acc + x.cast("long"))
    # tokens per word = sentinel-pair count = split(enc, '\x02') - 1
    n_tokens = F.aggregate(
        F.transform("_ws", lambda w: F.size(F.split(encode(w), e_mark))
                    - 1),
        F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
    return (docs.select(F.col(id_col).alias("doc_id"),
                        words.alias("_ws"))
            .where(F.size("_ws") > 0)
            .select("doc_id", n_words.alias("n_words"),
                    n_chars.alias("n_chars"), n_tokens.alias("n_tokens"))
            .withColumn("chars_per_token",
                        F.round(F.col("n_chars").cast("double")
                                / F.col("n_tokens"), 4) + F.lit(0.0)))


def domain_topk_tokens(docs: DataFrame, k: int = 5,
                       text_col: str = "text",
                       domain_col: str = "source") -> DataFrame:
    """Per-domain vocabulary heavy hitters: the k most frequent tokens
    of each domain — the per-source fingerprint a curation audit reads
    next to the per-domain data card.

    One (domain, token) hash aggregate with map-side partials, then a
    rank window PARTITIONED BY DOMAIN over the aggregated counts — the
    window input is bounded by Σ per-domain vocabularies, never corpus
    rows, so no domain funnels raw data through one reducer."""
    from pyspark.sql import Window
    tf = (docs.select(F.col(domain_col).alias("domain"),
                      F.explode(tokens(text_col)).alias("token"))
          .groupBy("domain", "token").agg(F.count("*").alias("tf")))
    w = Window.partitionBy("domain").orderBy(F.desc("tf"), F.asc("token"))
    return (tf.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("domain", "rk", "token", "tf"))


def corpus_line_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      kill_freq: int = 3) -> DataFrame:
    """Corpus-level line deduplication (the C4 rule, Raffel et al.
    2020 §2.2: remove any line occurring `kill_freq`+ times in the
    corpus — boilerplate headers/footers/nav text repeat verbatim
    across pages): trim lines, drop blanks, count exact-line
    occurrences CORPUS-WIDE, strike every line at or above the
    threshold, and rebuild each document's text preserving original
    line order.

    Scale shape: one row-local posexplode, ONE map-side-combinable
    aggregate keyed on md5(line) (16-byte binary — the corpus-wide
    frequency exchange and the join-back probe carry FIXED-WIDTH keys
    instead of full boilerplate strings, which are long exactly when
    they are frequent; 128-bit md5 is collision-safe at corpus scale
    where a 64-bit hash is not), one hash join back (no broadcast
    assumption — the frequent-line set of a web corpus is large), one
    groupBy rebuild via array_sort(collect_list(struct(pos, line))).
    The line STRING rides only the pinned exploded frame.
    The exploded `lines` frame is pinned (cachereg-tracked lazy
    persist) so the frequency count and the join probe share ONE
    scan + tokenization pass at any scale — AQE exchange reuse is
    not guaranteed across the two sides of the join. No windows, no
    driver collects.

    Id-domain contract: the OUTPUT carries every input document.
    Docs that lose every line to the kill rule — and docs that had
    no countable line at all (empty text, or every line space-trims
    to empty; such docs never reach the exploded frame) — surface
    with empty text and zero counts rather than vanishing: a curation
    stage must never silently shrink the corpus id domain on
    degenerate input. (`trim` strips spaces, not tabs, on both
    engines — a tab-only line counts as content, matching the
    oracle.)

    Output: (id, text, n_lines_kept, n_lines_removed).
    """
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    keep = F.col("c") < kill_freq
    lines = (df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"))
        .select("id", "pos", F.trim("raw").alias("line"))
        .where(F.col("line") != "")
        .withColumn("lh", F.unhex(F.md5("line"))))
    lines = track(lines.persist(StorageLevel.MEMORY_AND_DISK))
    freq = lines.groupBy("lh").agg(F.count("*").alias("c"))
    tagged = lines.join(freq, "lh")
    rebuilt = (tagged.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(keep, F.struct("pos", "line")))),
                lambda s: s["line"]),
            "\n").alias("text"),
        F.sum(keep.cast("long")).alias("n_lines_kept"),
        F.sum((~keep).cast("long")).alias("n_lines_removed"),
    ))
    ids = df.select(F.col(id_col).alias("id"))
    return (ids.join(rebuilt, "id", "left")
            .select(
                "id",
                F.coalesce("text", F.lit("")).alias("text"),
                F.coalesce("n_lines_kept", F.lit(0).cast("long"))
                 .alias("n_lines_kept"),
                F.coalesce("n_lines_removed", F.lit(0).cast("long"))
                 .alias("n_lines_removed")))


# --------------------------------------------------------------------------
# Gopher quality rules (round 10)
# --------------------------------------------------------------------------

# the 8-word English stop list of the Gopher rule "document contains at
# least two of ..." (Rae et al. 2021, arXiv:2112.11446 appendix A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_flags(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """The Gopher/MassiveText QUALITY rule set (Rae et al. 2021,
    arXiv:2112.11446 A1.1) — the document-level heuristics every large
    pretraining pipeline runs before dedup, complementing the
    repetition family in `repetition_stats`:

    - `n_words`             — whitespace tokens; rule 50 ≤ n ≤ 100,000
    - `mean_word_len`       — rule 3 ≤ mean ≤ 10
    - `symbol_word_ratio`   — (# count + ... count) / words; rule ≤ 0.1
    - `bullet_line_frac`    — non-blank lines starting with •/-/*;
                              rule ≤ 0.9
    - `ellipsis_line_frac`  — non-blank lines ending with ... or …;
                              rule ≤ 0.3
    - `alpha_word_frac`     — words containing ≥1 [A-Za-z]; rule ≥ 0.8
    - `n_stop_hits`         — distinct members of the 8-word stop list
                              present; rule ≥ 2
    - `passes_gopher`       — AND of all rules, NULL-safe (a doc with
                              no words/lines FAILS, never NULLs)

    Pure row-local expressions — no shuffle, no UDF; the plan is a
    projection over the corpus scan at any scale. Ratios are rounded
    to 6 decimals and the pass flag derives from the ROUNDED values,
    so an oracle engine computing the same arithmetic lands on the
    identical booleans."""
    toks = tokens(text_col)
    n_words = F.size(toks)
    mean_wl = F.when(n_words > 0, F.round(
        F.aggregate(F.transform(toks, lambda w: F.length(w)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).cast("double") / n_words, 6))
    txt = F.col(text_col)
    n_hash = F.length(txt) - F.length(F.expr(
        f"replace({text_col}, '#', '')"))
    n_ell = (F.length(txt) - F.length(F.expr(
        f"replace({text_col}, '...', '')"))) / 3
    sym_ratio = F.when(n_words > 0,
                       F.round((n_hash + n_ell) / n_words, 6))
    lines = F.filter(F.split(txt, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    bullet = F.when(n_lines > 0, F.round(
        F.size(F.filter(lines, lambda ln: F.substring(
            F.ltrim(ln), 1, 1).isin("•", "-", "*")))
        .cast("double") / n_lines, 6))
    ell_line = F.when(n_lines > 0, F.round(
        F.size(F.filter(lines, lambda ln:
                        F.rtrim(ln).endswith("...")
                        | F.rtrim(ln).endswith("…")))
        .cast("double") / n_lines, 6))
    alpha = F.when(n_words > 0, F.round(
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
        .cast("double") / n_words, 6))
    stops = F.size(F.array_intersect(
        F.array_distinct(F.transform(toks, F.lower)),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    out = df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet.alias("bullet_line_frac"),
        ell_line.alias("ellipsis_line_frac"),
        alpha.alias("alpha_word_frac"),
        stops.cast("long").alias("n_stop_hits"),
    )
    passes = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stop_hits") >= 2))
    return out.withColumn("passes_gopher", F.coalesce(passes,
                                                      F.lit(False)))


def c4_clean(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_kept_lines: int = 3,
             min_words_per_line: int = 5) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2, the other
    canonical public corpus-cleaning recipe next to Gopher's): line-
    level filters compose a cleaned document, then document-level
    drops.

    Line keeps (all must hold): ends in terminal punctuation
    (. ! ? ") after right-trim; at least `min_words_per_line`
    whitespace words; does not mention javascript (case-insensitive —
    the boilerplate-warning line killer).

    Document drops: fewer than `min_kept_lines` surviving lines (the
    paper's three-sentence minimum, approximated at line grain —
    terminal-punctuated lines ≈ sentences in web text; documented
    approximation); contains "lorem ipsum" (lowercased); contains a
    curly brace (code leakage).

    Returns (doc_id, clean_text = kept lines joined by newline,
    n_lines_in, n_lines_kept, has_lorem, has_brace, kept). Pure
    row-local array expressions — one projection over the corpus scan,
    no shuffle, no UDF; at 100 TB this is a map-only pass whose output
    feeds the quality/dedup stages."""
    txt = F.col(text_col)
    lines = F.filter(F.split(txt, "\n"), lambda ln: F.trim(ln) != "")

    def line_ok(ln):
        r = F.rtrim(ln)
        terminal = F.substring(r, -1, 1).isin(".", "!", "?", "\"")
        words = F.size(F.filter(F.split(ln, r"\s+"), lambda w: w != ""))
        no_js = ~F.lower(ln).contains("javascript")
        return terminal & (words >= min_words_per_line) & no_js

    kept_lines = F.filter(lines, line_ok)
    has_lorem = F.lower(txt).contains("lorem ipsum")
    has_brace = txt.contains("{") | txt.contains("}")
    n_kept = F.size(kept_lines)
    kept = (n_kept >= min_kept_lines) & ~has_lorem & ~has_brace
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(kept_lines, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines_in"),
        n_kept.cast("long").alias("n_lines_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        F.coalesce(kept, F.lit(False)).alias("kept"))
